package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic transcript derivation — maps the driver's `documents`
  * parquet onto the `input_hint` transcript shape
  * `(conv_id, turn_idx, role, text, tool, ts)` with the FIXTURES.md §4
  * payload-class mix. Pure Catalyst expressions (whole-stage codegen, no
  * UDFs), so the exact same derivation is expressible in the DuckDB oracle
  * SQL — every step below has a one-to-one ANSI-SQL equivalent.
  *
  * Payload classes by `doc_id % 10` (FIXTURES.md §4 mix):
  *   0..3  html/tesseract (40%): plain, psm 6, swt(darkOnLight=0) chain, psm 0 (error)
  *   4..5  mock (stringy + int enum form w/ doc_type+time_out)  (20%)
  *   6     plain text, empty tool (engine = Go zero value = tesseract) (10%)
  *   7..8  base64 payloads for sandwich: embedded PDF, embedded TIFF (20%)
  *   9     error-inducing: sandwich with a non-PDF/TIFF payload (10%)
  */
object Transcripts {

  val Conversations = 50

  /** Canonical (unchunked) standard base64 of a column. Spark's `base64`
    * can emit MIME-chunked output (76-char lines joined by \r\n) depending
    * on `spark.sql.chunkBase64String`; stripping the line breaks yields the
    * canonical encoding regardless of session conf — matching
    * `base64.StdEncoding` (`/root/reference/ocr_request.go:43`) and
    * java.util.Base64.
    */
  def base64Std(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(base64(c.cast("binary")), lit("[\\r\\n]"), lit(""))

  /** The HTML boilerplate template wrapped around each document's text for
    * the tesseract-analog classes.
    */
  def htmlWrap(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("<html><head><title>Doc</title></head><body>" +
        "<nav>Home | <a href=\"/about\">About</a></nav><div id=\"main\"><p>"),
      text,
      lit("</p></div><footer>(c) 2026 corpus</footer></body></html>")
    )

  /** Minimal single-stream PDF carrying `text` — columnar twin of
    * `graft.core.Pdf.synthesize` (same operator subset; parsed by the same
    * reader).
    */
  def pdfWrap(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val esc = regexp_replace(
      regexp_replace(regexp_replace(text, lit("\\\\"), lit("\\\\\\\\")), lit("\\("), lit("\\\\(")),
      lit("\\)"), lit("\\\\)"))
    val stream = concat(lit("BT /F1 12 Tf 72 720 Td ("), esc, lit(") Tj ET"))
    concat(
      lit("%PDF-1.4\n1 0 obj << /Length "), length(stream), lit(" >> stream\n"),
      stream, lit("\nendstream\n%%EOF\n"))
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Deterministically amplified corpus for throughput runs: `factor`
    * replicas of the derived transcripts, each under a distinct conv_id
    * namespace (stand-in for the 10^12-turn table — same row shape, same
    * payload-class mix, conv_id cardinality scales with the data).
    *
    * Generation parallelism: the REPLICA axis is the stream side
    * (`spark.range(factor)` pre-split into `parts` partitions) and the small
    * base corpus is broadcast — so generating N× data uses all cores instead
    * of inheriting the base parquet's single input split.
    */
  def amplified(spark: SparkSession, sfDir: String, factor: Int, parts: Int = 0): DataFrame =
    if (factor <= 1) fromDocuments(spark, sfDir)
    else {
      val p = if (parts > 0) parts
        else spark.conf.get("spark.sql.shuffle.partitions").toInt
      spark.range(0L, factor.toLong, 1L, p)
        .select(col("id").as("rep"))
        .join(broadcast(fromDocuments(spark, sfDir)))
        .withColumn("conv_id", concat(col("conv_id"), lit("-"), col("rep")))
        .drop("rep")
    }

  /** Derive the transcript table from `documents`. */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val doc = documents(spark, sfDir)
    val cls = pmod(col("doc_id"), lit(10))
    val text = col("text")
    val b64pdf = base64Std(pdfWrap(text))
    val b64tiff = base64Std(concat(lit("II*"), expr("char(0)"), text))
    val b64garbage = base64Std(concat(lit("garbage:"), text))

    doc.select(
      concat(lit("conv-"), lpad(pmod(col("doc_id"), lit(Conversations)).cast("string"), 4, "0"))
        .as("conv_id"),
      expr(s"CAST(doc_id DIV $Conversations AS INT)").as("turn_idx"),
      when(pmod(col("doc_id"), lit(3)) === 0, "user")
        .when(pmod(col("doc_id"), lit(3)) === 1, "assistant")
        .otherwise("tool").as("role"),
      when(cls <= 3, htmlWrap(text)).otherwise(text).as("text"),
      when(cls === 0, lit("""{"engine":"tesseract"}"""))
        .when(cls === 1, lit("""{"engine":"tesseract","engine_args":{"psm":"6","lang":"eng"}}"""))
        .when(cls === 2, lit(
          """{"engine":"tesseract","preprocessors":["stroke-width-transform"],"preprocessor-args":{"stroke-width-transform":"0"}}"""))
        .when(cls === 3, lit("""{"engine":"tesseract","engine_args":{"psm":"0"}}"""))
        .when(cls === 4, lit("""{"engine":"mock"}"""))
        .when(cls === 5, lit("""{"engine":3,"doc_type":"standard","time_out":60}"""))
        .when(cls === 6, lit(""))
        .when(cls === 7, concat(lit("""{"engine":"sandwich","img_base64":""""), b64pdf,
          lit("""","engine_args":{"ocr_type":"txt"}}""")))
        .when(cls === 8, concat(lit("""{"engine":"SANDWICH","img_base64":""""), b64tiff,
          lit("""","engine_args":{"ocr_type":"TXT","lang":"deu"}}""")))
        .otherwise(concat(lit("""{"engine":"sandwich","img_base64":""""), b64garbage,
          lit("""","engine_args":{"ocr_type":"txt"}}""")))
        .as("tool"),
      timestamp_seconds(col("doc_id")).as("ts")
    )
  }

  /** Per-conversation datasheet over the transcripts table — the
    * conversational analog of the per-source corpus datasheet: turn count,
    * role mix, turn-index range, and wall-clock span per `conv_id`. At
    * 10^12 turns this is the natural pre-aggregation before conv-level
    * curation (drop single-turn conversations, cap runaway agent loops,
    * stratify by tool share): ONE partial-agg groupBy keyed by conv_id —
    * map-side combine collapses each scan split to its distinct
    * conversations before the shuffle.
    */
  def convStats(t: DataFrame): DataFrame =
    t.groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
      sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
      sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool"),
      min(col("turn_idx")).cast("int").as("first_turn"),
      max(col("turn_idx")).cast("int").as("last_turn"),
      (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
        .cast("long").as("span_sec"))

  /** Injected conversation anomalies for [[convFilter]] (the
    * [[graft.operators.Dedup.withInjectedDups]] precedent — deterministic
    * positives so the filter rules have guaranteed work at every scale):
    *   - SOLO conversations: every turn with `turn_idx % 7 = 3` also
    *     becomes its own single-turn conversation (`solo-<conv>-<idx>`);
    *   - runaway agent LOOPS: every turn with `turn_idx % 5 = 1` is
    *     replayed into an all-tool conversation (`loop-<conv>`), whose
    *     tool share is 1.0 by construction.
    * Pure narrow unions — SQL-twin-exact.
    */
  def withInjectedConvAnomalies(t: DataFrame): DataFrame = {
    val base = t.select(col("conv_id"), col("turn_idx"), col("role"))
    base
      .unionAll(base.filter(pmod(col("turn_idx"), lit(7)) === 3)
        .select(concat(lit("solo-"), col("conv_id"), lit("-"), col("turn_idx")).as("conv_id"),
          lit(0).cast("int").as("turn_idx"), col("role")))
      .unionAll(base.filter(pmod(col("turn_idx"), lit(5)) === 1)
        .select(concat(lit("loop-"), col("conv_id")).as("conv_id"),
          col("turn_idx"), lit("tool").as("role")))
  }

  /** Turn cap for runaway conversations in [[convCap]]. */
  val convCapTurns = 4

  /** Tool share above which a conversation is a runaway agent loop. */
  val runawayToolShare = 0.8

  /** Fewest turns a conversation needs to survive [[convFilter]]. */
  val convMinTurns = 2

  /** Runaway-loop CAPPING — the gentler sibling of [[convFilter]]'s drop
    * rule (the third verb in [[convStats]]' charter: drop / CAP /
    * stratify): a conversation whose tool share exceeds [[runawayToolShare]]
    * is an agent stuck in a call loop — instead of losing it entirely,
    * keep its FIRST [[convCapTurns]] turns (by turn_idx: the pre-loop context
    * is the valuable part) and mark it `runaway`. Healthy conversations
    * pass through untouched. Plan: one partial-agg groupBy(conv_id)
    * builds the tiny verdict table, which BROADCASTS back onto the turns
    * (no corpus shuffle for the join); the corpus pays exactly ONE
    * Exchange — the conv_id hash partitioning the row_number window
    * needs — and a conversation's turns always fit one partition, at
    * 10^12 turns as here.
    */
  def convCap(t: DataFrame): DataFrame = {
    val verdict = t.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool"))
      .select(col("conv_id"),
        (col("n_tool").cast("double") / col("n_turns").cast("double")
          > runawayToolShare).as("runaway"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy(col("turn_idx"), col("role"))
    t.select(col("conv_id"), col("turn_idx"), col("role"))
      .join(verdict, Seq("conv_id"))
      .withColumn("rn", row_number().over(w))
      .filter(!col("runaway") || col("rn") <= convCapTurns)
      .drop("rn")
  }

  /** The transcript key/role derivation over `documents` WITHOUT the
    * payload-class text wrapping — raw document text as the turn text.
    * This is the post-extraction shape ([[fromDocuments]] feeds the
    * extraction pipeline; its OUTPUT — clean per-turn text — is what the
    * training-side operators consume), and the SQL-twin derivation stays
    * three expressions instead of replaying the whole payload mix.
    */
  def rawTurns(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).select(
      concat(lit("conv-"), lpad(pmod(col("doc_id"), lit(Conversations)).cast("string"), 4, "0"))
        .as("conv_id"),
      expr(s"CAST(doc_id DIV $Conversations AS INT)").as("turn_idx"),
      when(pmod(col("doc_id"), lit(3)) === 0, "user")
        .when(pmod(col("doc_id"), lit(3)) === 1, "assistant")
        .otherwise("tool").as("role"),
      col("text"))

  /** One turn in chat-template form: `<|role|>\ntext\n` — the
    * role-delimited rendering every SFT/chat fine-tune flattens its
    * conversations into before tokenization. A pure codegen'd concat.
    */
  def renderTurn(role: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<|"), role, lit("|>\n"), text, lit("\n"))

  /** Chat-template RENDERING — flatten each conversation into ONE
    * training sample: turns rendered via [[renderTurn]] and concatenated
    * in `turn_idx` order, with the loss-mask accounting every SFT
    * pipeline needs (`trainable_chars` = chars inside assistant spans —
    * the only spans a chat fine-tune computes loss on; `total_chars` =
    * the full sample length; the per-span offsets live in [[convSpans]]).
    *
    * Plan shape: ONE partial-agg groupBy(conv_id) — `collect_list`
    * aggregates partially map-side (ObjectHashAggregate), the ordered
    * concatenation is an expression OVER the aggregate (array_sort by
    * the embedded turn_idx, then join), so per-group state is O(turns in
    * one conversation) — bounded by the conv-cap curation upstream
    * ([[convCap]]), never corpus-scale. At 10^12 turns this is one
    * shuffle of (conv_id, partial turn lists) and nothing else.
    */
  def convRender(t: DataFrame): DataFrame = {
    val r = renderTurn(col("role"), col("text"))
    t.select(col("conv_id"), col("turn_idx"), col("role"), r.as("r"))
      .groupBy("conv_id")
      .agg(
        count(lit(1)).cast("long").as("n_turns"),
        array_join(
          transform(array_sort(collect_list(struct(col("turn_idx"), col("r")))),
            x => x.getField("r")),
          "").as("sample"),
        sum(when(col("role") === "assistant", length(col("r")).cast("long"))
          .otherwise(0L)).as("trainable_chars"),
        sum(length(col("r")).cast("long")).as("total_chars"))
  }

  /** Loss-mask SPAN OFFSETS for [[convRender]]'s samples: for every turn,
    * the half-open char range `[start_char, end_char)` its rendered form
    * occupies inside the conversation's flattened sample, and whether the
    * span is `trainable` (assistant turns only — the chat-SFT loss mask).
    * The coherence law `substring(sample, start_char, len) == rendered
    * turn` is spec-pinned against [[convRender]].
    *
    * Plan shape: one running-sum window partitioned by conv_id ordered by
    * turn_idx — the SAME (conv_id) hash partitioning [[convRender]]'s
    * groupBy uses, so a composed render+spans job pays the Exchange once
    * (exchange reuse). A conversation's turns always fit one partition
    * (conv-cap bounded), so the window never spills.
    */
  def convSpans(t: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy("turn_idx")
    t.select(col("conv_id"), col("turn_idx"), col("role"),
        length(renderTurn(col("role"), col("text"))).cast("long").as("len"))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        (sum(col("len")).over(w) - col("len")).as("start_char"),
        sum(col("len")).over(w).as("end_char"),
        (col("role") === "assistant").as("trainable"))
  }

  /** Shard count / per-context char budget for [[convSftPack]]. */
  val sftShards = 8
  val sftCharBudget = 8192L

  /** SFT batch prep END TO END: render each conversation
    * ([[convRender]]) and pack the flattened samples into fixed-size
    * training contexts by shard-local prefix sum — the
    * [[graft.operators.Packing.packContexts]] shape over conversations
    * (no global order: shard = salted hash of conv_id, within-shard
    * prefix sums are per-shard windows that fit one task each; at 10^12
    * turns raise [[sftShards]], nothing else changes). Char-budgeted
    * (`total_chars` from the render — the tokenizer-independent proxy);
    * `trainable_chars` rides along so downstream loss masking knows each
    * context's supervised fraction. Two Exchanges total: the render's
    * groupBy(conv_id) and the shard repartition the window needs.
    */
  def convSftPack(t: DataFrame): DataFrame = {
    val shard = pmod(
      expr("CAST(conv(substring(md5(conv_id), 1, 2), 16, 10) AS INT)"),
      lit(sftShards)).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("conv_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    convRender(t)
      .select(col("conv_id"), shard.as("shard"),
        col("total_chars"), col("trainable_chars"))
      .withColumn("prev_cum", coalesce(sum(col("total_chars")).over(w), lit(0L)))
      .select(col("conv_id"), col("shard"), col("total_chars"),
        col("trainable_chars"),
        expr(s"prev_cum div $sftCharBudget").cast("long").as("pack_id"),
        (col("prev_cum") % lit(sftCharBudget)).cast("long").as("pack_offset"))
  }

  /** Chat-PROTOCOL validation — the fourth verb of the conv-curation
    * charter (drop / cap / stratify / VALIDATE): an SFT sample is only
    * usable if the conversation is well-formed, so per conversation this
    * checks (1) it OPENS with a user turn, (2) it CLOSES with an
    * assistant turn (the span the loss trains on), and (3) no
    * consecutive same-role user or assistant turns (tool chains are
    * legitimate — an agent may call tools repeatedly; doubled user or
    * assistant turns mean a lost message). Output one verdict row per
    * conversation `(conv_id, n_turns, starts_user, ends_assistant,
    * n_role_repeats, valid)`.
    *
    * Plan shape: one `lag` window on (conv_id, turn_idx) feeding a
    * groupBy on the SAME conv_id partitioning — the Exchange is paid
    * once (reuse), and a conversation's turns fit one partition
    * ([[convCap]] bounds them upstream).
    */
  def convProtocol(t: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy("turn_idx")
    t.select(col("conv_id"), col("turn_idx"), col("role"))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .groupBy("conv_id")
      .agg(
        count(lit(1)).cast("long").as("n_turns"),
        (min(struct(col("turn_idx"), col("role"))).getField("role") === "user")
          .as("starts_user"),
        (max(struct(col("turn_idx"), col("role"))).getField("role") === "assistant")
          .as("ends_assistant"),
        sum(when(col("role") === col("prev_role")
          && col("role").isin("user", "assistant"), 1L).otherwise(0L))
          .as("n_role_repeats"))
      .withColumn("valid",
        col("starts_user") && col("ends_assistant") && col("n_role_repeats") === 0L)
  }

  /** Conversation-level curation — the follow-on [[convStats]] exists for:
    *   1. drop SINGLE-TURN conversations (< [[convMinTurns]] turns carry
    *      no conversational signal);
    *   2. drop runaway AGENT LOOPS (tool share above `maxToolShare`,
    *      by default [[runawayToolShare]]: a conversation that is almost
    *      all tool traffic is an agent stuck in a call loop, not dialogue);
    *   3. STRATIFY survivors by tool share (`low` < 0.25 <= `mid` < 0.5
    *      <= `high`) — the mixture key downstream samplers balance on.
    * Plan shape: ONE partial-agg groupBy(conv_id) builds the per-conv
    * keep-set (tiny: one row per conversation), then one equi-join back
    * to the turns — the semi-join-with-payload form; no window, no
    * second corpus shuffle. At 10^12 turns the keep-set is O(convs) and
    * the join shuffles on the same conv_id key the stats did.
    */
  def convFilter(t: DataFrame, maxToolShare: Double = runawayToolShare): DataFrame = {
    val keep = t.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool"))
      .withColumn("tool_share",
        col("n_tool").cast("double") / col("n_turns").cast("double"))
      .filter(col("n_turns") >= convMinTurns && col("tool_share") <= maxToolShare)
      .select(col("conv_id"),
        when(col("tool_share") < 0.25, "low")
          .when(col("tool_share") < 0.5, "mid")
          .otherwise("high").as("stratum"))
    t.select(col("conv_id"), col("turn_idx"), col("role"))
      .join(keep, Seq("conv_id"))
  }
}
