package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines over the
  * `documents` table: token counting, quality scoring, language-ID, and
  * document fingerprinting. All pure Catalyst expressions (codegen'd, no
  * UDFs) so they run at 100 TB scale as narrow map stages with pushdown and
  * pruning intact — and each has a one-to-one DuckDB-SQL twin for the oracle.
  */
object TextAnalysis {

  /** Whitespace tokenization (the corpus is single-spaced; a BPE-ish regex
    * split would be `split(text, "(?=[^a-z])|\\s+")` — kept simple and
    * oracle-parity-safe here).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword pre-tokenization: letter runs, digit runs, and single
    * punctuation marks each count as one token (the GPT-2-style pre-tokenizer
    * shape, reduced to an oracle-exact regex).
    */
  val subtokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenCounts(doc: DataFrame): DataFrame =
    doc.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("int").as("n_tokens"),
      regexp_count(col("text"), lit(subtokenPattern)).cast("int").as("n_subtokens"),
      length(col("text")).cast("int").as("n_chars"))

  /** Quality signals: stopword ratio, mean token length, unique-token ratio.
    * Heuristics in the C4/Gopher-rules tradition, reduced to the signals our
    * corpus can exercise.
    */
  def quality(doc: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("double")
    val stop = graft.spark.HashFunctions.tokenSetCount(col("text"), Seq("the", "a"))
      .cast("double")
    val uniq = size(array_distinct(t)).cast("double")
    val meanLen = (length(col("text")).cast("double") - (n - lit(1.0))) / n
    doc.select(
      col("doc_id"),
      round(stop / n, 4).as("stopword_ratio"),
      round(meanLen, 4).as("mean_token_len"),
      round(uniq / n, 4).as("uniq_ratio"))
  }

  /** Stopword lists per language for the n-gram/stopword language-ID
    * heuristic.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "des", "un"))

  /** Per-language stopword-hit scores over the `text` column — exposed so
    * composed pipelines can reuse the predictor inline.
    */
  def langScores: Seq[(String, Column)] = langStopwords.map { case (lang, words) =>
    val inList = words.map(w => s"'$w'").mkString(", ")
    lang -> expr(s"size(filter(split(text, ' '), x -> x IN ($inList)))").cast("int")
  }

  /** Winner-take-first language prediction (ties to [[langStopwords]]
    * order; all-zero -> "und") as a reusable Column over `text` — routed
    * through the native one-pass [[graft.spark.LangKernel.langPredict]]
    * kernel: the HOF form (its test-only twin lives in `HofRefs`)
    * is built from interpreted `filter(split(...))` lambdas that Catalyst
    * CANNOT subexpression-eliminate (HOFs are CSE-excluded), so every
    * when-branch and every downstream when-chain referencing the alias
    * re-walked the token array — up to ~150 interpreted traversals per row
    * in [[Sampling.upweight]]-shaped consumers.
    */
  def langPredicted: Column = graft.spark.HashFunctions.langPredict(col("text"))

  /** Language-ID: count stopword hits per language; winner is the first
    * language (in [[langStopwords]] order) with the maximal score; all-zero
    * -> "und".
    */
  def langId(doc: DataFrame): DataFrame =
    doc.select(
      (col("doc_id") +: langScores.map { case (l, c) => c.as(s"c_$l") } :+
        langPredicted.as("predicted")): _*)

  /** Polynomial rolling hash (Karp-Rabin form): h = (h*31 + code) mod 2^31-1
    * over the character codes, routed through the native one-pass
    * [[graft.spark.RollingHashKernel.rollingHash]] kernel (the HOF form evaluated an
    * interpreted lambda + a substring PER CHARACTER — the per-document
    * fingerprint hot loop at 100 TB). Bit-identical to the interpreted
    * `aggregate(transform(sequence(...), i -> ascii(substr(i,1))))` chain
    * (pinned by a parity spec) and to the DuckDB twin. At scale this is the
    * incremental-fingerprint primitive (extendable per-chunk without
    * re-reading the document).
    */
  def rollingHash(text: Column): Column =
    graft.spark.HashFunctions.rollingHash(text)

  /** Document fingerprint: md5 of the whitespace-normalized text plus the
    * rolling hash (the cheap incremental variant; the shingled form is in
    * [[Dedup.minhashSignature]]).
    */
  def fingerprint(doc: DataFrame): DataFrame =
    doc.select(
      col("doc_id"),
      md5(regexp_replace(col("text"), " ", "")).as("fp"),
      rollingHash(col("text")).cast("long").as("rolling_fp"),
      length(regexp_replace(col("text"), " ", "")).cast("int").as("n_chars_norm"))

  /** Repetition signal (Gopher-rules tradition): the fraction of a
    * document's word-3-grams that are repeats of an earlier 3-gram —
    * boilerplate/templated text scores high and is filtered before
    * training. Pure narrow map: the total 3-gram count is just
    * max(n_tokens - 2, 0), so only the DISTINCT shingle set (the native
    * one-pass [[Dedup.shingles]] kernel) is materialized.
    */
  /** (n_grams, n_distinct, dup_gram_ratio) expressions over `text` —
    * ONE definition feeding both [[repetition]] and [[qualityFunnel]], so
    * the funnel's stage can never drift from the standalone signal (the
    * intersection invariant the funnel spec pins).
    */
  private def repetitionExprs: (Column, Column, Column) = {
    val n = size(tokens(col("text")))
    val total = greatest(n - lit(2), lit(0))
    val distinctN = when(total === 0, 0)
      .otherwise(size(Dedup.shingles(col("text"))))
    val ratio = when(total === 0, 0.0)
      .otherwise(round(lit(1.0) - distinctN.cast("double") / total.cast("double"), 4))
    (total, distinctN, ratio)
  }

  def repetition(doc: DataFrame): DataFrame = {
    val (total, distinctN, ratio) = repetitionExprs
    doc.select(
      col("doc_id"),
      total.cast("int").as("n_grams"),
      distinctN.cast("int").as("n_distinct"),
      ratio.as("dup_gram_ratio"))
  }

  /** PII patterns for [[scrubPii]] — restricted to character classes,
    * counted quantifiers, and disjoint alternatives, which Java regex
    * (Spark) and RE2 (DuckDB) interpret identically, so the oracle twin is
    * exact. Coverage: mixed-case and `+tag` locals, hyphenated domains,
    * multi-label TLDs for emails; `ddd-ddd-dddd` and `(ddd) ddd-dddd`
    * phone forms (the alternatives can never match at the same position,
    * so Java's ordered and RE2's leftmost-longest alternation agree).
    */
  val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phonePattern = "(\\([0-9]{3}\\) |[0-9]{3}-)[0-9]{3}-[0-9]{4}"

  /** The PII-injected corpus: every 7th document gains a doc_id-derived
    * email, every 13th a mixed-case `+tag` email on a hyphenated domain,
    * every 11th a dashed phone number, every 17th a parenthesized one —
    * deterministic guaranteed positives covering every pattern variant
    * (the [[Dedup.withInjectedDups]] pattern).
    */
  def withInjectedPii(doc: DataFrame): DataFrame = {
    val e1 = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(col("text"), lit(" contact bob."), col("doc_id").cast("string"),
        lit("@mail.example.com asap"))).otherwise(col("text"))
    val e2 = when(pmod(col("doc_id"), lit(13)) === 0,
      concat(e1, lit(" or Bob.Roe+"), col("doc_id").cast("string"),
        lit("@Mail-Host.Example.COM too"))).otherwise(e1)
    val p1 = when(pmod(col("doc_id"), lit(11)) === 0,
      concat(e2, lit(" call 555-123-4567 now"))).otherwise(e2)
    val p2 = when(pmod(col("doc_id"), lit(17)) === 0,
      concat(p1, lit(" or (555) 987-6543 maybe"))).otherwise(p1)
    doc.select(col("doc_id"), p2.as("text"))
  }

  /** PII scrubbing: redact emails and phone numbers to typed placeholder
    * tokens — the privacy-hygiene pass training corpora run before
    * tokenization. A PURE NARROW MAP (codegen'd regexes, no shuffle,
    * plan-pinned); emits per-doc redaction counts so corpus-level PII
    * rates are one aggregation away.
    */
  /** The redaction itself — exposed so specs can tie their residual
    * checks to the operator's actual expression instead of a re-derived
    * copy.
    */
  def scrubExpr(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  def scrubPii(doc: DataFrame): DataFrame = {
    val scrubbed = scrubExpr(col("text"))
    withInjectedPii(doc).select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailPattern)).cast("int").as("n_emails"),
      regexp_count(col("text"), lit(phonePattern)).cast("int").as("n_phones"),
      md5(scrubbed).as("scrubbed_fp"),
      length(scrubbed).cast("int").as("n_chars_scrubbed"))
  }

  /** Vocabulary size for [[lmScore]] — the top-K corpus tokens kept
    * in-vocabulary (everything else is OOV).
    */
  val lmVocabSize = 100

  /** Corpus-frequency language-model scoring — the CCNet/KenLM-style
    * "does this document look like the corpus" filter in integer-exact
    * miniature: build the corpus's top-[[lmVocabSize]] token vocabulary
    * (count desc, token asc tiebreak — a total order both engines agree
    * on), then score each document by its OOV-token count and the mean
    * corpus frequency of its in-vocabulary tokens. Gibberish and
    * out-of-domain text scores high-OOV / low-frequency and is filtered
    * before training. All signals are ratios of integers, so the DuckDB
    * twin is exact (the float-log perplexity form would make the oracle
    * hash hostage to double summation order).
    *
    * Scale shape: the vocabulary is ONE map-side-combined groupBy over
    * exploded tokens (partial counts per token — the classic word-count
    * shuffle, bounded by distinct-token cardinality per partition) +
    * a driver-side top-K (vocabSize rows); scoring is then a BROADCAST
    * hash join of the fixed-size vocab against exploded tokens and one
    * partial-agg groupBy(doc_id) — no corpus-side shuffle beyond the
    * per-doc re-agg, and the vocab side is bounded by K, never by data.
    */
  def lmScore(doc: DataFrame, vocabSize: Int = lmVocabSize): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, sum => fsum}
    val tok = doc.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val vocab = tok.orderBy(col("cnt").desc, col("token")).limit(vocabSize)
    val scored = doc
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        fsum(when(col("cnt").isNull, 1L).otherwise(0L)).cast("int").as("n_oov"),
        fsum(coalesce(col("cnt"), lit(0L))).cast("long").as("sum_freq"))
    scored.select(
      col("doc_id"), col("n_tokens"), col("n_oov"), col("sum_freq"),
      when(col("n_tokens") === col("n_oov"), 0.0)
        .otherwise(round(col("sum_freq").cast("double") /
          (col("n_tokens") - col("n_oov")).cast("double"), 4))
        .as("mean_invocab_freq"))
  }

  /** Documents under this many tokens count as "short" in [[corpusStats]]. */
  val shortDocTokens = 30

  /** Per-(source, language) corpus DATASHEET — the composition report every
    * corpus release ships (docs, tokens, chars, mean length, short-doc
    * count per cell). ONE map-side-combined groupBy; every signal is an
    * integer or a ratio of integers (oracle-exact).
    */
  def corpusStats(doc: DataFrame): DataFrame = {
    val n = size(tokens(col("text")))
    doc
      .select(col("source"), langPredicted.as("predicted"),
        n.cast("long").as("n_tokens"), length(col("text")).cast("long").as("n_chars"))
      .groupBy("source", "predicted")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("mean_tokens"),
        sum(when(col("n_tokens") < shortDocTokens, 1L).otherwise(0L)).as("n_short"))
  }

  /** Per-source length QUANTILES — the distributional half of
    * [[corpusStats]]' datasheet (means hide the tail; releases report
    * p25/p50/p75 doc lengths per source). Uses Spark's EXACT `percentile`
    * aggregate: token counts are small integers and the percentages are
    * dyadic (1/4, 1/2, 3/4), so the linear interpolation is exact in
    * float64 on BOTH engines — DuckDB's `quantile_cont` matches
    * bit-for-bit despite the different interpolation formula (every
    * intermediate is exactly representable). One groupBy(source); the
    * exact percentile sorts WITHIN each group (bounded by the largest
    * source at this scale — a 10^12-doc source switches to
    * `approx_percentile` with a documented error bound, same plan shape).
    */
  def sourceQuantiles(doc: DataFrame): DataFrame =
    doc.select(col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        percentile(col("n_tokens"), lit(0.25)).as("p25_tokens"),
        percentile(col("n_tokens"), lit(0.5)).as("p50_tokens"),
        percentile(col("n_tokens"), lit(0.75)).as("p75_tokens"))

  /** Blocklist filtering in the C4 tradition (Raffel et al. 2020 drop any
    * page containing a "bad words" list hit; RefinedWeb/CCNet block at the
    * source/domain level): a document is kept iff its source is not
    * blocked AND no token matches the term blocklist. Both lists ship as
    * PLAN LITERALS, so the whole pass is a pure narrow map (zero Exchange,
    * scan-speed, composable with every other per-doc filter) — term lists
    * are small (C4's is ~400 entries); a multi-million-entry URL/domain
    * blocklist would become a broadcast join on a normalized domain
    * column instead. Occurrences are COUNTED (not just flagged) so the
    * downstream datasheet can report how much each blocklist removes.
    */
  val blockedTerms = Seq("slow", "crash", "deadlock")
  val blockedSources = Seq("src7", "src13")

  /** Blocked-term occurrence count over `text` — shared by [[blocklist]]
    * and [[qualityFunnel]].
    */
  private def blockedTermCount: Column =
    graft.spark.HashFunctions.tokenSetCount(col("text"), blockedTerms)

  /** The keep predicate over (`source`, a blocked-term count column). */
  private def blocklistKeep(nBlocked: Column): Column =
    !col("source").isInCollection(blockedSources) && nBlocked === 0

  def blocklist(doc: DataFrame): DataFrame =
    doc.select(col("doc_id"), col("source"),
        blockedTermCount.cast("int").as("n_blocked_terms"))
      .select(col("doc_id"), col("source"), col("n_blocked_terms"),
        blocklistKeep(col("n_blocked_terms")).as("keep"))

  /** Hash-bucket count for [[classifierScore]]'s feature table. */
  val classifierBuckets = 64

  /** Constant weight of feature bucket `i` — splitmix64-mixed into
    * [-8, 7], inlined as a literal table into both the Spark plan and the
    * DuckDB twin (the generator needs no SQL form, only its output does —
    * the [[Dedup.nearDupSign]] convention).
    */
  def classifierWeight(i: Int): Int = {
    var z = i.toLong * 0x9E3779B97F4A7C15L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    ((z & 15L) - 8L).toInt
  }

  /** Hashed-feature linear quality classifier — the fastText/CCNet-style
    * learned quality filter (GPT-3's "similarity to high-quality corpora"
    * logistic regression tradition) in integer-exact miniature: score(doc)
    * = sum over tokens of `w[md5_16(token) mod B]` with a fixed
    * [[classifierWeight]] table; keep = score >= 0. A trained model drops
    * in by replacing the weight table — the EXECUTION shape (hash token,
    * look up weight, sum, threshold: a pure narrow map over the corpus) is
    * what this operator pins. Integer weights keep the DuckDB twin exact;
    * the float dot-product form would hold the oracle hash hostage to
    * summation order. Token hash = first 4 hex chars of md5 (the simhash
    * convention).
    */
  /** The classifier's score expression over the `text` column — shared by
    * [[classifierScore]] and [[qualityFunnel]].
    */
  private def classifierScoreExpr: Column =
    graft.spark.HashFunctions.classifierScore(col("text"),
      (0 until classifierBuckets).map(classifierWeight(_).toLong))

  def classifierScore(doc: DataFrame): DataFrame = {
    val score = classifierScoreExpr
    doc.select(col("doc_id"),
      size(split(col("text"), " ")).cast("int").as("n_tokens"),
      score.cast("int").as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score") >= 0).as("keep"))
  }

  /** Hash bucket of one token column — [[classifierScoreExpr]]'s feature
    * hash (first 4 md5 hex chars mod B, the simhash convention) in Column
    * form, for the exploded-token shape training needs.
    */
  private[graft] def classifierBucket(t: Column): Column =
    pmod(conv(substring(md5(t), 1, 4), 16, 10).cast("int"),
      lit(classifierBuckets)).cast("int")

  /** TRAINED hashed-feature classifier weights — the loop
    * [[classifierScore]]'s scaladoc promises ("a trained model drops in by
    * replacing the weight table"), closed the way the k-means loop was:
    * DISTILL the rule-based blocklist verdict into per-bucket integer
    * weights (training a cheap hashed linear scorer on membership labels
    * is the GPT-3/CCNet quality-classifier pattern — label by
    * reference-vs-crawl, learn the scalable scorer). For bucket `b` with
    * token-occurrence counts `n_pos/n_neg` under the positive/negative
    * label and corpus totals `T_pos/T_neg`, the weight is the exact
    * integer cross-difference
    *     `w(b) = n_pos(b) * T_neg - n_neg(b) * T_pos`
    * — positive iff the bucket is relatively MORE frequent in the positive
    * corpus: the sign and ordering of the log-odds ratio without the
    * transcendental `log` that would hold the DuckDB twin hostage to ulp
    * divergence. Plan: ONE corpus scan — explode tokens -> groupBy(bucket)
    * with map-side partial agg over <= B keys -> B rows to the driver;
    * totals derive from the collected table. At trillion-token scale the
    * cross-products overflow int64 — there, divide both totals by a
    * common 2^k first (sign and ordering survive); the execution shape
    * (one tiny-key groupBy + a B-row collect) is what this operator pins.
    */
  def trainClassifier(doc: DataFrame): Array[(Int, Long, Long, Long)] = {
    val counts = doc
      .select(blocklistKeep(blockedTermCount).as("pos"),
        explode(graft.spark.HashFunctions.classifierBuckets(
          col("text"), classifierBuckets)).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val tPos = counts.map(_._2).sum
    val tNeg = counts.map(_._3).sum
    counts.map { case (b, np, nn) => (b, np, nn, np * tNeg - nn * tPos) }
  }

  /** [[trainClassifier]]'s weight table as a queryable artifact
    * `(bucket, n_pos, n_neg, w)` — only observed buckets appear (an
    * unseen bucket scores 0 at inference).
    */
  def classifierTrain(doc: DataFrame): DataFrame = {
    val spark = doc.sparkSession
    import spark.implicits._
    trainClassifier(doc).toSeq.toDF("bucket", "n_pos", "n_neg", "w")
      .select(col("bucket").cast("int").as("bucket"),
        col("n_pos").cast("long").as("n_pos"),
        col("n_neg").cast("long").as("n_neg"),
        col("w").cast("long").as("w"))
  }

  /** [[classifierScore]] with TRAINED weights inlined as plan literals
    * (B longs — the collected-centroids convention): the same
    * zero-Exchange narrow map as the untrained form, so swapping in a
    * trained model costs nothing in plan shape. Unseen buckets weigh 0.
    */
  def classifierScoreTrained(
      doc: DataFrame, weights: Array[(Int, Long, Long, Long)]): DataFrame = {
    val byBucket = weights.map(t => t._1 -> t._4).toMap
    val score = graft.spark.HashFunctions.classifierScore(col("text"),
      (0 until classifierBuckets).map(b => byBucket.getOrElse(b, 0L)))
    doc.select(col("doc_id"),
      size(split(col("text"), " ")).cast("int").as("n_tokens"),
      score.cast("long").as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score") >= 0).as("keep"))
  }

  /** Top-K size for [[bpePairStats]]. */
  val bpeTopK = 20

  /** Adjacent-character-pair statistics — the counts the FIRST merge of
    * byte-pair-encoding tokenizer training is chosen from (Sennrich et al.
    * 2016): explode each whitespace token into its adjacent character
    * pairs, count corpus-wide, rank (count desc, pair asc — a total order
    * both engines agree on). Training a real BPE vocabulary is this
    * operation iterated with merge-application between rounds; the
    * per-round Spark job IS this one.
    *
    * Scale shape: the explode is map-side and the key space is tiny
    * (alphabet², a few thousand keys), so partial aggregation collapses
    * the O(chars) exploded rows BEFORE the shuffle — the shuffle carries
    * ~|alphabet|² rows per task regardless of corpus size. The final
    * rank runs on the collapsed count table.
    */
  def bpePairStats(doc: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair").asc)
    doc.select(explode(graft.spark.HashFunctions.textCharPairs(col("text"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= bpeTopK)
      .select(col("rank").cast("int").as("rank"), col("pair"),
        col("n").cast("long").as("n"))
  }

  /** Merge rounds for [[bpeTrain]]. */
  val bpeTrainRounds = 3

  /** BPE tokenizer TRAINING — the iteration [[bpePairStats]]'s scaladoc
    * declares ("real vocabulary training is this job iterated with merge
    * application between rounds"), closed like the k-means loop: each
    * round counts adjacent-symbol pairs (the [[bpePairStats]] job — one
    * map-side-collapsed shuffle over a tiny key space), collects the TOP
    * pair (count desc, pair asc; ONE row to the driver), and applies the
    * merge by rewriting that two-symbol sequence to a fresh private-use-
    * area symbol (`chr(0xE000 + round)`) — a pure narrow `replace`
    * (left-to-right non-overlapping in both engines; pairs never contain
    * a space, so whole-text replace equals per-word replace). Later
    * rounds' pairs contain merged symbols — exactly BPE (Sennrich et al.
    * 2016). Per round: one corpus scan (with the previous merges applied
    * as narrow maps) + one O(alphabet²)-key shuffle + a 1-row collect;
    * at production scale each round would materialize the re-paired
    * corpus once instead of re-applying the replace chain. Output: the
    * merge table `(round, pair, n)`.
    */
  /** The merge symbol a given BPE round rewrites its pair to. */
  def bpeSymbol(round: Int): String = new String(Array((0xE000 + round).toChar))

  /** The collected merge list `(round, pair, n)` — the training loop
    * itself, shared by [[bpeTrain]] (report form) and [[bpeApply]]
    * (encoding form). One tiny-key shuffle + a 1-row collect per round.
    */
  def trainBpeMerges(doc: DataFrame, rounds: Int = bpeTrainRounds): Seq[(Int, String, Long)] = {
    var txt: Column = col("text")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (r <- 1 to rounds) {
      val top = doc.select(explode(graft.spark.HashFunctions.textCharPairs(txt)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()(0)
      merges += ((r, top.getString(0), top.getLong(1)))
      txt = replace(txt, lit(top.getString(0)), lit(bpeSymbol(r)))
    }
    merges.toSeq
  }

  def bpeTrain(doc: DataFrame, rounds: Int = bpeTrainRounds): DataFrame = {
    val spark = doc.sparkSession
    import spark.implicits._
    trainBpeMerges(doc, rounds).toDF("round", "pair", "n")
      .select(col("round").cast("int").as("round"), col("pair"),
        col("n").cast("long").as("n"))
  }

  /** BPE ENCODING with the trained merges — the application half the
    * training loop exists for ("a trained tokenizer drops in"): the merge
    * list rides the plan as `replace` literals applied in round order
    * (later merges may consume earlier merge symbols — the BPE cascade),
    * so encoding is a PURE NARROW MAP over the corpus: zero Exchange
    * beyond [[trainBpeMerges]]'s own tiny-key rounds, identical at any
    * scale. Every applied merge occurrence shortens the text by exactly
    * one char, so `n_merged = n_chars - n_chars_encoded` IS the
    * occurrence count; `encoded_fp` pins the full encoded content
    * byte-for-byte against the twin.
    */
  def bpeApply(doc: DataFrame): DataFrame = {
    val encoded = trainBpeMerges(doc).foldLeft(col("text")) {
      case (t, (r, pair, _)) => replace(t, lit(pair), lit(bpeSymbol(r)))
    }
    doc.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      length(encoded).cast("long").as("n_chars_encoded"),
      (length(col("text")) - length(encoded)).cast("long").as("n_merged"),
      md5(encoded).as("encoded_fp"))
  }

  /** Repetition-ratio ceiling for [[qualityFunnel]] (the Gopher-rule
    * "duplicated n-gram fraction" threshold).
    */
  val funnelRepetitionMax = 0.2

  /** Stage table for [[qualityFunnel]] — drop attribution order. */
  val funnelStages = Seq(
    (1, "blocklist"), (2, "length"), (3, "repetition"),
    (4, "classifier"), (5, "kept"))

  /** The filter FUNNEL datasheet: apply the narrow quality rules in a fixed
    * order and attribute each dropped document to the FIRST stage that
    * rejects it — the "what did each rule cost us" report every corpus
    * release publishes alongside [[corpusStats]]. Stages: blocklist
    * (term + source), minimum length ([[shortDocTokens]]), repetition
    * (duplicated-3-gram ratio <= [[funnelRepetitionMax]]), classifier
    * (score >= 0).
    *
    * All four signals are pure narrow maps, so the funnel is ONE corpus
    * scan + one O(stages) aggregation; the running `n_remaining` column is
    * a window over the 5-row stage table, never the corpus. Output: one
    * row per stage `(stage_idx, stage, n_docs, n_remaining)` — `n_docs` is
    * the count dying at that stage (for `kept`, the survivors), and every
    * stage appears even at zero drops (left join against the literal
    * stage table).
    */
  def qualityFunnel(doc: DataFrame): DataFrame = {
    val spark = doc.sparkSession
    import spark.implicits._
    val blockOk = blocklistKeep(blockedTermCount)
    val lengthOk = size(tokens(col("text"))) >= shortDocTokens
    val (_, _, ratio) = repetitionExprs
    val death =
      when(!blockOk, 1).when(!lengthOk, 2)
        .when(!(ratio <= funnelRepetitionMax), 3)
        .when(!(classifierScoreExpr >= 0), 4)
        .otherwise(5)
    val counts = doc.select(death.as("stage_idx"))
      .groupBy("stage_idx").agg(count(lit(1)).as("n"))
    val cum = org.apache.spark.sql.expressions.Window.orderBy("stage_idx")
    funnelStages.toDF("stage_idx", "stage")
      .join(counts, Seq("stage_idx"), "left")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("n"), lit(0L)).as("n_docs"))
      .select(col("stage_idx"), col("stage"), col("n_docs"),
        (sum(col("n_docs")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()) -
          sum(when(col("stage_idx") <= 4, col("n_docs")).otherwise(0L)).over(cum))
          .cast("long").as("n_remaining"))
  }
}
