package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixture weighting: keep each
  * document with a per-stratum (here: per-language) rate, decided by a
  * salted content-free hash of the document id — the step a corpus mix
  * ("50% en, 25% fr, ...") needs between filtering and tokenization.
  *
  * Scale shape: a PURE NARROW FILTER — no shuffle, no state, pushdown and
  * pruning intact (plan-pinned), so it composes anywhere in a 100 TB
  * pipeline at scan speed. Properties the hash-threshold form gives for
  * free (both spec-pinned):
  *   - reproducible: same salt -> same sample, any cluster size, any run;
  *   - NESTED: for the same salt, a rate-r1 sample is a SUBSET of a
  *     rate-r2 sample whenever r1 <= r2 — the scaling-law ladder property
  *     (the 10% corpus is inside the 50% corpus, so loss curves are
  *     comparable);
  *   - independent across salts: a new salt draws a fresh sample.
  *
  * Everything is md5-based and oracle-exact (DuckDB twin computes the same
  * uniform from the same hash).
  */
object Sampling {

  /** Deterministic uniform in [0,1): the first 8 md5 hex chars of
    * "salt:id" as a 32-bit integer, divided by 2^32 (exact in a double —
    * the division is by a power of two, so Spark and DuckDB agree
    * bit-for-bit).
    */
  def uniformHash(salt: String, id: Column): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)

  /** The demo mixture: per-language keep rates (a real pipeline feeds its
    * mixture spec here).
    */
  val defaultRates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.75, "es" -> 1.0, "fr" -> 0.25, "und" -> 0.1)

  /** Per-row keep rate for a predicted-language column. Rates are applied
    * in sorted-key order (deterministic plan); unlisted strata default to
    * 0 (dropped) — an explicit mixture lists every stratum it wants.
    */
  def rateFor(predicted: Column, rates: Map[String, Double]): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit(0.0)) { case (acc, (lang, r)) =>
      when(predicted === lang, lit(r)).otherwise(acc)
    }

  private val guardSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Stratified Bernoulli sample of the documents table by predicted
    * language: keep iff uniformHash(salt, doc_id) < rate(language).
    * Returns (doc_id, predicted, u) for the kept rows.
    *
    * Rows whose stratum is ABSENT from `rates` are dropped by the
    * default-0 rate — documented behavior, but at 100 TB a mixture-spec
    * typo ("en-US" vs "en") would silently hole the corpus, so the count
    * of unlisted-stratum rows rides the scan as a `graft_guard_*` observed
    * metric (the [[Dedup.observeCapDrops]] pattern — zero extra pass;
    * [[Dedup.registerCapLogger]] warns on any non-zero count).
    */
  def stratifiedSample(
      doc: DataFrame,
      rates: Map[String, Double] = defaultRates,
      salt: String = "graft"
  ): DataFrame = {
    val u = uniformHash(salt, col("doc_id"))
    doc
      .select(col("doc_id"), TextAnalysis.langPredicted.as("predicted"), u.as("u"))
      .observe(s"graft_guard_sample_unlisted_${guardSeq.incrementAndGet()}",
        sum(when(not(col("predicted").isin(rates.keys.toSeq: _*)), 1L).otherwise(0L))
          .as("unlisted_rows"))
      // u = k / 2^32 is exact in a double (power-of-two divisor), so it is
      // emitted unrounded — Spark and DuckDB produce bit-identical float64s
      .filter(col("u") < rateFor(col("predicted"), rates))
  }

  /** The demo upweighting mixture: per-language replication weights (> 1
    * upsamples, < 1 downsamples — one mechanism covers both directions).
    */
  val defaultWeights: Map[String, Double] =
    Map("en" -> 1.0, "de" -> 2.5, "es" -> 1.25, "fr" -> 3.0, "und" -> 0.5)

  /** Deterministic fractional UPweighting — the other half of mixture
    * weighting ([[stratifiedSample]] covers rates <= 1): a stratum with
    * weight w contributes floor(w) copies of every document plus one more
    * iff uniformHash(salt, doc_id) < frac(w), so the expected replication
    * is exactly w and every document appears floor(w) or ceil(w) times
    * (epoch-style replication, the standard way training mixes express
    * "see German 2.5x per epoch"). Output: one row per replica
    * (doc_id, predicted, rep_idx).
    *
    * Scale shape: a PURE NARROW stage — per-row weight lookup, one
    * Bernoulli, one `explode(sequence(...))`; no shuffle, no state
    * (no-Exchange plan-pinned). Deterministic and salt-keyed like the
    * sampler; weights use power-of-two-free fractions that are exact in
    * float64, so the DuckDB twin matches bit-for-bit.
    */
  def upweight(
      doc: DataFrame,
      weights: Map[String, Double] = defaultWeights,
      salt: String = "graft-up"
  ): DataFrame = {
    val w = rateFor(col("predicted"), weights)
    val reps = (floor(w).cast("long") +
      when(uniformHash(salt, col("doc_id")) < (w - floor(w)), 1L).otherwise(0L))
      .cast("int")
    doc
      .select(col("doc_id"), TextAnalysis.langPredicted.as("predicted"))
      .withColumn("reps", reps)
      // the stratifiedSample unlisted-stratum guard, for the same reason:
      // a weights-spec typo zeroes a stratum's replication silently
      .observe(s"graft_guard_upweight_unlisted_${guardSeq.incrementAndGet()}",
        sum(when(not(col("predicted").isin(weights.keys.toSeq: _*)), 1L).otherwise(0L))
          .as("unlisted_rows"))
      // sequence(1, 0) would generate a DESCENDING ramp, not an empty
      // array — zero-replica rows must be filtered before the explode
      .filter(col("reps") > 0)
      // sequence(1, reps) over int bounds is array<int>, so rep_idx is
      // already int (a generator cannot be nested inside a cast)
      .select(col("doc_id"), col("predicted"),
        explode(expr("sequence(1, reps)")).as("rep_idx"))
  }

  /** UNIFIED-temperature mixture weights — the multilingual sampling rule
    * of mT5 (Xue et al. 2021) and XLM-R (Conneau et al. 2020): sample
    * language `l` with probability proportional to `p_l^alpha`, flattening
    * the head and boosting the tail. Expressed as per-doc REPLICATION
    * weights normalized so the LARGEST language keeps weight 1.0 (the
    * corpus never shrinks):
    *     `w_l = (n_max / n_l)^(1 - alpha)`  — sampled counts `n_l * w_l
    *     ∝ n_l^alpha` exactly.
    * Alpha is PINNED at 1/2 so the exponent is a single `sqrt`:
    * IEEE 754 requires sqrt (and division) to be correctly rounded, so
    * Java's `Math.sqrt` on the driver and the oracle engine's `sqrt` in
    * SQL produce bit-identical doubles — a general `pow` carries no such
    * guarantee and would hold the oracle hash hostage to libm. Plan: ONE
    * map-side-combined groupBy(language) and a languages-row collect (the
    * trained-centroids convention — the weight table IS a trained
    * artifact of the corpus).
    */
  def temperatureWeights(doc: DataFrame): Array[(String, Long, Double)] = {
    val counts = doc.select(TextAnalysis.langPredicted.as("predicted"))
      .groupBy("predicted").agg(count(lit(1)).as("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val nMax = counts.map(_._2).max
    counts.map { case (l, n) => (l, n, math.sqrt(nMax.toDouble / n.toDouble)) }
  }

  /** [[temperatureWeights]] as a queryable artifact
    * `(predicted, n_docs, weight)`.
    */
  def temperatureTable(doc: DataFrame): DataFrame = {
    val spark = doc.sparkSession
    import spark.implicits._
    temperatureWeights(doc).toSeq.toDF("predicted", "n_docs", "weight")
      .select(col("predicted"), col("n_docs").cast("long").as("n_docs"),
        col("weight").cast("double").as("weight"))
  }

  /** Apply [[temperatureWeights]] through the [[upweight]] replication
    * machinery (floor(w) copies + one more iff the salted uniform <
    * frac(w)) — temperature sampling IS a mixture upweighting whose
    * weights are trained from the corpus instead of hand-specified.
    */
  def temperatureUpweight(doc: DataFrame): DataFrame =
    upweight(doc, temperatureWeights(doc).map(t => t._1 -> t._3).toMap,
      salt = "graft-temp")

  /** Held-out split fractions: 90% train / 5% validation / 5% test. */
  val splitTrain = 0.90
  val splitVal = 0.95

  /** Salt of [[trainSplit]]'s uniform. */
  val splitSalt = "graft-split"

  /** Deterministic train/validation/test assignment — the hash-split every
    * training corpus needs before anything is trained on it: the SAME
    * salted uniform as [[stratifiedSample]] thresholded at
    * [[splitTrain]]/[[splitVal]]. Hash-of-id splitting (vs random) means
    * the assignment is stable under reprocessing, cluster-size-independent,
    * and new documents join a split without moving old ones — the property
    * that keeps a held-out set held out across corpus versions. Within
    * each language stratum the split fractions hold in expectation (the
    * hash is independent of content); the predicted language rides along
    * so per-stratum split audits are one groupBy away.
    *
    * Scale shape: a PURE NARROW map (no shuffle, no state, plan-pinned).
    */
  def trainSplit(doc: DataFrame): DataFrame = {
    val u = uniformHash(splitSalt, col("doc_id"))
    doc.select(
      col("doc_id"),
      TextAnalysis.langPredicted.as("predicted"),
      when(u < splitTrain, "train").when(u < splitVal, "val").otherwise("test")
        .as("split"))
  }

  /** Token budget per (stratum, shard) for [[mixtureBudget]]. */
  val budgetTokens = 600L

  /** Shards per stratum — the same parallelism knob as
    * [[Packing.packShards]], for the same reason.
    */
  val budgetShards = 16

  /** TOKEN-BUDGET mixture construction — the step that turns "x billion
    * tokens of German" into a concrete document set: within each
    * (predicted-language, shard) stratum, documents are taken in salted-
    * hash priority order until the stratum's token budget is exhausted
    * (a document crossing the budget line is KEPT — budgets are met from
    * below by whole documents, the standard convention). Returns the
    * selected rows with their running-token position (`cum_before`; the
    * priority hash itself is internal — recompute it via [[uniformHash]]
    * with the same salt to audit the order).
    *
    * Scale shape: ONE shuffle (the window partition key), and the window
    * partitions on (stratum, shard) — budgets are sharded exactly like
    * [[Packing.packContexts]] contexts, so no global ordering exists, no
    * single task serializes a stratum, and shard count scales with the
    * cluster; the per-shard budget is total/shards by construction.
    * Priority = the salted uniform, so the selection inherits the
    * sampler's properties: reproducible, salt-keyed, and NESTED across
    * budgets (a smaller budget selects a PREFIX of a larger budget's
    * docs — scaling-law ladders again).
    */
  def mixtureBudget(
      doc: DataFrame,
      budget: Long = budgetTokens,
      salt: String = "graft-budget"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = uniformHash(salt, col("doc_id"))
    val shard = pmod(col("doc_id"), lit(budgetShards.toLong)).cast("int")
    val w = Window.partitionBy(col("predicted"), col("shard"))
      .orderBy(col("u"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    doc
      .select(col("doc_id"), TextAnalysis.langPredicted.as("predicted"),
        shard.as("shard"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        u.as("u"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .drop("u")
  }

  /** Benchmark DECONTAMINATION: drop every training document sharing at
    * least one word-3-gram shingle with the evaluation corpus — the
    * pre-training hygiene step that keeps eval benchmarks out of the
    * training mix (n-gram-overlap decontamination in the GPT-3/PaLM
    * tradition).
    *
    * Scale shape: the eval shingle set is tiny next to a 100 TB corpus —
    * and bounded by the BENCHMARK, not the corpus — so it is explicitly
    * `broadcast()`: contamination detection becomes a MAP-SIDE hash join
    * against the corpus's exploded shingles (no corpus-wide shuffle;
    * plan-pinned BroadcastHashJoin). The contaminated-id set that
    * anti-joins back is NOT hinted — its cardinality is data-dependent
    * (boilerplate overlapping the eval set can contaminate whole percents
    * of a corpus), so the anti-join is left to the optimizer/AQE, which
    * broadcasts it only while it actually fits. Documents too short to
    * shingle (< 3 tokens) cannot match and always survive — both engines
    * agree by construction.
    */
  def decontaminate(doc: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalShingles = evalDocs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(explode(Dedup.shingles(col("text"))).as("shingle"))
      .distinct()
    val contaminated = doc
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"))
      .select("doc_id").distinct()
    doc.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The held-out "eval set" for the oracle query: every 97th document —
    * a deterministic stand-in for a real benchmark table.
    */
  def evalHoldout(doc: DataFrame): DataFrame =
    doc.filter(pmod(col("doc_id"), lit(97)) === 0)

  /** Flagging threshold for [[contaminationScore]]. */
  val contaminationThreshold = 0.2

  /** Contamination SCORING — the graded companion of [[decontaminate]]'s
    * binary drop: per document, the FRACTION of its distinct 3-gram
    * shingles that appear in the eval set. Real releases publish exactly
    * this (how contaminated was the corpus, how sharp the cutoff), and a
    * threshold-flag rather than a hard drop lets the pipeline audit the
    * gray zone (a doc quoting one benchmark question scores low; a
    * verbatim eval copy scores ~1.0).
    *
    * Scale shape: ONE corpus scan — shingles explode narrowly, the
    * broadcast eval set left-joins MAP-SIDE (hit flag, no corpus
    * shuffle), and one partial-agg groupBy(doc_id) folds (total, hits)
    * counts; `explode_outer` keeps too-short docs (no shingles) in the
    * report with contamination 0. Same broadcast-boundedness argument as
    * [[decontaminate]]: the eval set is benchmark-sized, never
    * corpus-sized. Output: one row per doc
    * `(doc_id, n_shingles, n_hits, contamination, flagged)`.
    */
  def contaminationScore(doc: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalShingles = evalDocs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(explode(Dedup.shingles(col("text"))).as("shingle"))
      .distinct()
      .withColumn("hit", lit(1L))
    val grams = when(size(split(col("text"), " ")) >= 3,
      Dedup.shingles(col("text"))).otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    doc.select(col("doc_id"), explode_outer(grams).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(col("shingle")).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        when(col("n_shingles") > 0,
          round(col("n_hits").cast("double") / col("n_shingles").cast("double"), 6))
          .otherwise(lit(0.0)).as("contamination"))
      .withColumn("flagged", col("contamination") >= contaminationThreshold)
  }

  /** Shard count for [[shuffleOrder]] — at 10^12 docs this rises to
    * O(10^4-10^5) so each shard's sort fits one task's memory.
    */
  val shuffleShards = 16

  /** Deterministic corpus SHUFFLE for training order: every epoch of
    * pretraining reads the corpus in (near-)random order, and at 10^12
    * rows that order cannot be a global sort or an RNG — it is a salted
    * hash: key = md5(salt || doc_id) is a reproducible uniform
    * permutation, sharded by the key's first byte so ordering is
    * SHARD-LOCAL (readers stream shards in index order; within-shard rank
    * is a per-shard sort, the terasort shape — no total order ever
    * materializes). Same salt = same order (resumable mid-epoch by
    * (shard, pos)); a new salt reshuffles for the next epoch. Output:
    * `(doc_id, shard, pos)`.
    */
  def shuffleOrder(doc: DataFrame, salt: String = "graft-shuffle"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("k"), col("doc_id"))
    doc.select(col("doc_id"),
        md5(concat(lit(salt), lit("-"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard",
        pmod(expr("CAST(conv(substring(k, 1, 2), 16, 10) AS INT)"),
          lit(shuffleShards)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Default per-domain document cap for [[domainCap]]. */
  val domainCapDocs = 25L

  /** Per-stratum sample size / prefilter safety factor for
    * [[exactNSample]].
    */
  val exactSampleN = 20
  val exactSampleSafety = 4.0

  /** EXACT-N per-stratum sampling — the other half of the sampling
    * charter ([[stratifiedSample]] delivers a RATE, [[domainCap]] an
    * expected count; eval-set construction and ablation suites need
    * EXACTLY N per stratum, deterministically): the sample is the N
    * smallest salted hashes per predicted language. The scale shape is
    * the two-phase trick: a rate PREFILTER (`u < safety*n/|stratum|`,
    * decided map-side off a broadcast count table — the corpus never
    * shuffles) bounds each stratum's candidates to ~safety*n rows, and
    * only THAT sliver pays the per-stratum rank window (a bare
    * `row_number over (partition by stratum)` would serialize a
    * 10^12-row stratum into one task). The prefilter keeps the true
    * top-N as long as at least N hashes fall under the rate — a
    * short stratum (candidate pool under N) is detectable via
    * [[exactNShortStrata]] — the tiny per-stratum audit a pipeline
    * alerts on (the shortness is a per-STRATUM aggregate, so unlike the
    * row-level `graft_guard_*` metrics it cannot ride the scan as an
    * observation). Deterministic and salt-keyed; output
    * `(doc_id, predicted, u, rank)`.
    */
  def exactNSample(doc: DataFrame, n: Int = exactSampleN,
      safety: Double = exactSampleSafety, salt: String = "graft-exactn"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("predicted").orderBy(col("u"), col("doc_id"))
    exactNCandidates(doc, n, safety, salt)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("doc_id"), col("predicted"), col("u"),
        col("rank").cast("int").as("rank"))
  }

  /** The rate-prefiltered candidate pool of [[exactNSample]] — map-side
    * decided off the broadcast per-stratum count table.
    */
  private def exactNCandidates(doc: DataFrame, n: Int, safety: Double,
      salt: String): DataFrame = {
    val p = doc.select(col("doc_id"), TextAnalysis.langPredicted.as("predicted"),
      uniformHash(salt, col("doc_id")).as("u"))
    val rates = p.groupBy("predicted").agg(count(lit(1)).as("n_stratum"))
      .select(col("predicted"),
        least(lit(1.0), lit(safety * n) / col("n_stratum").cast("double"))
          .as("rate"))
    p.join(broadcast(rates), Seq("predicted")).filter(col("u") < col("rate"))
  }

  /** Audit for [[exactNSample]]'s prefilter: the strata whose candidate
    * pool came in under N (empty = every stratum delivered a full exact-N
    * sample; non-empty = raise `safety` for those strata). O(strata) rows.
    */
  def exactNShortStrata(doc: DataFrame, n: Int = exactSampleN,
      safety: Double = exactSampleSafety, salt: String = "graft-exactn"): DataFrame =
    exactNCandidates(doc, n, safety, salt)
      .groupBy("predicted").agg(count(lit(1)).as("n_cand"))
      .filter(col("n_cand") < n)

  /** Per-DOMAIN document cap — the crawl-curation rule every web corpus
    * applies (C4/RefinedWeb shape: no single host may dominate the
    * mixture): a domain with `n <= cap` documents keeps them all; a
    * larger domain keeps a deterministic Bernoulli sample at rate
    * `cap / n`, so its expected contribution is exactly `cap`. The RATE
    * form is chosen over an exact top-N window deliberately: a
    * `row_number() OVER (PARTITION BY host)` puts a mega-domain's million
    * documents in ONE task (the skew cliff), while the rate form decides
    * keep/drop per row from a hash — no per-domain ordering anywhere.
    *
    * Scale shape: the CORPUS NEVER SHUFFLES. One partial-agg
    * groupBy(host) builds the O(domains) count table (the shuffle carries
    * (host, partial count) rows only), the rate table broadcasts back,
    * and `kept` is decided map-side from `uniformHash(salt, doc_id)`.
    * If the domain table outgrows broadcast (the web is ~10^8 registered
    * domains — still broadcastable at ~GBs; beyond that) drop the hint
    * and AQE falls back to a shuffle join of corpus vs tiny table.
    * Deterministic and salt-keyed; `cap/n` is one correctly-rounded IEEE
    * division, so the DuckDB twin matches bit-for-bit. Input needs
    * `(doc_id, host)`; output one VERDICT row per document
    * `(doc_id, host, n_domain, keep_rate, kept)` — callers filter on
    * `kept` (the report form keeps the drop accounting auditable).
    */
  def domainCap(doc: DataFrame, cap: Long = domainCapDocs,
      salt: String = "graft-domain"): DataFrame = {
    val rates = doc.groupBy("host")
      .agg(count(lit(1)).as("n_domain"))
      .select(col("host"), col("n_domain"),
        least(lit(1.0), lit(cap.toDouble) / col("n_domain").cast("double"))
          .as("keep_rate"))
    doc.join(broadcast(rates), Seq("host"))
      .select(col("doc_id"), col("host"), col("n_domain"), col("keep_rate"),
        (uniformHash(salt, col("doc_id")) < col("keep_rate")).as("kept"))
  }
}
