package graft.operators

import graft.streaming.OneShot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import org.apache.spark.sql.SparkSession

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * word-n-gram Jaccard, MinHash+LSH banding (batch + streaming), SimHash,
  * and embedding-cosine near-dup. Scale notes per operator:
  *
  *   - exact: one hash-shuffle on md5(text); map-side partial agg applies.
  *   - jaccard: NEVER all-pairs at scale — candidates come from LSH bands
  *     ([[minhashBands]], verified by [[minhashJaccard]]); the ±2-window
  *     variant here is the correctness harness, itself an equi-join.
  *   - minhash: signature is a narrow map (native `shingles3`/`minhash16`
  *     kernels); the band bucket explode+groupBy replaces the O(n^2)
  *     comparison with ONE shuffle on band keys (degenerate-bucket cap, AQE
  *     for hot keys); [[runStreamingNearDup]] is the streaming member.
  *   - simhash: narrow map to a 16-bit signature (native `simhash16`);
  *     pairing via banded OR-of-rotations blocking with in-block pairs from
  *     the native `SimHashPairsKernel` (equi-join keys, block cap).
  *   - embedding: content-derived banded hyperplane LSH ([[nearDupPairs]]),
  *     one equi-join on (band_idx, band_val).
  *
  * All variants are pure Catalyst expressions, each with a DuckDB-SQL twin.
  */
object Dedup {

  /** Unique suffix for observed-metric names: a query may compose several
    * capped operators (e.g. the e2e pipeline), and Spark requires observed
    * metric names to be unique within one Dataset.
    */
  private val capMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Tag `df` with an observed metric counting blocks a degenerate-bucket
    * cap is about to drop ([[minhashMaxBucket]] / [[simhashMaxBlock]] /
    * [[nearDupMaxBucket]]). The caps are unreachable at test scale (so the
    * DuckDB oracle twins carry no cap branch), but if a 100 TB corpus ever
    * hits one, the Spark/oracle divergence must be OBSERVABLE, not silent:
    * the metric rides the existing aggregation (no extra pass/shuffle) and
    * [[registerCapLogger]] surfaces any non-zero count as a warning.
    */
  private def observeCapDrops(df: DataFrame, op: String, blockSize: Column, cap: Int): DataFrame =
    df.observe(s"graft_caps_${op}_${capMetricSeq.incrementAndGet()}",
      sum(when(blockSize > cap, 1L).otherwise(0L)).as("dropped_blocks"),
      max(blockSize).cast("long").as("max_block"))

  /** Sessions (by UUID) that already carry the cap logger: Main, Bench,
    * Verify, and specs all call [[registerCapLogger]], possibly against the
    * same shared session — re-registration must be a no-op, or duplicate
    * listeners stack and every cap warning is emitted once per caller.
    */
  private val capLoggerSessions: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Log every cap/guard-triggered drop (idempotent per session). */
  def registerCapLogger(spark: SparkSession): Unit =
    if (capLoggerSessions.add(spark))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        private val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_caps_") && !row.isNullAt(0) && row.getLong(0) > 0L)
              log.warn(s"$name: ${row.getLong(0)} degenerate blocks dropped by cap " +
                s"(largest block ${row.getLong(1)}) — oracle twins carry no cap branch; " +
                "results diverge from uncapped SQL at this corpus size")
            else if (name.startsWith("graft_guard_") && !row.isNullAt(0) && row.getLong(0) > 0L)
              log.warn(s"$name: ${row.getLong(0)} rows hit a guard condition " +
                "(e.g. a sampling stratum absent from the mixture spec, dropped by " +
                "the default-0 rate) — check the operator's configuration")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })

  /** The dup-injected corpus: documents plus a shifted copy of every 4th doc
    * (deterministic; gives the dedup operators guaranteed positives). Twin
    * SQL: `SELECT doc_id, text FROM documents UNION ALL
    * SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0`.
    */
  def withInjectedDups(doc: DataFrame): DataFrame = {
    val base = doc.select(col("doc_id"), col("text"))
    base.unionAll(
      base.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** The existing/incoming split of the incremental-dedup queries, one
    * definition for the batch queries and their streaming twins: `existing`
    * is every (doc_id, text) with `doc_id % 3 != 0`, `fresh` the rest, and
    * `incoming` is `fresh` plus every 5th existing doc re-ingested under
    * `doc_id + 2000000` (guaranteed duplicates).
    */
  final case class IngestSplit(existing: DataFrame, fresh: DataFrame) {
    def incoming: DataFrame = fresh.unionAll(existing.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }

  def ingestSplit(doc: DataFrame): IngestSplit = {
    val base = doc.select(col("doc_id"), col("text"))
    IngestSplit(base.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      base.filter(pmod(col("doc_id"), lit(3)) === 0))
  }

  /** Exact dedup: group by content hash, keep the smallest id. */
  def exact(doc: DataFrame): DataFrame =
    withInjectedDups(doc)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Distinct word-3-gram shingles of the `text` column — routed through
    * the native one-pass [[graft.spark.ShinglesKernel.shingles3]] kernel (the HOF form
    * re-evaluated `split(text, ' ')` inside every lambda element: O(n²)
    * per document). Bit-identical output order to
    * `array_distinct(transform(...))` — pinned by a parity spec.
    */
  def shingles(text: Column): Column =
    graft.spark.HashFunctions.shingles3(text)

  /** N-gram Jaccard over a candidate window (b.doc_id - a.doc_id in 1..2):
    * |A∩B| / (|A|+|B|-|A∩B|), rounded to 4.
    *
    * The ±2 window is generated as an EQUI-join: each doc explodes to its
    * two candidate keys (doc_id+1, doc_id+2) and joins b on that key — a
    * shuffle hash/SMJ join that holds at any scale. (The earlier range
    * condition `b.doc_id - a.doc_id <= 2` compiled to a
    * BroadcastNestedLoopJoin — cartesian-class; pinned gone by a plan test.)
    */
  def ngramJaccard(doc: DataFrame): DataFrame = {
    val g = doc
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles(col("text")).as("grams"))
    val a = g.select(col("doc_id").as("a_id"), col("grams").as("a_grams"),
      explode(array(col("doc_id") + 1, col("doc_id") + 2)).as("b_id"))
    val inter = size(array_intersect(col("a_grams"), col("b_grams"))).cast("double")
    a.join(g.select(col("doc_id").as("b_id"), col("grams").as("b_grams")), Seq("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        round(inter /
          (size(col("a_grams")) + size(col("b_grams")) - inter).cast("double"),
          4).as("jaccard"))
  }

  /** Production-shape MinHash parameters: 16 hash functions banded as
    * 4 bands x 4 rows. The 16 keyed 32-bit hashes per shingle come from
    * FOUR md5 evaluations (each 32-hex digest is split into four 8-hex
    * words), computed once per shingle in [[minhashSignature]]'s `hcat`
    * stage — so the md5 cost equals the old 4-hash signature while the
    * banding matches the r*b structure real pipelines run.
    */
  val minhashHashes = 16
  val minhashBandCount = 4
  val minhashRowsPerBand = 4

  /** The (doc_id, grams) shingle table of a corpus — the single expensive
    * narrow map every MinHash stage derives from. Exposed so composed runs
    * ([[minhashJaccard]]) can materialize it ONCE and feed both the
    * banding and the verify join (at 100 TB the shingle/signature table is
    * materialized once and reused, never recomputed per stage).
    */
  def shingleTable(base: DataFrame): DataFrame =
    base
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles(col("text")).as("grams"))

  /** MinHash signature from a prebuilt (doc_id, grams) table:
    * [[minhashHashes]] hashes -> [[minhashBandCount]] band keys (md5 over
    * the '_'-joined band rows). The 16 hash values come from the native
    * one-pass [[graft.spark.MinHashKernel.minhash16]] kernel (bit-identical to the
    * `conv(substring(md5-concat...))` SQL form the DuckDB twin still uses —
    * pinned by a parity spec + the oracle hash-compare).
    */
  def signatureFromGrams(g: DataFrame): DataFrame = {
    val withBands = g.select(col("doc_id"),
      graft.spark.HashFunctions.minHashBands(col("grams"),
        minhashBandCount, minhashRowsPerBand).as("bands"))
    val bandCols = (0 until minhashBandCount).map { b =>
      element_at(col("bands"), b + 1).as(s"band$b")
    }
    withBands.select((col("doc_id") +: bandCols): _*)
  }

  def minhashSignature(doc: DataFrame): DataFrame =
    signatureFromGrams(shingleTable(doc))

  /** LSH candidate pairs: docs sharing any band bucket. ONE shuffle total:
    * signatures are exploded on (band_idx, band_val), grouped per bucket,
    * and sorted in-bucket pairs are generated with an array expression —
    * no self-join, so the md5-heavy signature is computed exactly once and
    * nothing needs to be persisted (the r01 version persisted the signature
    * for a two-sided join and leaked the cached blocks). At 100 TB the
    * groupBy side is the materialized signature table; hot buckets are
    * bounded by band width and handled by AQE.
    */
  /** Degenerate-bucket guard: a band bucket bigger than this is near-
    * certainly boilerplate (every member pair is quadratic work AND a
    * near-useless dup signal); real MinHash pipelines drop such buckets.
    * Never reached at test scale (cap >> corpus), so the DuckDB twin needs
    * no cap branch — this is a 100 TB safety bound, logged by size filter,
    * not a silent truncation of observable results.
    */
  val minhashMaxBucket = 10000

  def minhashBands(doc: DataFrame): DataFrame =
    bandsToPairs(minhashSignature(withInjectedDups(doc)))

  /** In-bucket pair generation over a prebuilt band-signature table. Pair
    * generation is STREAMED (the [[nearDupPairs]] form): posexplode anchors
    * each left id, a second explode emits its partners from a slice — so
    * transient memory per task is O(bucket), never the O(bucket²) a
    * flattened pair array would materialize as ONE value (at the 10k cap
    * that array is ~50M structs ≈ hundreds of MB in a single row — an
    * executor-OOM cliff exactly at the cap boundary; pinned gone by a plan
    * spec asserting no `flatten` anywhere).
    */
  def bandsToPairs(sig: DataFrame): DataFrame = {
    val bands = array((0 until minhashBandCount).map(b => col(s"band$b")): _*)
    val buckets = sig
      .select(col("doc_id"), posexplode(bands).as(Seq("band_idx", "band_val")))
      .groupBy("band_idx", "band_val")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
    streamedPairs(buckets, "ids", "minhash", minhashMaxBucket)
      .distinct().toDF("a_id", "b_id")
  }

  /** The blocks of a grouped table whose sorted array column `arr` could
    * pair (more than one member) and is within the degenerate-block `cap`;
    * drops above the cap are observable as `graft_caps_<op>_*`.
    */
  private def cappedBlocks(blocks: DataFrame, arr: String, op: String, cap: Int): DataFrame =
    observeCapDrops(blocks, op, size(col(arr)), cap)
      .filter(size(col(arr)) > 1 && size(col(arr)) <= cap)

  /** Streamed in-block pair generation over [[cappedBlocks]] — shared by
    * every bucketing dedup ([[bandsToPairs]], [[windowDupPairs]],
    * [[nearDupPairs]], [[semanticDedup]], [[containmentPairs]]): chained
    * posexplode + explode(slice) emit each (`a`, `b`) element pair with
    * `a` before `b` in the array, so transient memory is O(block). Pairs
    * are not deduplicated here: a pair sharing several blocks appears once
    * per block, which [[containmentPairs]] counts.
    */
  private def streamedPairs(blocks: DataFrame, arr: String, op: String, cap: Int): DataFrame =
    cappedBlocks(blocks, arr, op, cap)
      .select(col(arr), posexplode(col(arr)).as(Seq("i", "a")))
      // slice is 1-based: position i (0-based) -> partners start at i + 2
      .select(col("a"), explode(expr(s"slice($arr, i + 2, size($arr))")).as("b"))

  /** Windowed-fingerprint dedup parameters (the exact-substring dedup
    * tradition — Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better" — in bounded-window form): every
    * [[windowTokens]]-token window is fingerprinted (stride 1) and each
    * document keeps the MINIMUM fingerprint of every [[windowStride]]
    * consecutive window positions — WINNOWING (Schleimer et al. 2003,
    * the MOSS scheme). Selection depends only on window CONTENT, so two
    * documents sharing a verbatim run of >= W + S - 1 tokens select at
    * least one common fingerprint REGARDLESS of the run's alignment in
    * either document. (A positional stride on both sides has NO such
    * guarantee: each doc then fingerprints only one offset residue class
    * mod S, so ~(S-1)/S of random alignments share nothing however long
    * the run — found by review, pinned by the misaligned-run spec.)
    * Complements MinHash: MinHash finds whole-document similarity, window
    * fingerprints find long VERBATIM overlaps between otherwise-different
    * documents (quote chains, boilerplate headers, copied passages).
    */
  val windowTokens = 8
  val windowStride = 4

  /** Degenerate-fingerprint guard (the [[minhashMaxBucket]] pattern). */
  val windowMaxBucket = 10000

  /** (doc_id, wfp) winnowed window fingerprints over the dup-injected
    * corpus — the native one-pass [[graft.spark.WinnowKernel.winnowFps]]
    * kernel (fingerprint + winnow + distinct fused; bit-identical to the
    * HOF slice chain, pinned by a parity spec). Documents with fewer than
    * S windows still select their minimum fingerprint (the max(nw-S+1, 1)
    * position floor), so short-but-shingleable docs participate; docs
    * shorter than W tokens yield an empty array, which the explode drops
    * exactly like the previous `size(toks) >= W` filter.
    */
  def windowFingerprints(doc: DataFrame): DataFrame =
    winnowedFps(withInjectedDups(doc))

  /** The winnowed fingerprint rows `(doc_id, wfp)` of `doc` — the
    * selection core of [[windowFingerprints]] without the dup-injection
    * harness, shared with the ingest form ([[windowArtifacts]] /
    * [[windowDedupIncremental]]).
    */
  private def winnowedFps(doc: DataFrame): DataFrame =
    doc.select(col("doc_id"),
      explode(graft.spark.HashFunctions.winnowFps(
        col("text"), windowTokens, windowStride)).as("wfp"))

  /** Winnowed-fingerprint ARTIFACT of the existing corpus — its distinct
    * selected fingerprints, eagerly materialized (the per-epoch catalog
    * table, like the content-hash/band/cell/block artifacts).
    */
  def windowArtifacts(existing: DataFrame): DataFrame =
    winnowedFps(existing).select(col("wfp")).distinct().localCheckpoint(true)

  /** Ingest-time WINNOWED dedup — the fifth member of the incremental
    * family (hash, bands, cells, blocks, now winnowed fingerprints):
    * drop every INCOMING document sharing ANY selected fingerprint with
    * the existing corpus. The winnowing guarantee carries over: a
    * verbatim run of >= [[windowTokens]] + [[windowStride]] - 1 tokens
    * shared with ANY corpus document is caught REGARDLESS of its
    * alignment in either text — the detector [[spanDedupIncremental]]'s
    * fixed blocks cannot be (blocks only match aligned copies). Plan:
    * narrow fingerprint map on the incoming batch, one left-semi
    * equi-join against the artifact, one anti-join back; docs too short
    * to fingerprint survive by construction.
    */
  def windowDedupIncremental(artifact: DataFrame, incoming: DataFrame): DataFrame = {
    val hits = winnowedFps(incoming)
      .join(artifact, Seq("wfp"), "left_semi")
      .select("doc_id").distinct()
    incoming.join(hits, Seq("doc_id"), "left_anti")
  }

  /** Candidate near-exact-dup pairs: docs sharing any window fingerprint.
    * ONE shuffle (groupBy wfp), streamed in-bucket pairs, capped +
    * observable like every bucketing dedup here. At 100 TB the fingerprint
    * table is the materialized artifact; hot fingerprints (boilerplate)
    * hit the cap and are dropped whole — their members belong to the
    * exact-dup/minhash operators.
    */
  def windowDupPairs(doc: DataFrame): DataFrame =
    streamedPairs(
      windowFingerprints(doc)
        .groupBy("wfp")
        .agg(array_sort(collect_set(col("doc_id"))).as("ids")),
      "ids", "windowfp", windowMaxBucket)
      .distinct().toDF("a_id", "b_id")

  /** INCREMENTAL dedup — the ingestion-time operation continual
    * pretraining runs: drop every INCOMING document that duplicates the
    * EXISTING corpus, without re-deduping the corpus itself. Two signals,
    * each an equi-join against an artifact the existing corpus already
    * maintains at 100 TB (its content-hash table and its minhash band
    * buckets — both materialized once and appended per ingest):
    *   - exact: md5(text) matches an existing content hash;
    *   - near: ANY minhash band key matches an existing band bucket
    *     (OR-of-bands, the [[bandsToPairs]] recall shape).
    * Returns the incoming survivors. Plan shape: three shuffled
    * equi-joins (hash, bands, id anti-join) — no self-pairing, no
    * cartesian; the existing side streams from its materialized tables.
    */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame): DataFrame =
    incrementalDedupWith(corpusArtifacts(existing), incoming)

  /** One-pass `(doc_id, h, band0..bandN-1)` projection: the content hash
    * and the minhash band keys computed together in a single narrow map —
    * the shape both incremental-dedup artifact builds share. Band columns
    * are GUARDED: a doc too short to shingle gets genuinely NULL bands
    * (`when(mh.isNotNull, ...)` — `concat_ws` alone skips NULL elements,
    * so every short doc's bands would silently become `md5('')`, one
    * shared non-null constant that could spuriously collide).
    */
  private[graft] def hashAndBands(df: DataFrame, keep: Seq[org.apache.spark.sql.Column]): DataFrame = {
    // minhash_bands returns NULL for docs too short to shingle (shingles3
    // yields an empty gram array below 3 tokens), preserving the
    // genuinely-NULL band guard of the previous when(mh.isNotNull, ...)
    // form — NULL never equi-joins, so short docs cannot spuriously collide
    val bandCols = (0 until minhashBandCount).map { b =>
      element_at(col("bands"), b + 1).as(s"band$b")
    }
    df.withColumn("bands", graft.spark.HashFunctions.minHashBands(
        shingles(col("text")), minhashBandCount, minhashRowsPerBand))
      .select((keep :+ md5(col("text")).as("h")) ++ bandCols: _*)
  }

  /** The EXISTING corpus's dedup artifacts — its content-hash table and
    * minhash band keys, one row per doc — computed in ONE scan (the
    * [[hashAndBands]] projection) and eagerly materialized
    * (localCheckpoint; production: the persisted catalog tables the corpus
    * maintains and appends per ingest — pass a table read straight to
    * [[incrementalDedupWith]] instead and no scan happens at all). Before
    * this, [[incrementalDedup]] scanned the existing corpus twice: once
    * for hashes, once for the shingle/minhash signature — at 100 TB the
    * second full-corpus pass is the dominant cost of an ingest batch.
    */
  def corpusArtifacts(existing: DataFrame): DataFrame =
    hashAndBands(existing, Seq(col("doc_id"))).localCheckpoint(true)

  /** Incremental artifact UPDATE — the per-epoch maintenance step the
    * artifact scaladocs promise ("the persisted catalog tables the
    * corpus maintains and APPENDS per ingest"): after an ingest batch,
    * the kept documents' own [[hashAndBands]] rows are unioned onto the
    * artifact table WITHOUT rescanning the existing corpus, so epoch N+1
    * deduplicates against everything absorbed through epoch N. Set-equal
    * to rebuilding `corpusArtifacts(existing ∪ kept)` from scratch
    * (spec-pinned); cost is one narrow pass over the BATCH only. At
    * 100 TB this is an append to the catalog table, not a checkpoint.
    */
  def updateArtifacts(art: DataFrame, kept: DataFrame): DataFrame =
    art.unionByName(hashAndBands(kept, Seq(col("doc_id")))).localCheckpoint(true)

  /** [[incrementalDedup]] against prebuilt artifacts (see
    * [[corpusArtifacts]] for the table shape). NULL band values (short
    * docs) are dropped from the bucket table — they match nothing.
    */
  def incrementalDedupWith(artifacts: DataFrame, incoming: DataFrame): DataFrame =
    incrementalAntiJoin(artifacts,
      incoming.select(col("doc_id"), md5(col("text")).as("h")),
      minhashSignature(incoming), incoming)

  /** The exact-confirmation core shared by [[incrementalDedupWith]] and
    * [[incrementalDedupBloom]] — ONE copy of the dedup semantics, so the
    * screened and unscreened paths cannot drift: drop from `keepFrom`
    * every doc_id whose content hash hits the artifact hash table or
    * whose band key hits an artifact band bucket. `hashed` supplies
    * `(doc_id, h)`; `banded` supplies `doc_id` + the band columns (NULL
    * bands match nothing on either side).
    */
  private def incrementalAntiJoin(
      artifacts: DataFrame,
      hashed: DataFrame,
      banded: DataFrame,
      keepFrom: DataFrame): DataFrame = {
    val bandCols = (0 until minhashBandCount).map(b => col(s"band$b"))
    val existingHashes = artifacts.select("h").distinct()
    val existingBands = artifacts
      .select(posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
      .filter(col("band_val").isNotNull)
      .distinct()
    val exactDups = hashed.select(col("doc_id"), col("h"))
      .join(existingHashes, Seq("h"))
      .select("doc_id")
    val nearDups = banded
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
      .filter(col("band_val").isNotNull)
      .join(existingBands, Seq("band_idx", "band_val"))
      .select("doc_id").distinct()
    keepFrom.join(exactDups.unionAll(nearDups).distinct(), Seq("doc_id"), "left_anti")
  }

  /** Floor of [[incrementalDedupBloom]]'s filter sizing (~1.2 MB of
    * filter at the default 8 bits/item — the driver/broadcast footprint
    * class of Spark's own runtime bloom joins). Larger corpora size up to
    * the session's `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`,
    * where [[Bloom.expectedItems]] caps the size and logs a warning.
    */
  val bloomExpectedItems = 1000000L

  /** The guarded insert/probe values over a [[hashAndBands]]-shaped row —
    * ONE definition shared by [[corpusBloom]] (insert side) and
    * [[bloomCandidate]] (probe side): the two must produce bit-identical
    * value sequences or the filter's no-false-negatives guarantee breaks
    * SILENTLY (real duplicates would screen as "definitely new" and skip
    * the exact joins).
    */
  private def bloomProbes: Seq[Column] =
    xxhash64(col("h")) +:
      (0 until minhashBandCount).map { b =>
        val c = col(s"band$b")
        when(c.isNotNull, xxhash64(c))
      }

  /** ONE compact BLOOM fingerprint of the existing corpus's dedup
    * artifacts — the content hashes AND all non-null band keys inserted
    * into a single filter (their value spaces may collide bit patterns;
    * harmless in a pre-filter whose positives are exact-confirmed) —
    * built in ONE pass over the artifact table with Spark's own
    * `BloomFilterAggregate` (the sketch the optimizer's runtime row-level
    * filtering injects; applied here deliberately at the operator level).
    * Values are guarded BEFORE hashing: `xxhash64(NULL)` is the seed
    * constant, not NULL, so an unguarded short-doc band would poison the
    * filter with one shared value. [[incrementalDedupBloom]] sizes
    * `expectedItems` to (1 + bands) × artifact rows. Returned as a
    * driver-held byte array; at 100 TB this is a maintained corpus
    * artifact refreshed per ingest epoch, exactly like the hash/band
    * tables it summarizes.
    */
  def corpusBloom(artifacts: DataFrame, expectedItems: Long): Array[Byte] =
    Bloom.build(artifacts.select(explode(array(bloomProbes: _*)).as("v")), col("v"), expectedItems)

  /** Semantic ARTIFACT of the existing corpus — its scored cell assignment
    * `(vec_id, embedding, na, cell, centroid_cos)`, eagerly materialized:
    * at 100 TB this is the persisted table the corpus maintains per ingest
    * epoch alongside its content-hash and band artifacts
    * ([[corpusArtifacts]]), so ingest never re-scores the corpus.
    */
  def semanticArtifacts(
      existing: DataFrame, cents: Array[(Long, Array[Double])]): DataFrame =
    Similarity.ivfAssignScoredWith(existing, cents).localCheckpoint(true)

  /** Ingest-time SEMANTIC dedup — the third member of the incremental
    * family ([[incrementalDedup]] checks content hashes and minhash bands;
    * this checks semantic duplicates the same way): drop every INCOMING
    * embedding whose cosine with ANY existing member of its assigned cell
    * is >= [[nearDupCos]]. The quantizer is the EXISTING corpus's (centroids
    * collected once), so assignment is stable as the corpus grows;
    * incoming-vs-incoming pairs are out of scope by the incremental
    * contract (each batch joins the corpus before the next arrives).
    *
    * Plan: ONE zero-Exchange scoring map over the incoming batch (eagerly
    * checkpointed — both the cell join and the final report read it from
    * memory), one equi-join on `cell` against the artifact (AQE handles
    * hot-cell skew), the codegen'd per-pair dot, distinct + anti-join.
    * Existing cells above [[semanticMaxCell]] are excluded OBSERVABLY
    * (`graft_caps_semincr_*`) — the in-batch operator's degenerate-cell
    * rule in ingest form. Output mirrors [[semanticDedup]]: one row per
    * incoming vector `(vec_id, cell, centroid_cos, dropped)`.
    */
  def semanticDedupIncremental(
      existing: DataFrame, incoming: DataFrame): DataFrame = {
    import graft.spark.VectorFunctions.vecDot
    val cents = Similarity.collectCentroids(existing)
    val art = semanticArtifacts(existing, cents)
    val okCells = observeCapDrops(
        art.groupBy("cell").agg(count(lit(1)).as("n_cell")),
        "semincr", col("n_cell"), semanticMaxCell)
      .filter(col("n_cell") <= semanticMaxCell)
      .select("cell")
    val artOk = art.join(okCells, Seq("cell"), "left_semi")
    val inc = Similarity.ivfAssignScoredWith(incoming, cents).localCheckpoint(true)
    val hits = inc
      .join(artOk.select(col("cell"), col("embedding").as("e_emb"),
        col("na").as("e_na")), Seq("cell"))
      .filter(Similarity.roundedCos(vecDot(col("embedding"), col("e_emb")),
        col("na"), col("e_na")) >= nearDupCos)
      .select("vec_id").distinct()
    flagDropped(inc, hits)
  }

  /** The bloom-candidate probe over a [[hashAndBands]]-shaped row: true
    * iff the content hash or ANY non-null band key might be in `bloom`.
    * ONE bloom literal in the whole plan: the (1 + bands) per-doc probe
    * values ride an array and an `exists` HOF whose lambda holds the
    * single `might_contain` — inlining a literal per probe column would
    * ship (1 + bands) copies of the filter in every task binary.
    */
  private[graft] def bloomCandidate(bloom: Array[Byte]): Column =
    exists(array(bloomProbes: _*), v => Bloom.mightContain(bloom, v))

  /** [[incrementalDedupWith]] behind a BLOOM pre-filter — the 100 TB
    * ingest shape: most incoming documents are NOT duplicates, so before
    * any shuffle the batch is screened against [[corpusBloom]]'s compact
    * fingerprints (inlined as plan literals — the broadcast-a-sketch move
    * Spark's runtime bloom-filter join optimization makes, under operator
    * control). A doc with NO bloom hit on its content hash or any band
    * key is DEFINITELY new (Bloom filters have no false negatives) and
    * bypasses every join; only bloom CANDIDATES run the exact hash/band
    * equi-joins, which also discharge the false positives — so results
    * are identical to [[incrementalDedupWith]] by construction (spec-
    * pinned, with the `might_contain` screen pinned in the plan). The
    * flagged batch is eagerly checkpointed so the clean/candidate split
    * costs ONE signature evaluation of the incoming side. The filter is
    * sized from the artifact itself: (1 + bands) values per row, floored
    * at [[bloomExpectedItems]] and capped at the session's Bloom item
    * limit ([[Bloom.expectedItems]]).
    */
  def incrementalDedupBloom(artifacts: DataFrame, incoming: DataFrame): DataFrame = {
    val outCols = incoming.columns.toSeq
    val bloom = corpusBloom(artifacts,
      Bloom.expectedItems(artifacts, 1L + minhashBandCount, bloomExpectedItems))
    val flagged = hashAndBands(incoming, outCols.map(col))
      .withColumn("bloom_cand", bloomCandidate(bloom))
      .localCheckpoint(true)
    val clean = flagged.filter(!col("bloom_cand"))
    val suspects = flagged.filter(col("bloom_cand"))
    val survivors = incrementalAntiJoin(artifacts, suspects, suspects, suspects)
    clean.select(outCols.map(col): _*)
      .unionAll(survivors.select(outCols.map(col): _*))
  }

  /** The streamed documents' columns (the staged inputs of the streaming
    * dedup queries, [[graft.spark.Staged]]).
    */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** STREAMING incremental dedup — [[incrementalDedup]] as the continual-
    * ingestion stream it models: INCOMING documents arrive as a stream and
    * are checked against the EXISTING corpus's materialized artifacts (the
    * content-hash table and the per-band minhash buckets) with
    * STREAM-STATIC left outer joins. The stream side is completely
    * STATELESS — no watermark, no state store, nothing to grow or expire:
    * the corpus artifacts ARE the dedup state, exactly as at 100 TB where
    * they are catalog tables appended per ingest batch. Each band index
    * joins separately (`band_b` against that band's bucket values), so a
    * document stays ONE row end-to-end — no explode, no streaming
    * re-aggregation (a streaming groupBy would need watermarked state for
    * what five marker joins answer statelessly). Docs too short to shingle
    * carry null bands, match no bucket, and survive the near check by
    * construction — the batch operator's behavior exactly. Returns the
    * finished query.
    */
  private[graft] def streamingIncrementalQuery(
      spark: org.apache.spark.sql.SparkSession,
      existing: DataFrame,
      in: String,
      out: String,
      cp: String,
      maxFilesPerTrigger: Option[Int] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    // the existing corpus's materialized artifacts (static sides): ONE
    // scan via corpusArtifacts feeds the hash table and all band buckets
    val art = corpusArtifacts(existing)
    val hashes = art.select("h").distinct().withColumn("hit_exact", lit(1))
    val buckets = (0 until minhashBandCount).map { b =>
      art.select(col(s"band$b").as(s"sband$b"))
        .filter(col(s"sband$b").isNotNull)
        .distinct().withColumn(s"hit$b", lit(1))
    }
    val stream = OneShot.source(spark, docSchema, in, maxFilesPerTrigger)
    // narrow signature on the stream: the same guarded hashAndBands
    // projection as the artifact build — short docs get GENUINELY NULL
    // bands (null never equi-joins -> no near match; the guard matters
    // because concat_ws skips NULL elements, which would otherwise fold
    // every short doc's bands to the shared md5('') constant)
    val withSig = hashAndBands(stream, Seq(col("doc_id"), col("text")))
    val checked = buckets.zipWithIndex.foldLeft(
      withSig.join(broadcast(hashes), Seq("h"), "left_outer")) {
      case (acc, (bk, b)) =>
        acc.join(broadcast(bk), col(s"band$b") === col(s"sband$b"), "left_outer")
          .drop(s"sband$b")
    }
    OneShot.toParquet(
      checked
        .filter(col("hit_exact").isNull &&
          (0 until minhashBandCount)
            .map(b => col(s"hit$b").isNull).reduce(_ && _))
        .select(col("doc_id"), length(col("text")).cast("int").as("n_chars")),
      out, cp)
  }

  /** Driver query for [[streamingIncrementalQuery]]: the same
    * existing/incoming construction as the batch `dedup_incremental`
    * query, run as an AvailableNow stream — the results are identical by
    * design and share one oracle twin. (The broadcast hints on the
    * artifact sides fit TEST scale; at 100 TB the hash/bucket tables
    * out-grow broadcast and the same joins run as shuffled stream-static
    * equi-joins per micro-batch — the plan demotes gracefully, nothing
    * about the operator changes.)
    */
  def runStreamingIncremental(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val base = graft.spark.TmpDirs.create("graft_sincr_")
    val out = s"$base/out"
    val existing = ingestSplit(graft.spark.Transcripts.documents(spark, sfDir)).existing
    val in = graft.spark.Staged.incomingDocs(spark, sfDir)
    OneShot.withShufflePartitions(spark, OneShot.stateShards) {
      streamingIncrementalQuery(spark, existing, in, out, s"$base/cp")
    }
    spark.read.parquet(out)
  }

  /** STREAMING near-dup: one survivor per MinHash band-0 bucket via
    * `dropDuplicatesWithinWatermark` — the streaming member of the NEAR-dup
    * family (the exact-dup streaming member keys on event_id;
    * [[graft.operators.Events.runStreamingDedup]]). The signature is a
    * stateless narrow map (the native `shingles3`/`minhash16` kernels run
    * unchanged inside Structured Streaming), so the only state is one key
    * per band bucket inside the watermark horizon — the bounded-state shape
    * a 10^12-doc stream needs; a single band is the coarse
    * high-recall-low-precision first stage, with the verify stage running
    * as the batch [[minhashJaccard]] over the survivors downstream.
    * Deterministic aggregate outputs (survivors == distinct band-0 buckets)
    * keep the full SQL oracle; the harness watermark covers the corpus span
    * (single-file input = one micro-batch) so the equality is structural.
    */
  def runStreamingNearDup(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val base = graft.spark.TmpDirs.create("graft_sneardup_")
    val out = s"$base/out"
    val in = graft.spark.Staged.docsWithDups(spark, sfDir)
    OneShot.withShufflePartitions(spark, OneShot.stateShards) {
      streamingNearDupQuery(spark, in, out, s"$base/cp")
    }
    spark.read.parquet(out).agg(
      count(lit(1)).cast("long").as("n_survivors"),
      countDistinct(col("band0")).cast("long").as("n_buckets"))
  }

  /** The streaming near-dup query itself, parameterized on the input dir
    * and `maxFilesPerTrigger` — exposed so the spec can force MULTIPLE
    * AvailableNow micro-batches and pin the cross-batch state path (a
    * band-0 bucket claimed in batch 1 must still suppress a duplicate
    * arriving in batch 2 while the watermark covers both). Returns the
    * finished query.
    */
  private[graft] def streamingNearDupQuery(
      spark: org.apache.spark.sql.SparkSession,
      in: String,
      out: String,
      cp: String,
      maxFilesPerTrigger: Option[Int] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val sig = OneShot.source(spark, docSchema.add("ts", TimestampType), in,
      maxFilesPerTrigger)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("ts"),
        graft.spark.HashFunctions.minHash16(shingles(col("text"))).as("mh"))
      .withColumn("band0", md5(concat_ws("_",
        (0 until minhashRowsPerBand)
          .map(r => element_at(col("mh"), r + 1).cast("string")): _*)))
      .select(col("doc_id"), col("ts"), col("band0"))
    OneShot.toParquet(
      sig.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark("band0"),
      out, cp)
  }

  /** The canonical two-stage MinHash pipeline: candidate pairs from the LSH
    * bands ([[bandsToPairs]]) VERIFIED by exact shingle Jaccard — the scale
    * answer to "n-gram Jaccard can't run all-pairs": the quadratic
    * comparison only happens inside band buckets, then the exact measure
    * confirms each candidate. Two equi-joins fetch the shingle sets of the
    * surviving pair ids; at 100 TB both join a small candidate table
    * against the signature/shingle store.
    *
    * The [[shingleTable]] (doc_id, grams) is materialized ONCE (eager
    * localCheckpoint) and feeds BOTH the banding and the verify joins — the
    * native `shingles3` kernel runs exactly one pass over the corpus
    * (plan-pinned: the returned query's plan contains zero shingles3
    * evaluations, only the checkpointed table). Production swaps the
    * executor-local checkpoint for a persisted shingle/signature table; as
    * with [[clustersFromPairs]], the checkpointed blocks are released by
    * the ContextCleaner when the returned DataFrame is dropped.
    */
  def minhashJaccard(doc: DataFrame): DataFrame = {
    val g = shingleTable(withInjectedDups(doc)).localCheckpoint(true)
    val pairs = bandsToPairs(signatureFromGrams(g))
    val inter = size(array_intersect(col("a_grams"), col("b_grams"))).cast("double")
    val jac = inter /
      (size(col("a_grams")) + size(col("b_grams")) - inter).cast("double")
    pairs
      .join(g.select(col("doc_id").as("a_id"), col("grams").as("a_grams")), Seq("a_id"))
      .join(g.select(col("doc_id").as("b_id"), col("grams").as("b_grams")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= minhashMinJaccard)
  }

  /** Floor of a verified [[minhashJaccard]] pair's 4-digit rounded Jaccard. */
  val minhashMinJaccard = 0.5

  /** Iteration cap for [[clustersFromPairs]]: min-label propagation
    * converges in O(component diameter) rounds, and LSH-verified near-dup
    * components are quasi-cliques (every member pair shared a band bucket
    * and passed exact-Jaccard verification), so real diameters are 1-3;
    * the cap is a loud-failure guard against an adversarial long-chain
    * graph, never a silent truncation ([[clustersFromPairs]] aborts, not
    * returns, on non-convergence).
    */
  val clusterMaxIterations = 20

  /** Transitive dup-CLUSTER resolution over the verified near-dup pairs —
    * the step pairwise output can't replace: with A~B and B~C but A≁C, a
    * pair-based "drop the larger id" keeps C; the component {A,B,C} must
    * dedup to ONE survivor. Pipeline: [[minhashJaccard]] candidates →
    * connected components → cluster_id = min doc_id of the component.
    */
  def dupClusters(doc: DataFrame): DataFrame =
    clustersFromPairs(minhashJaccard(doc).select(col("a_id"), col("b_id")))

  /** Source priority for [[clusterKeep]]: a deterministic stand-in rank
    * derived from the source name (real deployments supply a curated >
    * books > web preference table; swapping it in changes only this
    * expression / a broadcast-joined table). The numeric suffix parse is
    * BOUNDED to 6 digits in both engines — an unbounded parse diverges on
    * long suffixes (Spark CAST overflows to NULL where DuckDB errors).
    */
  def sourcePriority: Column =
    pmod(expr("CAST(substring(source, 4, 6) AS INT)"), lit(3))

  /** Priority-aware dup-cluster retention: keep the HIGHEST-PRIORITY
    * member of each cluster (tie -> lowest doc_id) instead of blindly the
    * min id — the curation rule when sources have a preference order
    * (curated > reference > crawl: losing the curated copy of a dup pair
    * to an id accident throws away provenance and licensing). Docs in no
    * cluster are implicitly kept (they never appear in the pair graph).
    *
    * Plan shape: [[dupClusters]] (the iterative propagation) + one join to
    * the per-doc priority (injected +1000000 copies inherit their
    * original's source via mod) + a `row_number` window PARTITIONED BY
    * cluster_id — the window shuffle is keyed by cluster, and clusters are
    * quasi-cliques of near-dups (small by construction), so no partition
    * exceeds the cluster-size bound the pairing caps already enforce.
    */
  def clusterKeep(doc: DataFrame): DataFrame =
    clusterKeepFrom(doc,
      doc.select(col("doc_id"), sourcePriority.cast("int").as("priority")))

  private val prefGuardSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[clusterKeep]] with a real `(source, priority)` preference TABLE —
    * the documented drop-in for the expression stand-in: the table is tiny
    * (one row per source) and BROADCAST-joined to the corpus, so the
    * priority lookup costs one map-side hash probe per doc, no shuffle.
    * The join is LEFT OUTER: a source missing from the table keeps its
    * docs at priority -1 (below every listed source) instead of silently
    * deleting them from the retention output, and a
    * `graft_guard_pref_unlisted_*` observed metric counts the misses —
    * the [[graft.operators.Sampling.stratifiedSample]] unlisted-stratum
    * convention, because a pref-table typo at 100 TB must be loggable,
    * never a silent data hole.
    */
  def clusterKeepWith(doc: DataFrame, pref: DataFrame): DataFrame =
    clusterKeepFrom(doc,
      doc.join(broadcast(pref), Seq("source"), "left_outer")
        .observe(s"graft_guard_pref_unlisted_${prefGuardSeq.incrementAndGet()}",
          sum(when(col("priority").isNull, 1L).otherwise(0L)).as("unlisted_rows"))
        .select(col("doc_id"),
          coalesce(col("priority"), lit(-1)).cast("int").as("priority")))

  /** The retention core over a prebuilt per-doc `(doc_id, priority)` table.
    * Injected +1000000 dup copies inherit their original's priority by
    * INJECTING the priority table the same way [[withInjectedDups]] injects
    * the corpus — a direct doc_id equi-join, with no assumption about id
    * magnitudes (the previous `pmod(doc_id, 1000000)` recovery silently
    * mis-attributed priorities on any corpus with real ids >= 1,000,000).
    */
  private def clusterKeepFrom(doc: DataFrame, prioBase: DataFrame): DataFrame = {
    val clusters = dupClusters(doc)
    val prio = prioBase.unionAll(
      prioBase.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("priority")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("priority").desc, col("doc_id").asc)
    clusters
      .join(prio, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("priority"),
        (col("rn") === 1).as("keep"))
  }

  /** Connected components by iterative min-label propagation: each round,
    * every node takes the min of its own label and its neighbors' labels;
    * fixpoint = every node labeled with its component's min id. Scale
    * shape: each round is ONE equi-join (edges ⋈ labels) plus ONE
    * map-side-partial groupBy — the standard label-propagation round a
    * 10^12-edge graph runs; rounds = component diameter (tiny here, see
    * [[clusterMaxIterations]]; a corpus with adversarial diameters would
    * switch to the O(log n) large-star/small-star alternation, same
    * per-round plan shape). Each iteration is truncated with an eager
    * `localCheckpoint` so the plan never grows with the iteration count
    * (production: a reliable checkpoint dir instead of executor-local
    * blocks). Deterministic: the fixpoint (min id per component) does not
    * depend on join or iteration order, so the DuckDB recursive-CTE twin
    * is exact.
    */
  /** Best-effort release of a superseded EAGER localCheckpoint's blocks.
    * Dataset exposes no unpersist for them (the blocks are otherwise freed
    * only when the GC'd RDD reaches the ContextCleaner), and up to
    * [[clusterMaxIterations]] retained label generations would pressure
    * executor storage on a large graph; the checkpointed data is the
    * LogicalRDD at the root of the checkpointed Dataset's plan. Callers
    * pass only generations whose successor has already been EAGERLY
    * materialized, so the freed blocks can never be re-read.
    */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    } catch {
      // best-effort: GC/ContextCleaner fallback — but never swallow fatals,
      // and restore the interrupt flag if one arrives mid-unpersist
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }

  /** One propagation round over (edges, labels): every node takes the min
    * of its own label and its neighbors' labels; `prev` (the node's old
    * label — every node has exactly one labels row, so min(prev) over the
    * group recovers it past the sentinel on neighbor rows) materializes
    * alongside `label` so convergence is decided from the SAME aggregation.
    */
  private def clusterStep(edges: DataFrame, labels: DataFrame): DataFrame = {
    val viaNeighbor = edges
      .join(labels.select(col("id").as("dst"), col("label")), "dst")
      .select(col("src").as("id"), col("label"))
    labels.withColumn("prev", col("label"))
      .unionAll(viaNeighbor.withColumn("prev", lit(Long.MaxValue)))
      .groupBy("id").agg(min("label").as("label"), min("prev").as("prev"))
  }

  /** NOTE on retention: the returned DataFrame's plan roots at the FINAL
    * label generation's eager localCheckpoint — those blocks stay alive as
    * long as the caller holds the result (they ARE the result; the
    * ContextCleaner frees them once the DataFrame is garbage). Callers that
    * need eager release should write the result out and drop the reference.
    */
  def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var checkpointed = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var labels = checkpointed
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < clusterMaxIterations) {
      iters += 1
      // ONE action per round: the changed-count rides the propagation
      // groupBy as an observed metric, collected by the eager checkpoint's
      // own job — no separate count() action (each extra driver round-trip
      // at 10^12 edges is a full cluster barrier). The metric is read back
      // SYNCHRONOUSLY from the executed plan's accumulators (the
      // checkpoint ran exactly this QueryExecution), not via the async
      // listener path.
      val metricName = s"graft_cluster_round_${capMetricSeq.incrementAndGet()}"
      val observed = clusterStep(edges, labels)
        .observe(metricName,
          sum(when(col("label") < col("prev"), 1L).otherwise(0L)).as("changed"))
      val step = observed.localCheckpoint(true) // EAGER: prior generation now dead
      freeLocalCheckpoint(checkpointed)
      checkpointed = step
      changed = observed.queryExecution.observedMetrics.get(metricName) match {
        case Some(row) => if (row.isNullAt(0)) 0L else row.getLong(0)
        case None => sys.error( // loud, never a silent wrong fixpoint
          s"observed metric $metricName missing after the checkpoint action")
      }
      labels = step.select("id", "label")
    }
    freeLocalCheckpoint(edges) // the result depends only on the final labels
    require(changed == 0,
      s"dup-cluster propagation did not converge in $clusterMaxIterations rounds " +
        "(component diameter exceeds the cap — see clusterMaxIterations scaladoc)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** 16-bit SimHash over tokens: bit b set iff the majority of token hashes
    * have bit b set (strict majority; tie -> 0). Token hash = first 4 md5 hex
    * chars as int. Routed through the native one-pass
    * [[graft.spark.SimHashKernel.simhash16]] kernel — the HOF form ran one md5
    * `transform` plus SIXTEEN interpreted `filter` traversals of the
    * token-hash array per document. Bit-identical (pinned by a parity spec
    * against the test-only HOF twin and by the unchanged DuckDB twin).
    */
  val simhashBits = 16

  def simhash(doc: DataFrame): DataFrame =
    doc.select(col("doc_id"),
      graft.spark.HashFunctions.simHash16(col("text")).as("simhash"))

  /** OR-of-rotations SimHash blocking: [[simhashBandCount]] cyclic 8-bit
    * windows of the 16-bit signature at stride 4 (windows starting at bits
    * 0, 4, 8, 12). A pair is a candidate if ANY window agrees — the same
    * banded-LSH shape as [[minhashBands]]. Versus the single 8-bit-prefix
    * block this fixes BOTH scale problems at once:
    *   - key cardinality: 4 band indices x 256 window values = 1024 shuffle
    *     keys instead of 256, and (critically) a degenerate block is bounded
    *     by [[simhashMaxBlock]] like [[minhashMaxBucket]];
    *   - recall: a pair whose flipped bits all land in one byte is missed by
    *     prefix blocking but caught by whichever rotated window is clean
    *     (pinned by a unit test flipping only bit 15).
    */
  val simhashBandCount = 4

  /** Cyclic 8-bit window of the 16-bit `sig` starting at bit `4*b`. */
  def simhashRotBlock(sig: Column, b: Int): Column = {
    val lo = shiftright(sig, 4 * b)
    val hi = shiftleft(sig, 16 - 4 * b)
    (lo.bitwiseOR(hi)).bitwiseAND(lit(255)).cast("int")
  }

  /** Degenerate-block guard (the [[minhashMaxBucket]] pattern): a rotation
    * block larger than this is DROPPED WHOLE — at that size the block key
    * carries no discriminating signal (a 16-bit signature window shared by
    * >10k documents is boilerplate/templating, and its quadratic pairing is
    * both unaffordable and a near-useless dup signal), which is the
    * standard production choice; pairs inside such a block — including any
    * exact dups — are intentionally not reported by THIS operator (the
    * exact-dup operator catches them by content hash). Never reached at
    * test scale (largest observed block ~700 at sf0.1), so the DuckDB twin
    * needs no cap branch; a corpus large enough to hit it would need the
    * oracle twin to grow the same cap.
    */
  val simhashMaxBlock = 10000

  /** Largest signature hamming distance [[simhashPairs]] reports. */
  val simhashMaxHamming = 3

  /** SimHash near-dup PAIRS (the signature alone dedups nothing): banded
    * rotation blocking ([[simhashRotBlock]]), hamming distance <=
    * [[simhashMaxHamming]] inside each block via `bit_count(xor)`. ONE
    * shuffle total: signatures explode on (band_idx, band_val), each block
    * collects its (doc_id, simhash) structs once, and sorted in-block pairs
    * are generated with an array expression — no self-join (the signature map is computed
    * exactly once). Runs over the dup-injected corpus so exact duplicates
    * (hamming 0) are guaranteed positives.
    */
  def simhashPairs(doc: DataFrame): DataFrame =
    simhashPairsFromSig(simhash(withInjectedDups(doc)))

  /** Pairing stage over a prebuilt (doc_id, simhash) table — exposed so the
    * rotation-vs-prefix recall property can be unit-tested on synthetic
    * signatures.
    */
  def simhashPairsFromSig(sig: DataFrame): DataFrame = {
    val bands = array((0 until simhashBandCount).map(b =>
      simhashRotBlock(col("simhash"), b)): _*)
    val blocks = sig
      .select(col("doc_id"), col("simhash").cast("int").as("simhash"),
        posexplode(bands).as(Seq("band_idx", "band_val")))
      .groupBy("band_idx", "band_val")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
    cappedBlocks(blocks, "ms", "simhash", simhashMaxBlock)
      // in-block quadratic comparison via the native one-pass
      // [[graft.spark.SimHashPairsKernel.pairs]] kernel: only pairs within the distance
      // are ever materialized (the HOF form built EVERY in-block pair as an
      // interpreted struct before the filter — blocks cluster to ~700 docs
      // on natural-language signatures, so that was millions of structs)
      .select(explode(
        graft.spark.HashFunctions.simHashPairs(col("ms"), simhashMaxHamming)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.hamming").as("hamming"))
      .distinct()
  }

  /** Embeddings plus injected near-dups: every vector gets a copy (vec_id +
    * 10000) with dim 1 shifted by +0.5 — cosine with the original lands near
    * (but not exactly) 1, giving the near-dup operator guaranteed positives
    * with per-pair variation. Everything is double math with a DuckDB twin.
    */
  def withInjectedNearDups(emb: DataFrame): DataFrame = {
    val asDouble = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    val perturbed = expr(
      """transform(sequence(1, 64),
        |  i -> IF(i = 1, CAST(element_at(embedding, i) AS DOUBLE) + 0.5D,
        |          CAST(element_at(embedding, i) AS DOUBLE)))""".stripMargin)
    emb.select(col("vec_id"), asDouble.as("emb"))
      .unionAll(emb.select((col("vec_id") + 10000L).as("vec_id"), perturbed.as("emb")))
  }

  /** Random-hyperplane LSH banding computed from the CONTENT of the `emb`
    * double[64] column: [[nearDupBands]] independent bands of
    * [[nearDupPlanesPerBand]] hyperplanes; a candidate pair is any two
    * vectors agreeing on ALL planes of AT LEAST ONE band (OR-of-bands, the
    * same banded-LSH shape as [[minhashBands]]). Band width sets
    * SELECTIVITY (8 planes = 256 bucket values, so in-bucket cross products
    * stay tiny), band count sets RECALL (one near-zero plane dot flips a
    * band; 12 independent chances recover >90% of the injected twins —
    * measured: a single 8-plane bucket gets 25%, and 2-plane bands have
    * only 4 bucket values whose cross products blow up the join).
    *
    * The ±1 sign matrix is a CONSTANT: generated by a splitmix64-style
    * mixer in [[nearDupSign]] and inlined as literals into both the Spark
    * plan and the DuckDB oracle — the generator needs no SQL form, only
    * its output does. (The earlier `(n*(j+3)) % 7` arithmetic family has
    * period 7, so planes beyond the 7th were duplicates.)
    */
  val nearDupBands = 12
  val nearDupPlanesPerBand = 8

  /** Constant sign (+1/-1) of plane `j`, dimension `n` (1-based). */
  def nearDupSign(j: Int, n: Int): Int = {
    var z = j.toLong * 0x9E3779B97F4A7C15L + n.toLong * 0xBF58476D1CE4E5B9L +
      0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    if ((z & 1L) == 0L) 1 else -1
  }

  private def planeDotD(j: Int): Column = {
    val signs = (1 to 64).map(n => nearDupSign(j, n).toDouble)
    graft.spark.VectorFunctions.vecDot(col("emb"), typedlit(signs))
  }

  /** Value of LSH band `b` (an int in [0, 2^planesPerBand)). */
  def nearDupBandValue(b: Int): Column =
    (0 until nearDupPlanesPerBand)
      .map(r => when(planeDotD(b * nearDupPlanesPerBand + r) > 0d, 1 << r).otherwise(0))
      .reduce(_ + _)
      .cast("int")

  /** Degenerate-bucket guard for [[nearDupPairs]] (the [[minhashMaxBucket]]
    * pattern): an (band_idx, band_val) block larger than this is DROPPED
    * WHOLE — at 100 TB a boilerplate-heavy embedding cluster (e.g. a
    * near-constant template vector) collapses into one bucket whose
    * quadratic pairing is unbounded, and whose members are better handled
    * by the exact-dup operator. Never reached at test scale, so the DuckDB
    * twin needs no cap branch; drops are observable via
    * [[registerCapLogger]], never silent.
    */
  val nearDupMaxBucket = 10000

  /** Near-dup pairs by cosine within content-derived LSH bands over a
    * (vec_id, emb: array<double>[64]) table. ONE scan and ONE shuffle
    * total — the [[minhashBands]]/[[simhashPairsFromSig]] shape: the
    * banding projection (96 plane dots per row, the expensive map) runs
    * exactly once, rows explode on (band_idx, band_val), each bucket
    * collects its (vec_id, emb, na) structs, and sorted in-bucket pairs
    * are generated by CHAINED explodes — no self-join (the earlier
    * two-sided join re-computed the banding over the whole corpus for each
    * side; pinned gone by a single-scan plan test). Pair generation is
    * STREAMED: posexplode anchors each left element, a second explode
    * emits its right partners from a slice — transient memory per task is
    * O(bucket), never the O(bucket^2) a flattened pair array with embedded
    * embeddings would materialize as one value (at the cap that array
    * would be ~55 GB; the streamed form peaks at one slice). The per-pair
    * cosine runs in the post-explode codegen'd projection (native
    * `vecDot`), with squared norms computed once per row before the
    * shuffle, and the bucket column is dropped before `distinct`'s
    * exchange so only (a_id, b_id, cos) ever shuffles. Buckets above
    * [[nearDupMaxBucket]] are dropped whole (observable, see
    * [[registerCapLogger]]).
    */
  def nearDupPairs(base: DataFrame, minCos: Double): DataFrame = {
    import graft.spark.VectorFunctions.vecDot
    val bands = array((0 until nearDupBands).map(nearDupBandValue): _*)
    val buckets = base
      .withColumn("na", vecDot(col("emb"), col("emb")))
      .select(col("vec_id"), col("emb"), col("na"),
        posexplode(bands).as(Seq("band_idx", "band_val")))
      .groupBy("band_idx", "band_val")
      // sorts by vec_id (unique first field), so pair generation over
      // (i, j > i) preserves the a_id < b_id contract of the old join
      .agg(array_sort(collect_list(struct(col("vec_id"), col("emb"), col("na")))).as("vs"))
    streamedPairs(buckets, "vs", "neardup", nearDupMaxBucket)
      .select(
        col("a.vec_id").as("a_id"),
        col("b.vec_id").as("b_id"),
        Similarity.roundedCos(vecDot(col("a.emb"), col("b.emb")), col("a.na"), col("b.na"))
          .as("cos"))
      .filter(col("cos") >= minCos)
      .distinct()
  }

  /** Embedding near-dup over the corpus with injected positives. Blocking is
    * CONTENT-based ([[contentBucket]]) — an id-blind near-dup pair is found
    * whenever the hyperplane signature agrees (pinned by a unit test with
    * unrelated ids); an injected twin whose +0.5 dim-1 shift flips a
    * near-zero plane bit is the expected LSH recall trade-off (mitigated in
    * production by multiple band tables, as in [[minhashBands]]).
    */
  def embeddingNearDup(emb: DataFrame): DataFrame =
    nearDupPairs(withInjectedNearDups(emb), nearDupCos)

  /** Floor of a near-duplicate pair's 6-digit rounded cosine, for
    * [[embeddingNearDup]] and every `semanticDedup*` operator.
    */
  val nearDupCos = 0.8

  /** Degenerate-cell guard for [[semanticDedup]] (the [[minhashMaxBucket]]
    * pattern): in-cell pairing is quadratic, so a collapsed cluster (e.g.
    * a near-constant template embedding) is dropped whole — observable via
    * [[registerCapLogger]], never silent; its members belong to the exact
    * or LSH dedup operators. At 100 TB the real dial is the CLUSTER COUNT
    * (SemDeDup sizes k so cells stay pair-tractable); the cap only catches
    * the degenerate tail.
    */
  val semanticMaxCell = 10000

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster the embeddings, and within each cluster drop all but one
    * member of every cosine-duplicate pair — keeping the member FARTHEST
    * from the cluster centroid (the paper's choice: boundary examples
    * carry more training signal than prototypical ones). Complements
    * [[embeddingNearDup]]: LSH banding finds pairs agreeing on some
    * hyperplane band anywhere in the corpus; semantic dedup scopes the
    * quadratic pairing to semantic CLUSTERS — the shape that scales by
    * raising the cluster count. The clusterer here is [[Similarity]]'s
    * deterministic first-K-vectors quantizer (no RNG/k-means iterations,
    * so the DuckDB twin is exact); swapping in trained k-means centroids
    * changes only the collected centroid table.
    *
    * Plan shape: assignment is the zero-Exchange narrow map (centroids
    * collected ONCE — [[Similarity.centroidCollects]]); ONE shuffle
    * (groupBy cell), and BOTH outputs — the per-vector rows and the
    * in-cell dup pairs — are derived from that single aggregated `cells`
    * table, so Catalyst's ReuseExchange runs the expensive scoring map and
    * its shuffle once (spec-pinned: one scan / ReusedExchange). In-cell
    * pair generation is STREAMED (the [[nearDupPairs]] chained-explode
    * form, O(cell) transient); cells above [[semanticMaxCell]] drop whole
    * (observable). Drop rule per dup pair: the member with the HIGHER
    * centroid cosine loses; ties lose on the larger vec_id. Output: one
    * row per vector `(vec_id, cell, centroid_cos, dropped)`.
    */
  def semanticDedup(emb: DataFrame): DataFrame = {
    val base = withInjectedNearDups(emb)
      .select(col("vec_id"), col("emb").as("embedding"))
    semanticDedupFrom(base, Similarity.collectCentroids(base))
  }

  /** [[semanticDedup]] over an ALREADY-PREPARED `(vec_id, embedding
    * double[])` base — no dup injection; the form group-POOLED vectors
    * feed (e.g. [[Similarity.pooledEmbeddings]]' conversation-level
    * means, where "duplicates" are real group-level redundancy, not
    * injected fixtures). Identical plan family to [[semanticDedup]].
    */
  def semanticDedupOn(base: DataFrame): DataFrame =
    semanticDedupFrom(base, Similarity.collectCentroids(base))

  /** [[semanticDedup]] with TRAINED k-means centroids — the quantizer swap
    * its scaladoc promises: [[Similarity.trainCentroids]] iterates the
    * fixed-point Lloyd step over the same dup-injected base, and the
    * trained table drops in as the collected centroid argument. Tighter
    * clusters concentrate the true near-dups into shared cells (SemDeDup's
    * premise: the clustering quality IS the recall dial), with the plan
    * shape unchanged — training adds [[Similarity.kmeansIters]]
    * (assignment map + O(cells) shuffle) rounds up front, nothing
    * downstream.
    */
  def semanticDedupTrained(emb: DataFrame): DataFrame = {
    val base = withInjectedNearDups(emb)
      .select(col("vec_id"), col("emb").as("embedding"))
    semanticDedupFrom(base, Similarity.trainCentroids(base, Similarity.kmeansIters))
  }

  /** The SemDeDup core over a prebuilt `(vec_id, embedding)` base and an
    * already-collected centroid table (first-K or trained).
    */
  private def semanticDedupFrom(
      base: DataFrame, cents: Array[(Long, Array[Double])]): DataFrame = {
    import graft.spark.VectorFunctions.vecDot
    val cells = Similarity.ivfAssignScoredWith(base, cents)
      .groupBy("cell")
      // sorted by vec_id (unique first field) so in-cell (i, j > i) pair
      // generation preserves the a_id < b_id contract
      .agg(array_sort(collect_list(
        struct(col("vec_id"), col("embedding"), col("na"), col("centroid_cos"))))
        .as("vs"))
    val rows = cells.select(col("cell"), explode(col("vs")).as("v"))
      .select(col("v.vec_id").as("vec_id"), col("cell"),
        col("v.centroid_cos").as("centroid_cos"))
    val dropped = streamedPairs(cells, "vs", "semdedup", semanticMaxCell)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.centroid_cos").as("ac"), col("b.centroid_cos").as("bc"),
        Similarity.roundedCos(vecDot(col("a.embedding"), col("b.embedding")),
          col("a.na"), col("b.na")).as("cos"))
      .filter(col("cos") >= nearDupCos)
      // a_id < b_id always holds (pairs come from a vec_id-sorted array),
      // so "ties lose on the larger vec_id" IS the otherwise branch
      .select(when(col("ac") > col("bc"), col("a_id"))
        .otherwise(col("b_id")).as("vec_id"))
      .distinct()
    flagDropped(rows, dropped)
  }

  /** One row per vector of `rows` — `(vec_id, cell, centroid_cos,
    * dropped)` — with `dropped` true iff its `vec_id` is in `dropped`:
    * the output of every `semanticDedup*` operator.
    */
  private def flagDropped(rows: DataFrame, dropped: DataFrame): DataFrame =
    rows.select(col("vec_id"), col("cell"), col("centroid_cos"))
      .join(dropped.withColumn("d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("centroid_cos"),
        coalesce(col("d"), lit(false)).as("dropped"))

  /** Block-hash ARTIFACT of the existing corpus for [[spanDedupIncremental]]:
    * the distinct md5s of its [[spanTokens]]-token blocks, eagerly
    * materialized — at 100 TB this is the persisted table the corpus
    * maintains per ingest epoch alongside its content-hash, band, and
    * cell artifacts (the [[corpusArtifacts]] / [[semanticArtifacts]]
    * pattern at span granularity).
    */
  def spanArtifacts(existing: DataFrame): DataFrame =
    spanBlocks(existing).select(col("h")).distinct().localCheckpoint(true)

  /** The shared doc→blocks projection of [[spanDedup]] /
    * [[spanDedupIncremental]]: narrow posexplode into
    * `(doc_id, pos, block, h)` via the native one-pass
    * [[graft.spark.SpanBlocksKernel.spanBlocks]] kernel (the HOF
    * `transform(sequence...slice)` form re-split the text inside every
    * lambda element — interpreted, O(blocks × tokens) per doc; parity
    * spec pins bit-identical output).
    */
  private def spanBlocks(doc: DataFrame): DataFrame =
    doc.select(col("doc_id"),
        posexplode(graft.spark.HashFunctions.spanBlocks(col("text"), spanTokens))
          .as(Seq("pos", "block")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("block"),
        md5(col("block")).as("h"))

  /** Ingest-time SPAN dedup — the fourth member of the incremental
    * family (content hash, minhash bands, semantic cells, now spans):
    * every INCOMING document drops the blocks the existing corpus
    * already contains and is reassembled from the rest — syndicated
    * boilerplate is stripped at the door while the fresh prose survives.
    * Incoming-vs-incoming spans are out of scope by the incremental
    * contract (each batch joins the corpus artifacts before the next
    * arrives — the [[incrementalDedup]] precedent).
    *
    * Plan: narrow incoming explode, one LEFT equi-join against the
    * artifact's distinct hashes (AQE-handled skew; no corpus text ever
    * rescans — the artifact is 16 bytes per distinct corpus block), one
    * groupBy(doc_id) ordered reassembly. Output mirrors [[spanDedup]]:
    * `(doc_id, n_blocks, n_kept, text_dedup)`.
    */
  def spanDedupIncremental(existingArt: DataFrame, incoming: DataFrame): DataFrame =
    spanBlocks(incoming)
      .join(existingArt.withColumn("dup", lit(true)), Seq("h"), "left")
      .withColumn("kept", coalesce(col("dup"), lit(false)) === false)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("block"))))),
            x => x.getField("block")),
          " ").as("text_dedup"))

  /** STREAMING span ingest — [[spanDedupIncremental]] as an AvailableNow
    * stream over the same incoming construction as
    * `dedup_incremental_stream` (shared staged input, shared injection):
    * each micro-batch rewrites its documents against the STATIC block
    * artifact into its own batchId-scoped directory
    * ([[graft.streaming.OneShot.toBatchDirs]], the O20 delivery-sink
    * precedent: a checkpoint-replayed batch rewrites, never duplicates).
    * The corpus artifacts ARE the state — no watermark, no state store —
    * and the rewrite is correct under ANY batch split because one document
    * is one input row: its explode, artifact join, and reassembly all
    * happen inside the batch that carries it.
    * Stream == batch equality is spec-pinned.
    */
  def runStreamingSpanIncremental(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val base = graft.spark.TmpDirs.create("graft_sspan_")
    val out = s"$base/out"
    val existing = ingestSplit(graft.spark.Transcripts.documents(spark, sfDir)).existing
    val art = spanArtifacts(existing)
    val in = graft.spark.Staged.incomingDocs(spark, sfDir)
    spanStreamQuery(spark, art, in, out, s"$base/cp")
    OneShot.readBatchDirs(spark, out)
  }

  /** The streaming span-ingest query itself, parameterized on
    * `maxFilesPerTrigger` — exposed so the spec can force MULTIPLE
    * AvailableNow micro-batches and pin per-batch independence (each doc
    * is rewritten in exactly the batch that carries its row, whatever
    * the split). Returns the finished query.
    */
  private[graft] def spanStreamQuery(
      spark: org.apache.spark.sql.SparkSession,
      art: DataFrame,
      in: String,
      out: String,
      cp: String,
      maxFilesPerTrigger: Option[Int] = None
  ): org.apache.spark.sql.streaming.StreamingQuery =
    OneShot.toBatchDirs(OneShot.source(spark, docSchema, in, maxFilesPerTrigger), out, cp) {
      (batch, _) => spanDedupIncremental(art, batch)
    }

  /** Stop-gram document-frequency cap for [[containmentPairs]] — a
    * shingle appearing in more documents than this is boilerplate and
    * generates no pairs (dropped OBSERVABLY, the [[minhashMaxBucket]]
    * rule in posting-list form).
    */
  val containmentMaxDf = 100

  /** Floor of a [[containmentPairs]] pair's larger rounded containment. */
  val containmentMin = 0.5

  /** Asymmetric CONTAINMENT dedup — the doc-inside-doc detector the
    * Jaccard family is blind to: a short document quoted whole inside a
    * long page has Jaccard ≈ |A|/|B| ≈ 0 (so MinHash bands rarely fire)
    * but containment C(A,B) = |A∩B| / |A| = 1.0. Real pipelines run this
    * alongside near-dup (quote farms, syndicated excerpts, scraped
    * aggregators). Reports both directions plus the shared-shingle count;
    * pairs below [[containmentMin]] in BOTH directions are suppressed.
    *
    * Plan shape — the inverted-index (posting-list) join, all equi-keyed:
    * ONE shingle pass (eager localCheckpoint feeds postings AND sizes),
    * groupBy(shingle) posting lists with the stop-gram cap
    * ([[containmentMaxDf]], `graft_caps_containment_*` observable — at
    * 100 TB the cap is what bounds a boilerplate shingle's bucket),
    * streamed in-bucket pair generation (O(bucket) transient, no
    * flatten), one groupBy(a,b) counting shared shingles, two size joins.
    * No all-pairs anywhere: pair work is O(sum of bucket² over RARE
    * shingles), the same bound the band family lives under.
    */
  def containmentPairs(doc: DataFrame): DataFrame = {
    val g = doc.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles(col("text")).as("grams"))
      .localCheckpoint(true)
    val sizes = g.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
    val postings = g.select(explode(col("grams")).as("shingle"), col("doc_id"))
      .groupBy("shingle")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
    val shared = streamedPairs(postings, "ids", "containment", containmentMaxDf)
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .toDF("a_id", "b_id", "n_shared")
    shared
      .join(sizes.select(col("doc_id").as("a_id"), col("n_grams").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n_grams").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("na").cast("double"), 6).as("c_a_in_b"),
        round(col("n_shared").cast("double") / col("nb").cast("double"), 6).as("c_b_in_a"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= containmentMin)
  }

  /** Block width (in whitespace tokens) for [[spanDedup]]. */
  val spanTokens = 10

  /** Cross-document SPAN dedup with text REWRITE — the substring-dedup
    * family member (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better") at fixed block granularity: documents are
    * cut into consecutive [[spanTokens]]-token blocks, every block keeps
    * exactly its FIRST occurrence corpus-wide (min `(doc_id, pos)`), and
    * each document is REASSEMBLED from its surviving blocks — so a doc
    * that verbatim-borrows a paragraph keeps its own prose and loses only
    * the borrowed span. This differs from the doc-level family (exact /
    * minhash / winnowed flag whole documents): the unit of removal is the
    * span, and the corpus text itself is rewritten.
    *
    * Tiling law (spec-pinned): a document that keeps every block
    * reassembles to its exact original text — blocks tile the token
    * stream. Within-doc repeated blocks dedup the same way (first
    * instance wins).
    *
    * Plan shape, all equi-keyed (no all-pairs anywhere):
    *   1. narrow posexplode of each doc into O(tokens/spanTokens) blocks;
    *   2. keeper table: groupBy(md5(block)) with a min-struct partial agg
    *      — the skew-safe form (a boilerplate block repeated 10^9 times
    *      collapses map-side; a `row_number` window would put those 10^9
    *      rows in ONE task);
    *   3. equi-join blocks back on the hash (AQE handles hot block keys),
    *      keep iff this instance IS the keeper;
    *   4. one groupBy(doc_id) reassembles surviving blocks in pos order
    *      (the [[graft.spark.Transcripts.convRender]] ordered-concat
    *      shape, per-group state O(blocks in one doc)).
    * The keeper TABLE carries only (hash, doc_id, pos) — 32-hex + two
    * longs per distinct block; block text rides the keeper join and the
    * reassembly shuffle (unavoidable: the rewrite must move the text
    * once). Output: `(doc_id, n_blocks, n_kept, text_dedup)` — one row
    * per doc.
    */
  def spanDedup(doc: DataFrame): DataFrame = {
    val blocks = spanBlocks(doc)
    val keepers = blocks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("keeper"))
      .select(col("h"), col("keeper.doc_id").as("k_doc"), col("keeper.pos").as("k_pos"))
    blocks.join(keepers, Seq("h"))
      .withColumn("kept", col("doc_id") === col("k_doc") && col("pos") === col("k_pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("block"))))),
            x => x.getField("block")),
          " ").as("text_dedup"))
  }
}
