package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl-FRONTIER ingest — the URL-side member of the incremental-ingest
  * family ([[Dedup.incrementalDedup]] guards document content; this guards
  * the frontier itself): a batch of discovered URLs is canonicalized
  * (native [[graft.spark.UrlKernel.canonicalize]] kernel), screened against the
  * crawled corpus's canonical-key artifact behind a Bloom prescreen, and
  * the genuinely NEW urls are rate-capped per host before they enter the
  * fetch queue (politeness/anti-spider-trap — the [[Sampling.domainCap]]
  * rule at the frontier).
  *
  * Scale shape: canonicalization + bloom probe are a pure narrow map
  * (the bloom rides the plan as ONE binary literal); a url with no bloom
  * hit is DEFINITELY unseen (no false negatives) and bypasses the join;
  * only bloom candidates run the exact canonical-key equi-join, which
  * also discharges the false positives — verdicts are identical to the
  * bloom-less form BY CONSTRUCTION (the [[Dedup.incrementalDedupBloom]]
  * argument, so the DuckDB twin is the bloom-less SQL). The host cap is
  * decided map-side off a broadcast rate table. At 10^10 frontier keys
  * the artifact is a persisted catalog table and the filter is sized
  * from its cardinality.
  */
object Frontier {

  /** Host component of an already-canonicalized URL (scheme://host...). */
  private val hostPattern = "^[a-z0-9+.-]+://([^/]+)"

  def canonical(url: Column): Column = graft.spark.HashFunctions.urlCanonical(url)

  /** Canonical-key artifact of the crawled corpus, eagerly materialized
    * (the per-epoch catalog table the crawler maintains).
    */
  def frontierArtifact(crawled: DataFrame): DataFrame =
    crawled.select(canonical(col("url")).as("canonical"))
      .distinct().localCheckpoint(true)

  /** Floor for [[frontierBloom]] sizing — [[frontierIngest]] sizes the
    * filter from the ARTIFACT's own cardinality (guide §3.2: "you control
    * the sizing"); the floor only keeps a near-empty artifact from
    * producing a degenerate filter.
    */
  val frontierBloomItems = 100000L

  /** Compact Bloom fingerprint of the frontier artifact's canonical keys
    * (xxhash64 probes — the [[Dedup.corpusBloom]] construction on one
    * column).
    */
  def frontierBloom(art: DataFrame, expectedItems: Long): Array[Byte] =
    Bloom.build(art, xxhash64(col("canonical")), expectedItems)

  /** Frontier ingest verdict for a `(url_id, url)` batch against the
    * crawled artifact: one row per url —
    * `(url_id, canonical, host, dup, kept)` where `dup` = already
    * crawled (exact, bloom-prescreened) and `kept` = new AND surviving
    * the per-host rate cap. `kept` implies `!dup`.
    */
  def frontierIngest(art: DataFrame, incoming: DataFrame): DataFrame = {
    val bloom = frontierBloom(art, Bloom.expectedItems(art, 1L, frontierBloomItems))
    val inc = incoming
      .select(col("url_id"), canonical(col("url")).as("canonical"))
      .withColumn("host", regexp_extract(col("canonical"), hostPattern, 1))
      .withColumn("cand", Bloom.mightContain(bloom, xxhash64(col("canonical"))))
      .localCheckpoint(true)
    val dups = inc.filter(col("cand"))
      .join(art, Seq("canonical"), "left_semi")
      .select(col("url_id"), lit(true).as("dup"))
    val flagged = inc.join(dups, Seq("url_id"), "left")
      .withColumn("dup", coalesce(col("dup"), lit(false)))
    val capped = Sampling.domainCap(
        flagged.filter(!col("dup"))
          .select(col("url_id").as("doc_id"), col("host")), Sampling.domainCapDocs)
      .select(col("doc_id").as("url_id"), col("kept"))
    flagged.join(capped, Seq("url_id"), "left")
      .select(col("url_id"), col("canonical"), col("host"), col("dup"),
        coalesce(col("kept"), lit(false)).as("kept"))
  }
}
