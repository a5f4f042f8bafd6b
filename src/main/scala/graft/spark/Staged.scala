package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-process cache of materialized streaming-harness INPUTS. Every
  * streaming query reads its input as files on disk (a file-stream source,
  * [[graft.streaming.OneShot.source]]) — but the input only depends on
  * (sfDir, shape), so one Verify/Bench run used to write the identical
  * transcript/events parquet three times. Checkpoints and outputs stay
  * per-run (fresh [[TmpDirs]] each call); only the immutable staged input is
  * shared.
  */
object Staged {

  private val cache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Writes `df` once per `key` into a fresh [[TmpDirs]] directory and
    * returns that directory on every call.
    */
  private def stage(key: String, prefix: String)(df: => DataFrame): String =
    cache.getOrElseUpdate(key, {
      val p = TmpDirs.create(prefix)
      df.write.mode("overwrite").parquet(p)
      p
    })

  /** The derived transcripts table, staged once per sfDir (used by the
    * streaming-extraction and postback-sink harnesses).
    */
  def transcripts(spark: SparkSession, sfDir: String): String =
    stage(s"transcripts:$sfDir", "graft_staged_t_")(Transcripts.fromDocuments(spark, sfDir))

  /** The raw conversation turns as ONE file (the streaming-render input),
    * staged once per sfDir.
    */
  def rawTurns(spark: SparkSession, sfDir: String): String =
    stage(s"rawTurns:$sfDir", "graft_staged_rt_")(
      Transcripts.rawTurns(spark, sfDir).coalesce(1))

  /** The events table as-is, staged once per sfDir. */
  def events(spark: SparkSession, sfDir: String): String =
    stage(s"events:$sfDir", "graft_staged_e_")(graft.operators.Events.events(spark, sfDir))

  /** The events table with every 5th event duplicated (the streaming-dedup
    * injection), staged once per sfDir. ONE file: a single input file
    * guarantees a single AvailableNow micro-batch, making the
    * dedup-sees-every-duplicate property structural rather than dependent
    * on file batching.
    */
  def eventsWithDups(spark: SparkSession, sfDir: String): String =
    stage(s"eventsDups:$sfDir", "graft_staged_ed_") {
      val src = graft.operators.Events.events(spark, sfDir)
      src.unionByName(src.filter(pmod(col("event_id"), lit(5)) === 0)).coalesce(1)
    }

  /** The dup-injected documents corpus with a deterministic event-time
    * column (the streaming-NEAR-dup input), staged once per sfDir. ONE file
    * for the same single-micro-batch guarantee as [[eventsWithDups]].
    */
  def docsWithDups(spark: SparkSession, sfDir: String): String =
    stage(s"docsDups:$sfDir", "graft_staged_dd_")(
      graft.operators.Dedup
        .withInjectedDups(Transcripts.documents(spark, sfDir))
        .withColumn("ts", (lit(1767225600L) + col("doc_id")).cast("timestamp"))
        .coalesce(1))

  /** The INCOMING side of the incremental-dedup queries
    * ([[graft.operators.Dedup.IngestSplit.incoming]], the batch
    * `dedup_incremental` input exactly), staged once per sfDir. ONE file (single-micro-batch
    * guarantee); the streaming spec stages its own multi-file variant.
    */
  def incomingDocs(spark: SparkSession, sfDir: String): String =
    stage(s"incoming:$sfDir", "graft_staged_in_")(
      graft.operators.Dedup.ingestSplit(Transcripts.documents(spark, sfDir)).incoming.coalesce(1))
}
