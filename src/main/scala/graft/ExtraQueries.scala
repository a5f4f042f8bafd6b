package graft

import graft.spark.{ExtractPipeline, Lineage, Transcripts}
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline-level property queries: salt invariance (O16), checkpointed
  * lineage (O19), and the Structured-Streaming form (SURVEY.md §2.10).
  */
object ExtraQueries {

  /** Salt invariance: the extraction output must be identical no matter how
    * the work is distributed (4 vs 16 partitions) — the property the
    * reference gets for free from per-message queueing and we must guarantee
    * under salted repartition. Output: one row (n_total, n_mismatch=0).
    */
  private def saltInvariance(s: SparkSession, dir: String): DataFrame = {
    val transcripts = Transcripts.fromDocuments(s, dir)
    def run(parts: Int) =
      ExtractPipeline.extract(s, transcripts, numPartitions = parts)
        .select("conv_id", "turn_idx", "text", "status", "engine")
    val a = run(4).as("a")
    val b = run(16).as("b")
    val joined = a.join(b, Seq("conv_id", "turn_idx"), "full")
    // single pass: each pipeline variant executes exactly once
    val row = joined.agg(
      count(col("a.status")).as("n_total"),
      sum(when(
        col("a.text").isNull || col("b.text").isNull ||
          col("a.text") =!= col("b.text") ||
          col("a.status") =!= col("b.status") ||
          col("a.engine") =!= col("b.engine"), 1L).otherwise(0L)).as("n_mismatch"))
      .collect()(0)
    s.range(1).select(
      lit(row.getLong(0)).cast("long").as("n_total"),
      lit(row.getLong(1)).cast("long").as("n_mismatch"))
  }

  /** Run the lineage-checkpointed pipeline in two chunks (simulating a crash
    * after 3 buckets + resume) into a fresh temp dir; return the lineage
    * table. n_rows per bucket is hash-dependent (not SQL-expressible) so this
    * is a rows-only check; the invariants are pinned by PipelineSpec.
    */
  private def lineageRun(s: SparkSession, dir: String): DataFrame = {
    val out = graft.spark.TmpDirs.create("graft_lineage_")
    val transcripts = Transcripts.fromDocuments(s, dir)
    Lineage.run(s, transcripts, out, numBuckets = 8, maxBucketsThisRun = 3)
    Lineage.run(s, transcripts, out, numBuckets = 8) // resume: remaining 5
    Lineage.readLineage(s, out)
      .groupBy("status")
      .agg(count(lit(1)).as("n_buckets"), sum(col("n_rows")).cast("long").as("n_rows"))
      .orderBy("status")
  }

  /** The catalog-TABLE twin of [[lineageRun]]: same crash-after-3-buckets +
    * resume protocol through [[Lineage.runTable]] — `bucket` is a real
    * catalog partition column, writes are `saveAsTable`/`insertInto` under
    * dynamic partition overwrite, lineage is a real commit-marker table.
    * Tables live in a per-run database with an explicit tmpfs LOCATION.
    */
  private def lineageTableRun(s: SparkSession, dir: String): DataFrame = {
    val loc = graft.spark.TmpDirs.create("graft_lintab_")
    val db = "g" + loc.replaceAll("[^a-zA-Z0-9]", "_").takeRight(24)
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    val data = s"$db.extract_data"
    val lineage = s"$db.extract_lineage"
    val transcripts = Transcripts.fromDocuments(s, dir)
    Lineage.runTable(s, transcripts, data, lineage, numBuckets = 8, maxBucketsThisRun = 3)
    Lineage.runTable(s, transcripts, data, lineage, numBuckets = 8) // resume
    Lineage.readLineageTable(s, lineage)
      .groupBy("status")
      .agg(count(lit(1)).as("n_buckets"), sum(col("n_rows")).cast("long").as("n_rows"))
      .orderBy("status")
  }

  /** One-shot Structured-Streaming extraction (Trigger.AvailableNow) over the
    * derived transcripts; returns per-status counts, which ARE
    * SQL-expressible -> full oracle for the streaming path.
    */
  private def streamingExtract(s: SparkSession, dir: String): DataFrame = {
    val base = graft.spark.TmpDirs.create("graft_stream_")
    val out = s"$base/out"; val cp = s"$base/cp"
    val in = graft.spark.Staged.transcripts(s, dir) // staged once per process
    StreamPipeline.runAvailableNow(s, in, out, cp)
    s.read.parquet(out)
      .groupBy("status").agg(count(lit(1)).as("n_rows"))
      .orderBy("status")
  }

  def queries: Seq[Query] = Seq(
    Query("o16_salt_invariance", (s, dir) => saltInvariance(s, dir),
      """SELECT CAST(count(*) AS BIGINT) AS n_total, CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents""".stripMargin),

    Query("o19_lineage", (s, dir) => lineageRun(s, dir),
      // o19_lineage: bucket membership depends on xxhash64 (Spark-internal), so
      // the per-bucket split has no SQL twin — but the totals do.
      """SELECT 'done' AS status, CAST(8 AS BIGINT) AS n_buckets,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM documents""".stripMargin),

    Query("o19_lineage_table", (s, dir) => lineageTableRun(s, dir),
      """SELECT 'done' AS status, CAST(8 AS BIGINT) AS n_buckets,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM documents""".stripMargin),

    Query("streaming_extract", (s, dir) => streamingExtract(s, dir),
      """SELECT
        |  CASE WHEN doc_id % 10 IN (3, 9) THEN 'error'
        |       WHEN doc_id % 10 IN (4, 5) THEN '' ELSE 'done' END AS status,
        |  count(*) AS n_rows
        |FROM documents GROUP BY 1 ORDER BY status""".stripMargin),

    // event-time windowed agg under a 10-min watermark (Structured
    // Streaming, append mode): the oracle encodes the append-mode emission
    // contract window.end <= max(ts) - watermark.
    Query("events_windowed_stream", (s, dir) =>
        graft.operators.Events.runWindowedStream(s, dir)
          .orderBy("hour_start", "event_type"),
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |w AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    count(*) AS n_events,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS value_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(h, '%Y-%m-%d %H:%M') AS hour_start, event_type,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(value_cents AS BIGINT) AS value_cents
        |FROM w, m
        |WHERE h + INTERVAL 70 MINUTE <= m.mx
        |ORDER BY hour_start, event_type""".stripMargin),

    // analytic-window sessionization (30-min gap) over the events table
    Query("events_sessionize", (s, dir) =>
        graft.operators.Events.sessionize(graft.operators.Events.events(s, dir))
          .orderBy("user_id"),
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |                  OR date_diff('second', prev_ts, ts) > 1800
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin),

    // streaming exact dedup: dropDuplicatesWithinWatermark over a stream
    // with injected duplicate events — survivors = distinct event_ids
    Query("events_stream_dedup", (s, dir) =>
        graft.operators.Events.runStreamingDedup(s, dir)
          .orderBy("event_type"),
      """SELECT event_type,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    // third sessionization form: Spark's NATIVE session_window (merging
    // [ts, ts+gap) intervals; a new session starts when the exact-time gap
    // is >= 30 min — boundary-exclusive, unlike the lag-based sessionize's
    // second-truncated strict->). One shuffle on (user_id, merged window).
    Query("events_session_window", (s, dir) =>
        graft.operators.Events.events(s, dir)
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_sessions"),
            sum(col("n")).cast("long").as("n_events"))
          .orderBy("user_id"),
      // exact-microsecond gap compare, boundary-exclusive (>= gap starts a
      // new session) — session_window's merge rule as a lag scan
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |                  OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin)
  )
}
