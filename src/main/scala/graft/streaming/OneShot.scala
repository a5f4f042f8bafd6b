package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one-shot streaming protocol every stream in this engine runs: a
  * parquet file-stream source, a checkpoint directory, `Trigger.AvailableNow`
  * (drain everything available, commit, stop), and one of two sinks. The
  * checkpoint stands in for the reference's RabbitMQ ack/requeue (SURVEY.md
  * §2.10): restarting with the same checkpoint skips the files it committed.
  *
  * Both sinks start the query, wait for it and return it finished, so
  * `recentProgress` is readable and a failed batch surfaces as the
  * `StreamingQueryException` thrown here.
  */
object OneShot {

  /** State-store shard count for the STATEFUL streaming runs. Spark creates
    * one state store (directory of delta/commit files per micro-batch) per
    * shuffle partition: shards must be sized to STATE, not to input — these
    * harness queries hold a few thousand windows/keys, where 32 shards'
    * per-batch file commits dominate wall time (measured 2x: windowed
    * 3.2 -> 1.7 s, dedup 3.3 -> 1.3 s at 8 shards). At 10^12-event scale
    * the same knob goes UP with state size; the point is that it is an
    * explicit, state-sized choice, scoped to the stream run. The count is
    * recorded in the checkpoint, so a stream keeps the count it started with.
    */
  val stateShards = 8

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `n`, restoring
    * the previous value afterwards.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** A parquet file stream over `in`; `maxFilesPerTrigger` splits the input
    * into one micro-batch per that many files (oldest first).
    */
  def source(spark: SparkSession, schema: StructType, in: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(in)
  }

  /** Drains `df` into the parquet directory `out` (append mode). */
  def toParquet(df: Dataset[_], out: String, cp: String): StreamingQuery =
    run(df.writeStream.format("parquet").option("path", out), cp)

  /** Drains `df` through `perBatch(batch, batchId)`, writing each result to
    * `out/b<batchId>` in OVERWRITE mode. The write is idempotent under
    * restart: a batch replayed after a crash between its write and its
    * checkpoint commit rewrites its rows instead of duplicating them (a
    * plain `append` would be at-least-once). Read back with [[readBatchDirs]].
    */
  def toBatchDirs[T](df: Dataset[T], out: String, cp: String,
      outputMode: String = "append")(
      perBatch: (Dataset[T], Long) => DataFrame): StreamingQuery =
    run(df.writeStream.outputMode(outputMode).foreachBatch {
      (batch: Dataset[T], batchId: Long) =>
        perBatch(batch, batchId).write.mode("overwrite").parquet(s"$out/b$batchId")
    }, cp)

  /** Every batch written by [[toBatchDirs]] under `out` (the `b<batchId>`
    * subdirectories are not `k=v` partition dirs, hence the recursive read).
    */
  def readBatchDirs(spark: SparkSession, out: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(out)

  private def run[T](writer: DataStreamWriter[T], cp: String): StreamingQuery = {
    val q = writer
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
