package graft.streaming

import graft.spark.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming form of the extraction pipeline. The reference IS a
  * streaming system (unbounded RabbitMQ queue, prefetch flow control,
  * at-least-once ack — SURVEY.md §2.10); this is the same fused typed stage
  * dropped into a one-shot stream ([[OneShot]]) with checkpointing
  * standing in for the ack/requeue machinery. Per-record
  * processing is stateless, exactly like the reference; watermarked windowed
  * counts ([[graft.operators.Events.windowedCounts]]) stand in for the
  * Prometheus rate metrics (O22).
  */
object StreamPipeline {

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** One-shot streaming extraction over a parquet directory
    * ([[OneShot.toParquet]]): drains everything available, checkpoints,
    * stops. Restarting with the same checkpoint skips processed files — the
    * streaming twin of [[graft.spark.Lineage]].
    */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String
  ): Unit = {
    val extracted = ExtractPipeline.extract(spark,
      OneShot.source(spark, transcriptSchema, inputDir))
    OneShot.toParquet(extracted, outDir, checkpointDir)
  }

  /** O20 postback as an ACTUAL side output
    * (`/root/reference/ocr_postback_client.go:27-78`, retry loop
    * `ocr_rpc_client.go:232-277`): each micro-batch's extraction results are
    * "posted back" through [[graft.core.Delivery.postbackOutcome]] and the
    * per-row attempt/outcome is recorded in a delivery table of
    * batchId-scoped directories ([[OneShot.toBatchDirs]], idempotent under
    * restart; read it back with [[OneShot.readBatchDirs]]).
    * Failure counts are simulated deterministically (turn_idx % 5) so the
    * delivery table is oracle-checkable; a real deployment would substitute
    * the HTTP POST and record the observed outcome in the same table.
    */
  def runPostbackSink(
      spark: SparkSession,
      inputDir: String,
      deliveryDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    val extracted = ExtractPipeline.extract(spark,
      OneShot.source(spark, transcriptSchema, inputDir))
    OneShot.toBatchDirs(extracted, deliveryDir, checkpointDir) { (batch, _) =>
      batch
        .map { e =>
          val failures = ((e.turn_idx % 5) + 5) % 5
          val (attempts, delivered, backoff) =
            graft.core.Delivery.postbackOutcome(failures)
          (e.conv_id, e.turn_idx, e.status, attempts, delivered, backoff,
            "X-open-ocr-reply-type: json")
        }
        .toDF("conv_id", "turn_idx", "status", "attempts", "delivered",
          "backoff_s", "reply_header")
    }
  }

  final case class TurnLite(conv_id: String, turn_idx: Int, role: String, text: String)
  final case class ConvState(turns: List[(Int, String, String)])
  final case class RenderedConv(conv_id: String, n_turns: Long, sample: String,
      trainable_chars: Long, total_chars: Long)

  /** STREAMING chat-template rendering with custom state — conversations
    * arrive turn by turn (the agent-pipeline reality: a conversation is
    * open until its last turn lands) and `flatMapGroupsWithState`
    * accumulates each conv's turns, re-emitting the conv's CURRENT
    * rendered sample every batch that touches it (Update mode; the
    * [[graft.operators.Events.sessionizeWithState]] custom-state path
    * applied to [[graft.spark.Transcripts.convRender]]'s semantics —
    * same template, same trainable accounting, spec-pinned equal to the
    * batch render). Per-conv state is the turn list — bounded by the
    * conv-cap curation upstream, the same bound the batch render's
    * collect_list relies on. Readers keep the LAST emission per conv
    * ([[runStreamingRender]] selects max batch_id), so any batch split
    * converges to the batch result.
    */
  def renderWithState(spark: SparkSession,
      stream: DataFrame): org.apache.spark.sql.Dataset[RenderedConv] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    stream
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .as[TurnLite]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, RenderedConv](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cid: String, rows: Iterator[TurnLite], state: GroupState[ConvState]) =>
          val st = state.getOption.getOrElse(ConvState(Nil))
          val all = st.turns ++ rows.map(t => (t.turn_idx, t.role, t.text))
          state.update(ConvState(all))
          val rendered = all.sortBy(_._1)
            .map { case (_, r, tx) => (r, s"<|$r|>\n$tx\n") }
          val sample = rendered.map(_._2).mkString
          val trainable = rendered.collect {
            case ("assistant", rr) => rr.length.toLong
          }.sum
          Iterator(RenderedConv(cid, all.size.toLong, sample, trainable,
            sample.length.toLong))
      }
  }

  /** Driver runner for [[renderWithState]]: drains the raw turns (staged
    * once per process as ONE file, [[graft.spark.Staged.rawTurns]]) through
    * the stateful render into batchId-scoped directories
    * ([[OneShot.toBatchDirs]], update mode), and returns the LAST emission
    * per conversation.
    */
  def runStreamingRender(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      stagedIn: Option[String] = None): DataFrame = {
    val base = graft.spark.TmpDirs.create("graft_srender_")
    val out = s"$base/out"
    val in = stagedIn.getOrElse(graft.spark.Staged.rawTurns(spark, sfDir))
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType)))
    val rendered = renderWithState(spark,
      OneShot.source(spark, schema, in, maxFilesPerTrigger)).toDF()
    OneShot.toBatchDirs(rendered, out, s"$base/cp", "update") { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy(col("batch_id").desc)
    OneShot.readBatchDirs(spark, out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }
}
