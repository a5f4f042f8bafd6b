package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.spark.{ExtractPipeline, Lineage, Transcripts}
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def loadAverage(): Double = os.getSystemLoadAverage

  /** (result, wall seconds, process CPU seconds) */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }
}

/** What one pass did: its timed wall and CPU, the operations it attempted,
  * the ones that failed the output check, and workload-specific figures.
  */
final case class Pass(wall: Double, cpu: Double, ops: Long, failed: Long,
                      extra: Map[String, Double] = Map.empty,
                      report: Map[String, Any] = Map.empty)

/** What a pass can reach: the live session, the tracer and (traced runs
  * only) the Spark counters.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, counters: Option[Counters], cores: Int)

trait Workload {
  def name: String
  /** Unit of one operation in `ops_per_s`. */
  def opName: String
  /** Writes the inputs under `dir`. Timed as part of set-up. */
  def prepare(spark: SparkSession, dir: Path): Unit
  def pass(ctx: Ctx, i: Int): Pass
  /** Turns of this workload for the single-thread kernel timings. */
  def sample(spark: SparkSession): Seq[CoreProbe.Sample]
  /** Traffic shape of the generated inputs, and the reference to check against. */
  def shape: Map[String, Any]
  /** Operations that fail a check made once per run, outside the passes. */
  def runFailures: Long = 0L
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
  def size(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .filterNot(f => f.getFileName.toString.endsWith(".crc"))
      (fs.map(Files.size).sum, fs.count(f => !f.getFileName.toString.startsWith("_")).toLong)
    } finally s.close()
  }
}

/** Shared by the two transcript workloads: seeded input written as parquet,
  * a reference computed outside Spark, and the kernel sample.
  */
abstract class TranscriptWorkload(spec: Gen.Spec, files: Int) extends Workload {
  val opName = "turns"
  protected var input: String = _
  lazy val reference: Reference = Reference.compute(spec, ExtractPipeline.heavyThreshold)

  def prepare(spark: SparkSession, dir: Path): Unit = {
    val n = spec.turns
    val bounds = (0 to files).map(p => n * p / files)
    val s = spec
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(0 until files, files)
      .flatMap(p => Gen.rows(s, bounds(p), bounds(p + 1))))
      .drop("cls")
      .write.parquet(dir.toString)
    input = dir.toString
  }

  def inputBytes: Long = Fs.size(java.nio.file.Paths.get(input))._1

  /** Turns on which `Extractor.extractTurn`, run outside Spark, differs
    * from the expected output.
    */
  override def runFailures: Long = reference.kernelBad

  def shape: Map[String, Any] =
    reference.shape ++ Map("input_parquet_bytes" -> inputBytes, "input_sha256" -> reference.sha256,
      "kernel_mismatch_turns" -> reference.kernelBad)

  def sample(spark: SparkSession): Seq[CoreProbe.Sample] = {
    val k = math.min(2000L, spec.turns).toInt
    val light = (0 until k).map(j => j * spec.turns / k)
    (light ++ spec.heavyRows.take(4)).distinct.map { i =>
      val t = Gen.row(spec, i)
      CoreProbe.Sample(t.conv_id, t.turn_idx, t.text, t.tool)
    }
  }

  protected def failedTurns(out: DataFrame, got: Digest.D): Long =
    if (got == reference.digest) 0L else math.max(1L, Reference.countBad(spec, out))
}

/** `extract_steady` and `extract_skewed`: `ExtractPipeline.extract` over
  * the input, then one aggregate (the digest) that reads every output text.
  */
final class Extract(val name: String, spec: Gen.Spec, files: Int) extends TranscriptWorkload(spec, files) {

  def pass(ctx: Ctx, i: Int): Pass = {
    val tr = ctx.tracer
    val ((out, d), wall, cpu) = Clock.timed {
      val out = tr.span("pipeline", "ExtractPipeline.extract") {
        ExtractPipeline.extract(ctx.spark, ctx.spark.read.parquet(input)).toDF()
      }
      (out, tr.span("pipeline", "aggregate over every output turn")(Digest.of(out)))
    }
    Pass(wall, cpu, spec.turns, failedTurns(out, d))
  }
}

/** `ingest_skewed`: empty directory -> `Lineage.run` over half the buckets
  * -> resume -> no-op rerun -> metrics and histograms published the way
  * `graft.Main` does, then an exactly-once check of the committed output.
  */
final class IngestSkewed(spec: Gen.Spec, files: Int, buckets: Int, work: Path)
    extends TranscriptWorkload(spec, files) {
  val name = "ingest_skewed"

  def pass(ctx: Ctx, i: Int): Pass = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val out = work.resolve(s"ingest-$i").toString
    def step[T](layer: String, name: String)(body: => T): (T, Double) = {
      val (r, w, _) = Clock.timed(tr.span(layer, name)(body)); (r, w)
    }
    val ((pending, steps), wall, cpu) = Clock.timed {
      val transcripts = spark.read.parquet(input)
      val (_, first) = step("lineage", "Lineage.run first half")(
        Lineage.run(spark, transcripts, out, buckets, maxBucketsThisRun = buckets / 2))
      val (_, resume) = step("lineage", "Lineage.run resume")(Lineage.run(spark, transcripts, out, buckets))
      val (_, noop) = step("lineage", "Lineage.run no-op rerun")(Lineage.run(spark, transcripts, out, buckets))
      val (pending, check) = step("lineage", "Lineage.pendingBuckets")(Lineage.pendingBuckets(spark, out, buckets))
      val (_, publish) = step("publish", "publish metrics and histograms") {
        import spark.implicits._
        val committed = Lineage.readOutput(spark, out)
          .select("conv_id", "turn_idx", "text", "status", "engine", "n_chars_in", "n_chars_out")
          .as[ExtractPipeline.Extracted]
        ExtractPipeline.metrics(committed).write.mode("overwrite").parquet(s"$out/_metrics")
        ExtractPipeline.histograms(committed).write.mode("overwrite").parquet(s"$out/_histograms")
      }
      (pending, Map("lineage.first_run_s" -> first, "lineage.resume_run_s" -> resume,
        "lineage.noop_rerun_s" -> noop, "lineage.pending_check_s" -> check,
        "lineage.publish_s" -> publish))
    }

    // exactly-once: every turn once, digest equal to the reference, one
    // lineage row per bucket, and the published metrics count every row
    val committed = Lineage.readOutput(spark, out)
    val d = Digest.of(committed)
    val distinctKeys = committed.select("conv_id", "turn_idx").distinct().count()
    val lineage = Lineage.readLineage(spark, out)
      .agg(count(lit(1)), coalesce(sum(col("n_rows")), lit(0L))).head()
    val metricRows = spark.read.parquet(s"$out/_metrics").agg(sum(col("n_rows"))).head().getLong(0)
    val dupOrMissing = math.abs(spec.turns - distinctKeys) + math.abs(d.rows - distinctKeys)
    val failed = math.max(failedTurns(committed, d), dupOrMissing) +
      (if (pending.nonEmpty || lineage.getLong(0) != buckets || lineage.getLong(1) != spec.turns ||
        metricRows != spec.turns) 1L else 0L)
    val (bytes, nFiles) = Fs.size(java.nio.file.Paths.get(out))
    Fs.delete(java.nio.file.Paths.get(out))
    Pass(wall, cpu, spec.turns, failed,
      steps ++ Map("write_amp" -> bytes.toDouble / inputBytes,
        "lineage.bytes_written" -> bytes.toDouble, "lineage.files_written" -> nFiles.toDouble))
  }
}

/** `query_suite`: a fixed set of `SparkEntry.queries` over the committed
  * sf0.01 tables, in a seed-permuted order, each forced to its full result
  * and compared with its pinned digest.
  */
final class QuerySuite(names: Seq[String], dataDir: String, expected: Map[String, String], seed: Long,
                       work: Path) extends Workload {
  val name = "query_suite"
  val opName = "queries"
  private val order = new scala.util.Random(seed).shuffle(names)
  private val all = graft.SparkEntry.queries
  private var transcripts: String = _
  private val streamDirs = ArrayBuffer.empty[Path]

  def prepare(spark: SparkSession, dir: Path): Unit = {
    val missing = names.filterNot(q => q == QuerySuite.Stream || all.contains(q))
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    if (names.contains(QuerySuite.Stream)) {
      transcripts = dir.resolve("transcripts").toString
      Transcripts.fromDocuments(spark, dataDir).write.parquet(transcripts)
    }
  }

  private def query(q: String): (SparkSession, String) => DataFrame =
    if (q == QuerySuite.Stream) streamExtract else all(q)

  /** `SparkEntry`'s `streaming_extract` with its directories in `work`:
    * the same `StreamPipeline.runAvailableNow` call over the same derived
    * transcripts, then the per-status counts.
    */
  private def streamExtract(s: SparkSession, dir: String): DataFrame = {
    val base = work.resolve(s"stream-${streamDirs.size}")
    streamDirs += base
    StreamPipeline.runAvailableNow(s, transcripts, s"$base/out", s"$base/cp")
    s.read.parquet(s"$base/out").groupBy("status").agg(count(lit(1)).as("n_rows")).orderBy("status")
  }

  private def dropStreamDirs(): Unit = { streamDirs.foreach(Fs.delete); streamDirs.clear() }

  def shape: Map[String, Any] = Map("queries" -> names.size, "order" -> order,
    "data" -> "perfbench/data/sf0.01 (fixed tables; the seed only permutes the order)")

  def sample(spark: SparkSession): Seq[CoreProbe.Sample] =
    Transcripts.fromDocuments(spark, dataDir).select("conv_id", "turn_idx", "text", "tool")
      .collect().toSeq.map(r => CoreProbe.Sample(r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))

  def digests(spark: SparkSession): Map[String, String] =
    try names.map(q => q -> Digest.result(query(q)(spark, dataDir).collect())).toMap
    finally dropStreamDirs()

  def pass(ctx: Ctx, i: Int): Pass = {
    val tr = ctx.tracer
    val traced = ctx.counters.isDefined
    var wall = 0.0; var cpu = 0.0; var failed = 0L
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val split = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Double]]
    order.foreach { q =>
      val cg0 = CodeGenerator.compileTime
      val t0ms = System.currentTimeMillis()
      var buildS = 0.0; var planS = 0.0; var execS = 0.0
      val (res, w, c) = Clock.timed {
        try tr.span("query", q) {
          val (df, b, _) = Clock.timed(tr.span("query", s"$q build")(query(q)(ctx.spark, dataDir)))
          buildS = b
          if (traced) planS = Clock.timed(tr.span("query", s"$q plan")(df.queryExecution.executedPlan))._2
          val (rows, e, _) = Clock.timed(tr.span("query", s"$q execute")(df.collect()))
          execS = e
          Right(rows)
        } catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
      }
      wall += w; cpu += c; times(q) = w
      res match {
        case Right(rows) =>
          val got = Digest.result(rows)
          if (!expected.get(q).contains(got)) {
            failed += 1
            System.err.println(s"[perfbench] $q: result digest $got != pinned ${expected.getOrElse(q, "none")}")
          }
          if (traced) split(q) = Map("build_s" -> buildS, "plan_s" -> planS,
            "codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9, "exec_s" -> execS,
            "wall_s" -> w, "t0" -> t0ms.toDouble, "t1" -> System.currentTimeMillis().toDouble)
        case Left(err) =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: $err")
      }
    }
    dropStreamDirs()
    Pass(wall, cpu, names.size, failed,
      report = Map("query_wall_s" -> times.toMap, "split" -> split.toMap))
  }

  /** Each query built once more, collected once untimed, then collected
    * again on the same planned DataFrame: the data-bound floor.
    */
  def reruns(ctx: Ctx): Map[String, Double] = try order.map { q =>
    ctx.tracer.span("query", s"$q rerun") {
      val df = query(q)(ctx.spark, dataDir)
      df.collect()
      q -> Clock.timed(df.collect())._2
    }
  }.toMap finally dropStreamDirs()
}

object QuerySuite {
  /** The streaming query of the set (`graft.streaming`). */
  val Stream = "stream_extract"
}
