package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * {{{
  * graftbench.Main --workload extract_steady|extract_skewed|ingest_skewed|query_suite
  *   --seed N --seconds S --trace 0|1 --root <perfbench dir> --work <dir>
  *   --results <dir> [--scale F] [--pin <file>]
  * }}}
  *
  * Prints an `ENV` line, a `REPORT` line, and as the last line one JSON
  * object {correct, attempted, failed, metrics}.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, scale: Double,
                        root: Path, work: Path, results: Path, pin: Option[Path])

  /** The fixed `query_suite` set: one query per family of
    * `SparkEntry.queries` that a ROADMAP item targets (see README). Queries
    * whose harness writes scratch directories through `graft.spark.TmpDirs`
    * are not in it; `stream_extract` is `streaming_extract` with its
    * directories under the run's work directory.
    */
  val Queries: Seq[String] = Seq(
    "e2e_extract", QuerySuite.Stream, "text_bpe_train", "classifier_train", "dedup_minhash_lsh",
    "ann_pq_topk")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "cpu_us_per_op" -> "us")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.parse_us" -> "us", "core.base64_us_per_kib" -> "us/KiB", "core.chain_us" -> "us",
    "core.html_us_per_kib" -> "us/KiB", "core.pdf_us_per_kib" -> "us/KiB", "core.turn_us" -> "us",
    "sql.plan_share" -> "ratio", "sql.codegen_share" -> "ratio", "sql.actions" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_s" -> "s", "exec.outside_jobs_s" -> "s", "exec.task_time_skew" -> "ratio",
    "exec.partition_rows_skew" -> "ratio", "exec.idle_core_share" -> "ratio",
    "exec.gc_share" -> "ratio", "exec.task_cpu_share" -> "ratio",
    "exec.shuffle_bytes_per_op" -> "B", "exec.input_bytes_per_op" -> "B",
    "exec.spill_bytes" -> "B", "io.bytes_written" -> "B", "trace.overhead_s" -> "s")

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      m.get("scale").map(_.toDouble).getOrElse(1.0), Paths.get(req("root")),
      Paths.get(req("work")), Paths.get(req("results")), m.get("pin").map(Paths.get(_)))
  }

  def session(cores: Int, parts: Int, work: Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the session graft.Main builds, run locally on every core
    val spark = SparkSession.builder().appName("perfbench").master(s"local[$cores]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.Dedup.registerCapLogger(spark)
    spark
  }

  def workload(o: Opts, cores: Int): Workload = {
    def n(x: Int) = math.max(1, math.round(x * o.scale).toInt)
    o.workload match {
      case "extract_steady" => new Extract(o.workload, Gen.steady(o.seed, n(1000), 100), 2 * cores)
      case "extract_skewed" =>
        new Extract(o.workload, Gen.skewed(o.seed, n(100000), n(10000), 0.0005,
          graft.spark.ExtractPipeline.heavyThreshold), 2 * cores)
      case "ingest_skewed" =>
        new IngestSkewed(Gen.skewed(o.seed, n(16000), n(1600), 0.0005,
          graft.spark.ExtractPipeline.heavyThreshold), 2 * cores, 8, o.work)
      case "query_suite" =>
        val pinned = o.root.resolve("expected/query_digests.json")
        val expected = if (o.pin.isDefined) Map.empty[String, String]
          else Json.readStringMap(new String(Files.readAllBytes(pinned), "UTF-8"))
        val names = if (o.scale < 1) Queries.take(3) else Queries
        new QuerySuite(names, o.root.resolve("data/sf0.01").toString, expected, o.seed, o.work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  def env(): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_1m" -> Clock.loadAverage(),
      "heap_flags" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val envBefore = env()
    println("ENV " + Json.write(envBefore))
    Files.createDirectories(o.work)
    Files.createDirectories(o.results)
    val wl = workload(o, cores)
    o.pin.foreach { f => pin(o, wl, cores, f); return }
    val runId = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val r = new Run(o, wl, cores, runId)
    val result = try r.run() finally { r.stop(); Fs.delete(o.work) }
    val envAfter = env()
    val file = Map("env_before" -> envBefore, "env_after" -> envAfter, "shape" -> result.shape,
      "report" -> result.report, "metrics" -> result.metrics)
    Files.write(o.results.resolve(s"$runId.json"), Json.write(file).getBytes("UTF-8"))
    println("REPORT " + Json.write(Map("workload" -> o.workload, "seed" -> o.seed,
      "loadavg_1m_after" -> envAfter("loadavg_1m"), "shape" -> result.shape) ++ result.report))
    println(Json.write(Map(
      "correct" -> (result.failed == 0),
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> scala.collection.immutable.ListMap(result.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*))))
  }

  /** Writes the result digests of the `query_suite` set to `file`. */
  private def pin(o: Opts, wl: Workload, cores: Int, file: Path): Unit = {
    val spark = session(cores, cores, o.work)
    try {
      wl.prepare(spark, o.work.resolve("input"))
      Files.write(file, Json.write(wl.asInstanceOf[QuerySuite].digests(spark)).getBytes("UTF-8"))
    }
    finally { spark.stop(); Fs.delete(o.work) }
  }

  final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))],
                          report: Map[String, Any], shape: Map[String, Any])
}

/** One run: set-up, warm-up, the closed-loop passes, and the figures. */
final class Run(o: Main.Opts, wl: Workload, cores: Int, runId: String) {
  private var spark: SparkSession = _
  private val off = new Tracer(runId, enabled = false)
  private var attempted = 0L
  private var failed = 0L

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def count(ps: Seq[Pass]): Seq[Pass] = {
    ps.foreach { p => attempted += p.ops; failed += p.failed }
    ps
  }

  /** Passes until `seconds` have gone by, and at least `min` of them. */
  private def loop(ctx: Ctx, seconds: Double, min: Int)(pass: Int => Pass): Seq[Pass] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val b = ArrayBuffer.empty[Pass]
    while (b.size < min || System.nanoTime() < deadline) b += pass(b.size)
    count(b.toSeq)
  }

  private def med(ps: Seq[Pass])(f: Pass => Double) = Stats.median(ps.map(f))
  /** Median pass wall; for `query_suite` the sum of each query's median. */
  private def passWall(ps: Seq[Pass]): Double =
    if (wl.name != "query_suite") med(ps)(_.wall)
    else ps.flatMap(_.report("query_wall_s").asInstanceOf[Map[String, Double]].toSeq)
      .groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2))).sum
  private def opsPerS(ps: Seq[Pass]) = ps.head.ops / passWall(ps)
  private def cpuUsPerOp(ps: Seq[Pass]) = med(ps)(p => p.cpu / p.ops) * 1e6

  def run(): Main.Result = {
    // set-up, three times: a fresh session and freshly generated inputs;
    // the last session and inputs are kept. Then three warm-up passes: the
    // per-pass code outside the tasks (planning, scheduling, commits) runs once a
    // pass and keeps getting faster for several passes.
    val trials = (1 to 3).map { k =>
      stop()
      val (_, w, _) = Clock.timed {
        spark = Main.session(cores, cores, o.work)
        wl.prepare(spark, o.work.resolve(s"input-$k"))
      }
      if (k > 1) Fs.delete(o.work.resolve(s"input-${k - 1}"))
      w
    }
    val warm = count((0 until 3).map(wl.pass(Ctx(spark, off, None, cores), _))).map(_.wall)
    failed += wl.runFailures
    val setupS = Stats.median(trials) + warm.sum

    val base = Map[String, Any]("setup_s" -> setupS, "setup_trials_s" -> trials,
      "warmup_pass_s" -> warm, "closed_loop" -> "one client, next pass starts when the previous ends")
    val (metrics, report) =
      if (o.trace) traced(setupS) else untraced(setupS)
    val all = base ++ report ++ Map("ops_failed_ratio" -> failed.toDouble / attempted)
    Main.Result(attempted, failed, metrics,
      all + ("units" -> units.filter { case (k, _) => all.contains(k) }), wl.shape)
  }

  /** Units of the end-to-end figures the report names per workload. */
  private val units = Map("setup_s" -> "s", "turns_per_s" -> "turns/s", "cpu_us_per_turn" -> "us",
    s"scaling_eff_1_to_$cores" -> "ratio", "ingest_s" -> "s", "write_amp" -> "ratio",
    "suite_s" -> "s", "query_p50_s" -> "s", "query_p90_s" -> "s", "ops_failed_ratio" -> "ratio")

  private def workloadFigures(ps: Seq[Pass]): Map[String, Any] = {
    val keys = ps.flatMap(_.extra.keys).distinct
    val fig = keys.map(k => k -> med(ps)(_.extra.getOrElse(k, 0.0))).toMap
    val named = wl.name match {
      case "query_suite" =>
        val samples = ps.flatMap(_.report("query_wall_s").asInstanceOf[Map[String, Double]].toSeq)
        val perQuery = samples.map(_._2)
        Map("suite_s" -> passWall(ps), "query_p50_s" -> Stats.quantile(perQuery, 0.5),
          "query_p90_s" -> Stats.quantile(perQuery, 0.9), "query_samples" -> perQuery.size,
          "query_median_s" -> samples.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2)) })
      case "ingest_skewed" => Map("ingest_s" -> passWall(ps), "turns_per_s" -> opsPerS(ps),
        "cpu_us_per_turn" -> cpuUsPerOp(ps))
      case _ => Map("turns_per_s" -> opsPerS(ps), "cpu_us_per_turn" -> cpuUsPerOp(ps))
    }
    fig ++ named ++ Map("passes" -> ps.size, "pass_wall_s" -> ps.map(_.wall))
  }

  private def untraced(setupS: Double): (Seq[(String, (Double, String))], Map[String, Any]) = {
    val ps = loop(Ctx(spark, off, None, cores), o.seconds, 3)(wl.pass(Ctx(spark, off, None, cores), _))
    val report = workloadFigures(ps)
    val metrics = Seq("setup_s" -> setupS, "ops_per_s" -> opsPerS(ps), "cpu_us_per_op" -> cpuUsPerOp(ps))
    (metrics.map { case (k, v) => k -> (v, Main.EndToEnd.toMap.apply(k)) },
      report ++ Map("ops" -> wl.opName))
  }

  /** The paper's N -> 4N criterion: untraced passes on one core, against
    * untraced passes on every core. The one-core session gets the same three
    * warm-up passes as the session on every core before its passes are
    * timed. Ends the session on every core.
    */
  private def oneCore(all: Seq[Pass]): Map[String, Any] = {
    stop()
    spark = Main.session(1, cores, o.work)
    val ctx = Ctx(spark, off, None, 1)
    val warm = count((0 until 3).map(wl.pass(ctx, _))).map(_.wall)
    val one = loop(ctx, 0, 2)(wl.pass(ctx, _))
    Map(s"scaling_eff_1_to_$cores" -> opsPerS(all) / (cores * opsPerS(one)),
      "turns_per_s_1_core" -> opsPerS(one), "warmup_pass_s_1_core" -> warm,
      "pass_wall_s_1_core" -> one.map(_.wall))
  }

  /** A whole traced run of another workload, nested in this traced run:
    * `ingest_skewed` (the lineage layer) in `extract_steady`, `query_suite`
    * (the query layer) in `extract_skewed`, so that every layer is measured
    * on a workload the benchmark lists. Ends the session of this run.
    */
  private def nested(name: String): Map[String, Any] = {
    stop()
    val so = o.copy(workload = name, work = o.work.resolve(name), seconds = math.max(2, o.seconds / 3))
    val sub = new Run(so, Main.workload(so, cores), cores, s"$runId-$name")
    val r = try sub.run() finally sub.stop()
    attempted += r.attempted
    failed += r.failed
    r.report ++ Map("shape" -> r.shape, "per_layer_metrics" -> r.metrics.toMap)
  }

  private def traced(setupS: Double): (Seq[(String, (Double, String))], Map[String, Any]) = {
    val plain = loop(Ctx(spark, off, None, cores), o.seconds / 2.0, 1)(wl.pass(Ctx(spark, off, None, cores), _))
    val tracer = new Tracer(runId, enabled = true)
    tracer.attach(spark)
    val counters = new Counters
    counters.register(spark)
    val ctx = Ctx(spark, tracer, Some(counters), cores)
    val windows = ArrayBuffer.empty[Map[String, Double]]
    val pipeline = ArrayBuffer.empty[Map[String, Double]]
    val ps = loop(ctx, o.seconds / 2.0, 1) { i =>
      val cg0 = CodeGenerator.compileTime
      val t0 = System.currentTimeMillis()
      val p = tracer.span("bench", s"pass $i")(wl.pass(ctx, i))
      val t1 = System.currentTimeMillis()
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      windows += counters.window(t0, t1, cores, p.ops) +
        ("sql.codegen_share" -> (CodeGenerator.compileTime - cg0) / 1e9 / p.wall)
      pipeline += counters.pipeline(t0, t1, cores, p.ops)
      p
    }
    val core = tracer.span("core", "single-thread kernel calls")(CoreProbe.run(wl.sample(spark)))
    val overhead = med(ps)(_.wall) - med(plain)(_.wall)
    val layer = windows.head.keys.map(k => k -> Stats.median(windows.map(_(k)).toSeq)).toMap ++
      core + ("trace.overhead_s" -> overhead)

    val selfTime = SelfTime.byLayer(tracer, counters)
    Files.write(o.results.resolve(s"$runId.trace.json"),
      Json.write(SelfTime.dump(tracer, counters)).getBytes("UTF-8"))

    var report = workloadFigures(ps) ++ Map(
      "untraced" -> workloadFigures(plain),
      "tracing_overhead" -> Map("pass_wall_s" -> overhead,
        "ops_per_s" -> (opsPerS(ps) - opsPerS(plain)),
        "cpu_us_per_op" -> (cpuUsPerOp(ps) - cpuUsPerOp(plain))),
      "self_s_by_layer" -> selfTime,
      "per_layer" -> layer)
    if (wl.opName == "turns") {
      report ++= Map(
        "core.kernel_share" -> core("core.turn_us") / cpuUsPerOp(plain)) ++
        pipeline.head.keys.map(k => k -> Stats.median(pipeline.map(_(k)).toSeq))
    }
    wl match {
      case qs: QuerySuite =>
      val rerun = qs.reruns(ctx)
      val splits = ps.flatMap(_.report("split").asInstanceOf[Map[String, Map[String, Double]]].toSeq)
      val byQuery = splits.groupBy(_._1).map { case (q, xs) =>
        val m = xs.map(_._2)
        val keys = Seq("build_s", "plan_s", "codegen_s", "exec_s", "wall_s")
        val w = counters.window(m.head("t0").toLong, m.head("t1").toLong, cores, 1)
        q -> (keys.map(k => k -> Stats.median(m.map(_(k)))).toMap ++ Map(
          "rerun_s" -> rerun(q),
          "eager_jobs" -> SelfTime.jobsUnder(tracer, counters, s"$q build").toDouble,
          "shuffle_bytes" -> w("exec.shuffle_bytes_per_op"), "stages" -> w("exec.stages"),
          "tasks" -> w("exec.tasks")))
      }
      def total(k: String) = byQuery.values.map(_(k)).sum
      report ++= Map("queries" -> byQuery) ++
        Seq("build_s", "plan_s", "codegen_s", "exec_s", "rerun_s", "eager_jobs", "shuffle_bytes",
          "stages", "tasks").map(k => s"query.$k" -> total(k)) ++
        Map("query.stream_s" -> byQuery.get(QuerySuite.Stream).map(_("wall_s")).getOrElse(0.0))
      case _ =>
    }
    counters.unregister(spark)
    if (wl.name == "extract_steady") {
      report ++= oneCore(plain)
      report += "ingest_skewed" -> nested("ingest_skewed")
    }
    if (wl.name == "extract_skewed") report += "query_suite" -> nested("query_suite")
    (Main.PerLayer.map { case (k, u) => k -> (layer(k), u) }, report)
  }
}
