package graft

import graft.spark.{ExtractPipeline, Lineage, Transcripts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entrypoint for the extraction job (north rule: "runs via
  * spark-submit on a multi-executor cluster"). Batch, resumable, metriced:
  *
  * {{{
  * spark-submit --class graft.Main <jar> \
  *   --input  /data/transcripts          \  (parquet dir, or table:NAME for a
  *                                           catalog table — Iceberg when the
  *                                           runtime is on the cluster)
  *   --output /data/extracted            \  (parquet dir; or
  *                                           table:DATA[,LINEAGE] to commit
  *                                           into catalog tables — Iceberg
  *                                           when the runtime is on the
  *                                           cluster; bucket is a real
  *                                           partition column either way)
  *   --buckets 256                       \  (lineage/commit granularity)
  *   --max-buckets 0                     \  (0 = all pending; >0 = partial run)
  *   --parallelism 0                        (0 = spark.sql.shuffle.partitions)
  * }}}
  *
  * Rerunning with the same --output resumes: completed buckets are skipped
  * (exactly-once via per-bucket idempotent overwrite — SURVEY.md §7.5). Both
  * output sinks run the one [[graft.spark.Lineage]] protocol: each run
  * appends per-bucket rows to the lineage (`<output>/_lineage`, or the
  * LINEAGE table), and once no bucket is pending the aggregated
  * per-status/engine metrics and histograms are published next to the data
  * (`<output>/_metrics` + `_histograms`, or `DATA_metrics` +
  * `DATA_histograms`).
  *
  * A second mode, `--query NAME[,NAME...]` (or `list` / `all`), runs any
  * named operator query from the SURVEY §8 inventory over an sf-style
  * parquet dir — see [[runQueries]].
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap

  /** `--query` mode: run named operator queries from [[SparkEntry.queries]]
    * over an sf-style parquet dir (`--input`) and write each result to
    * `<output>/<name>` as parquet — every SURVEY §2/§8 operator is
    * spark-submit-drivable without writing code:
    *
    * {{{
    * spark-submit --class graft.Main <jar> \
    *   --query dedup_minhash_lsh,text_quality \
    *   --input /data/sf --output /out
    * }}}
    *
    * `--query list` prints the available names. `--query all` runs the full
    * suite (the Verify dump without the oracle JSON). Returns (name, rows
    * written) per query, in the order requested.
    */
  def runQueries(spark: SparkSession, names: Seq[String], sfDir: String,
                 outDir: String): Seq[(String, Long)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — use --query list")
    names.map { name =>
      val df = all(name)(spark, sfDir)
      // row count rides the WRITE job as an observed metric — one action,
      // one scan; re-reading the written output would double the IO just
      // to print a count
      val obs = org.apache.spark.sql.Observation(s"graft_rows_$name")
      df.observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$outDir/$name")
      name -> obs.get("rows").asInstanceOf[Long]
    }
  }

  /** One session builder for BOTH modes — a config needed for oracle
    * parity or skew handling must never be applied to one mode and missed
    * in the other. Local fallback so jobs also run outside spark-submit.
    */
  private def buildSession(appName: String): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark =
      if (sys.env.contains("SPARK_GRAFT_LOCAL"))
        builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
          .getOrCreate()
      else builder.getOrCreate()
    graft.operators.Dedup.registerCapLogger(spark) // cap drops are never silent
    spark
  }

  private def queryMode(opts: Map[String, String], q: String): Unit =
    if (q == "list") SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    else {
      val input = opts.getOrElse("input", sys.error("--input required"))
      val output = opts.getOrElse("output", sys.error("--output required"))
      val names =
        if (q == "all") SparkEntry.queries.keys.toSeq.sorted
        else q.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val spark = buildSession("graft-query")
      try
        runQueries(spark, names, input, output).foreach { case (n, rows) =>
          println(s"[graft] $n: $rows rows -> $output/$n")
        }
      finally spark.stop()
    }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    if (opts.contains("query")) { queryMode(opts, opts("query")); return }
    val input = opts.getOrElse("input", sys.error("--input required"))
    val output = opts.getOrElse("output", sys.error("--output required"))
    val buckets = opts.getOrElse("buckets", "256").toInt
    val maxBuckets = opts.getOrElse("max-buckets", "0").toInt
    val parallelism = opts.getOrElse("parallelism", "0").toInt

    val spark = buildSession("graft-extract")

    val transcripts =
      if (input.startsWith("table:")) spark.read.table(input.stripPrefix("table:"))
      else if (input.startsWith("derive:"))
        // synthesize deterministically from a testdata sf dir (sandbox mode)
        Transcripts.fromDocuments(spark, input.stripPrefix("derive:"))
      else spark.read.parquet(input)

    if (parallelism > 0)
      spark.conf.set("spark.sql.shuffle.partitions", parallelism.toString)

    val maxB = if (maxBuckets > 0) maxBuckets else Int.MaxValue
    // `--output table:DATA[,LINEAGE]` runs the same exactly-once protocol
    // against catalog tables (bucket = a real partition column; on an
    // Iceberg-equipped cluster the catalog makes these Iceberg tables).
    // Default (path) mode writes parquet dirs.
    val tables: Option[(String, String)] =
      if (!output.startsWith("table:")) None
      else output.stripPrefix("table:").split(",") match {
        case Array(data) => Some((data, s"${data}_lineage"))
        case Array(data, lineage, _*) => Some((data, lineage))
      }
    val lineage = tables match {
      case Some((dataTable, lineageTable)) =>
        Lineage.runTable(spark, transcripts, dataTable, lineageTable, buckets, maxB)
      case None => Lineage.run(spark, transcripts, output, buckets, maxB)
    }
    val pending = Lineage.pendingIn(lineage, buckets)
    if (pending.isEmpty) {
      // all buckets committed: publish the aggregated metrics table (O22)
      val out = tables match {
        case Some((dataTable, _)) => spark.table(dataTable)
        case None => Lineage.readOutput(spark, output)
      }
      import spark.implicits._
      val committed = out.select("conv_id", "turn_idx", "text", "status", "engine",
        "n_chars_in", "n_chars_out").as[ExtractPipeline.Extracted]
      def publish(df: DataFrame, name: String): Unit = tables match {
        case Some((dataTable, _)) =>
          df.write.mode("overwrite").format("parquet").saveAsTable(s"${dataTable}_$name")
        case None => df.write.mode("overwrite").parquet(s"$output/_$name")
      }
      publish(ExtractPipeline.metrics(committed), "metrics")
      publish(ExtractPipeline.histograms(committed), "histograms")
    }
    val done = lineage.agg(
      count(lit(1)).as("buckets"),
      coalesce(sum(col("n_rows")), lit(0L)).as("rows")).collect()(0)
    // scalastyle:off println
    println(s"[graft] buckets committed: ${done.getLong(0)}/$buckets, " +
      s"rows: ${done.getLong(1)}, pending: ${pending.size}")
    // scalastyle:on println
    spark.stop()
  }
}
