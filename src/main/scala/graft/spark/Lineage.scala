package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Checkpointed per-partition lineage — the batch analog of the reference's
  * deferred-result store + one-shot claim + graceful drain
  * (`/root/reference/ocr_results_storage.go:8-49`,
  * `/root/reference/cli-httpd/main.go:86-115`), upgraded from at-least-once
  * to exactly-once:
  *
  *   - input is split into [[numBuckets]] deterministic buckets
  *     (hash(conv_id) — all turns of a conversation commit together);
  *   - each run processes only PENDING buckets, in ONE job: every pending
  *     row is tagged with its bucket and written `partitionBy("bucket")`
  *     under dynamic-partition overwrite, then one lineage row per bucket
  *     (bucket, rows, chars, status) is appended from a columnar readback
  *     of the committed files;
  *   - a killed run leaves un-recorded buckets pending; rerunning against
  *     the same output skips completed buckets, rewrites only the pending
  *     partitions (dynamic overwrite = idempotent), and produces identical
  *     total output (pinned by a resume test).
  *
  * One protocol, two sinks: [[run]] commits into parquet directories under
  * an `outDir`, [[runTable]] into catalog tables. Both run `commitPending`
  * and differ only in how the data is written, where the committed rows
  * are read back for the per-bucket stats and where lineage is appended.
  *
  * Scan economics: ONE pass over the input per `run` call regardless of how
  * many buckets are pending (the earlier per-bucket loop re-scanned the full
  * corpus once per bucket — 8 buckets = 8 full reads). At cluster scale the
  * same layout holds: bucket = Iceberg partition, lineage = a tiny
  * commit-marker table, resume = one anti-join.
  */
object Lineage {

  def bucketCol(numBuckets: Int) =
    pmod(xxhash64(col("conv_id")), lit(numBuckets.toLong))

  def lineagePath(outDir: String) = s"$outDir/_lineage"
  def dataPath(outDir: String) = s"$outDir/data"

  val lineageSchema: StructType = StructType(Seq(
    StructField("bucket", LongType),
    StructField("n_buckets", LongType),
    StructField("n_rows", LongType),
    StructField("chars_out", LongType),
    StructField("status", StringType)))

  private def emptyLineage(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], lineageSchema)

  /** Committed lineage; the empty table iff the lineage path does not exist
    * yet (first run) or exists with no data files (a crash between the
    * committer creating the dir and the first append becoming visible —
    * safe to treat as "nothing committed" because data writes are
    * idempotent dynamic overwrites). The EXPLICIT schema means no schema
    * inference ever runs; a CORRUPT lineage file still fails loudly at scan
    * time (every caller immediately reads the table) — swallowing it would
    * silently reprocess every bucket over partial output.
    */
  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    try spark.read.schema(lineageSchema).parquet(lineagePath(outDir))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).contains("PATH_NOT_FOUND") =>
        emptyLineage(spark)
    }

  /** The buckets of `0 until numBuckets` that `lineage` has not committed. */
  def pendingIn(lineage: DataFrame, numBuckets: Int): Seq[Long] = {
    val done = lineage.select("bucket").distinct().collect().map(_.getLong(0)).toSet
    (0L until numBuckets.toLong).filterNot(done)
  }

  def pendingBuckets(spark: SparkSession, outDir: String, numBuckets: Int): Seq[Long] =
    pendingIn(readLineage(spark, outDir), numBuckets)

  /** The protocol both sinks run. Guard: bucket membership is
    * hash(conv_id) % numBuckets — resuming with a DIFFERENT numBuckets than
    * the committed `lineage` would silently reprocess rows into overlapping
    * buckets (duplicated output). Then ONE job extracts every pending bucket
    * (the hash-bucket predicate can't be pushed into parquet, so it must not
    * be evaluated once per bucket), tags each row with its bucket and hands
    * it to `write`, which replaces only those buckets' partitions. `stats`
    * reads the committed rows back (given the write's schema) as rows and
    * chars out per pending bucket, and one lineage row per pending bucket
    * goes to `appendLineage` — an empty bucket still commits, with 0 rows.
    */
  private def commitPending(
      spark: SparkSession,
      transcripts: DataFrame,
      lineage: DataFrame,
      where: String,
      numBuckets: Int,
      maxBucketsThisRun: Int
  )(
      write: DataFrame => Unit,
      stats: (StructType, Seq[Long]) => DataFrame,
      appendLineage: DataFrame => Unit
  ): Unit = {
    val priorBuckets: Set[Long] =
      lineage.select("n_buckets").distinct().collect().map(_.getLong(0)).toSet
    require(priorBuckets.isEmpty || priorBuckets == Set(numBuckets.toLong),
      s"$where was committed with numBuckets=${priorBuckets.mkString(",")}; " +
        s"resume must use the same value (got $numBuckets)")
    val pending = pendingIn(lineage, numBuckets).take(maxBucketsThisRun)
    if (pending.nonEmpty) {
      val extracted = ExtractPipeline
        .extract(spark, transcripts.filter(bucketCol(numBuckets).isin(pending: _*)))
        .withColumn("bucket", bucketCol(numBuckets)) // recompute from conv_id
        .sortWithinPartitions("conv_id", "turn_idx")
      write(extracted)
      val committed = stats(extracted.schema, pending)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      import spark.implicits._
      appendLineage(pending
        .map { b =>
          val (n, c) = committed.getOrElse(b, (0L, 0L))
          (b, numBuckets.toLong, n, c, "done")
        }
        .toDF("bucket", "n_buckets", "n_rows", "chars_out", "status")
        .coalesce(1))
    }
  }

  /** Rows and chars out per pending bucket. `bucket` is a partition column
    * on both sinks, so the isin filter prunes to the pending buckets' files.
    */
  private def bucketStats(committed: DataFrame, pending: Seq[Long]): DataFrame =
    committed
      .filter(col("bucket").isin(pending: _*))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("n_chars_out")), lit(0L)).cast("long").as("c"))

  // ------------------------------------------------------------------- paths

  /** Process up to `maxBucketsThisRun` pending buckets into parquet under
    * `outDir`; returns the lineage table after this run. Call repeatedly (or
    * after a crash) until `pendingBuckets` is empty.
    */
  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      outDir: String,
      numBuckets: Int = 8,
      maxBucketsThisRun: Int = Int.MaxValue
  ): DataFrame = {
    commitPending(spark, transcripts, readLineage(spark, outDir), s"lineage at $outDir",
      numBuckets, maxBucketsThisRun)(
      _.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic") // only touched buckets replaced
        .partitionBy("bucket")
        .parquet(dataPath(outDir)),
      statsQuery(spark, outDir, _, _),
      _.write.mode("append").parquet(lineagePath(outDir)))
    readLineage(spark, outDir)
  }

  /** The path sink's per-bucket stats readback — factored out so the spec
    * can pin its plan. The data files are read with the EXPLICIT write
    * schema: `bucket` is declared long, so the isin predicate is a PARTITION
    * filter (a resume scans only the pending buckets' files, never
    * previously committed ones; a post-read cast would defeat pruning), and
    * an all-empty write, which leaves only _SUCCESS behind, needs no schema
    * inference.
    */
  private[graft] def statsQuery(
      spark: SparkSession,
      outDir: String,
      writeSchema: StructType,
      pending: Seq[Long]
  ): DataFrame =
    bucketStats(spark.read.schema(writeSchema).parquet(dataPath(outDir)), pending)

  /** The committed output across all completed buckets. */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"${dataPath(outDir)}/bucket=*")

  // ------------------------------------------------------------------ tables

  /** Catalog-TABLE sink — the same protocol against real catalog tables,
    * making the "bucket = table partition, lineage = a tiny commit-marker
    * table, resume = one anti-join on a partition column" claim executable
    * (SURVEY §1.3 names Iceberg; the Iceberg runtime jar is not available in
    * this zero-egress sandbox, so this uses Spark's built-in session
    * catalog — `saveAsTable` creating a parquet table partitioned by
    * `bucket`, `insertInto` under dynamic partition overwrite on resume. The
    * protocol is catalog-agnostic: on Iceberg the same two writes become
    * `writeTo(t).overwritePartitions()` and the lineage append.)
    *
    * `dataTable`/`lineageTable` are table identifiers (optionally
    * db-qualified); create the db with an explicit LOCATION first if the
    * default warehouse dir is not writable.
    */
  def readLineageTable(spark: SparkSession, lineageTable: String): DataFrame =
    if (spark.catalog.tableExists(lineageTable)) spark.table(lineageTable)
    else emptyLineage(spark)

  def runTable(
      spark: SparkSession,
      transcripts: DataFrame,
      dataTable: String,
      lineageTable: String,
      numBuckets: Int = 8,
      maxBucketsThisRun: Int = Int.MaxValue
  ): DataFrame = {
    commitPending(spark, transcripts, readLineageTable(spark, lineageTable),
      s"lineage table $lineageTable", numBuckets, maxBucketsThisRun)(
      extracted =>
        if (!spark.catalog.tableExists(dataTable))
          extracted.write.partitionBy("bucket").format("parquet").saveAsTable(dataTable)
        else {
          // dynamic overwrite: ONLY the pending buckets' partitions are
          // replaced (idempotent under crash+rerun), committed ones
          // untouched. insertInto resolves columns by POSITION, so select
          // them in the committed table's order first — without this, a
          // same-typed column reorder in ExtractPipeline.extract would
          // silently write swapped columns into committed partitions.
          val aligned = extracted.select(spark.table(dataTable).columns.map(col): _*)
          val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try aligned.write.mode("overwrite").insertInto(dataTable)
          finally prev match {
            case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
            case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
          }
        },
      (_, pending) => bucketStats(spark.table(dataTable), pending),
      _.write.mode("append").format("parquet").saveAsTable(lineageTable))
    readLineageTable(spark, lineageTable)
  }
}
