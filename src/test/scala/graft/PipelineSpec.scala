package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.spark.{ExtractPipeline, Lineage, Transcripts}
import graft.streaming.{OneShot, StreamPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline properties over the sf0.001 tables (FIXTURES.md §3-5):
  * golden equality, salt/partition invariance, lineage resume, streaming
  * equivalence, training-data operators.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = {
    // the deployment config ExtractPipeline.withPriorityPool prescribes:
    // FAIR mode + the generated prio-N allocation file (scheduler mode is
    // context-level, so the shared test session carries it; FAIR vs FIFO
    // never changes results, only task scheduling)
    val alloc = ExtractPipeline.writeFairSchedulerXml(
      graft.spark.TmpDirs.create("graft_fair_") + "/fair.xml")
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    ExtractPipeline.fairSchedulerConf(alloc)
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
  }

  // state-store providers a streaming query loaded keep a JVM-wide
  // maintenance thread polling this session's coordinator after it stops;
  // unloading them ends it
  override def afterAll(): Unit = try spark.stop() finally StateStore.stop()

  private def tmpDir(prefix: String): String = graft.spark.TmpDirs.create(prefix)

  /** (data, lineage) table names in a fresh database for the catalog-table
    * sink of [[Lineage.runTable]].
    */
  private def tableSink(prefix: String): (String, String) = {
    val loc = tmpDir(prefix)
    val db = "gspec" + loc.replaceAll("[^a-zA-Z0-9]", "_").takeRight(16)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    (s"$db.d", s"$db.l")
  }

  test("pipeline: per-turn golden equality on the mock anchor class") {
    val out = ExtractPipeline
      .extract(spark, Transcripts.fromDocuments(spark, sfDir))
      .filter(col("engine") === "mock")
      .select("text", "status").distinct().collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "mock engine decoder response")
    assert(out(0).getString(1) == "")
  }

  test("pipeline: output is invariant to partition count (salt invariance)") {
    val t = Transcripts.fromDocuments(spark, sfDir)
    def run(p: Int) = ExtractPipeline.extract(spark, t, numPartitions = p)
      .select("conv_id", "turn_idx", "text", "status", "engine")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(run(2) == run(7))
  }

  test("pipeline: heavy rows get per-row salt") {
    import spark.implicits._
    val heavyText = "x" * (ExtractPipeline.heavyThreshold + 1)
    val df = Seq(
      ("c1", 0, heavyText, ""),
      ("c1", 1, "small", ""),
      ("c2", 0, "small", "")).toDF("conv_id", "turn_idx", "text", "tool")
    val salts = df.select(ExtractPipeline.saltColumn().as("salt")).collect().map(_.getLong(0))
    // the heavy row keys by (conv_id, turn_idx) — NOT its conversation's
    // light key — so it can land anywhere; light rows key by conv_id only
    assert(salts(0) != salts(1)) // heavy c1 row != light c1 row
    assert(salts(1) != salts(2)) // different convs spread
  }

  test("pipeline: the heavy predicate counts UTF-8 bytes of text + tool") {
    import spark.implicits._
    val t = ExtractPipeline.heavyThreshold
    val rows = Seq(
      ("c", 0, "x" * t, ""),             // exactly the threshold: light
      ("c", 1, "x" * (t + 1), ""),       // one byte more: heavy
      ("c", 2, "x" * (t - 2), "{}"),     // text + tool at the threshold: light
      ("c", 3, "x" * (t - 1), "{}"),     // text + tool one byte over: heavy
      ("c", 4, "é" * (t / 2 + 1), ""),   // over in bytes, under in chars: heavy
      ("c", 5, null, null))              // NULL payload: light
    val heavy = rows.toDF("conv_id", "turn_idx", "text", "tool")
      .select(col("turn_idx"), ExtractPipeline.isHeavy.as("h"))
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(heavy == Map(0 -> false, 1 -> true, 2 -> false, 3 -> true, 4 -> true, 5 -> false))
  }

  test("pipeline: the salt keys exactly the heavy rows per row") {
    import spark.implicits._
    val t = ExtractPipeline.heavyThreshold
    val df = Seq(
      ("c", 0, "x" * t, ""), ("c", 1, "x" * (t + 1), ""), ("c", 2, "x" * (t - 1), "{}"),
      ("c", 3, "é" * (t / 2 + 1), ""), ("c", 4, "small", ""), ("d", 5, null, null))
      .toDF("conv_id", "turn_idx", "text", "tool")
    // a heavy row keys by (conv_id, turn_idx), a light one by conv_id
    val salted = df
      .filter(ExtractPipeline.saltColumn() === xxhash64(col("conv_id"), col("turn_idx")))
      .select("turn_idx").as[Int].collect().toSet
    assert(salted == Set(1, 2, 3))
  }

  test("plan: the salted Exchange sizes payloads with octet_length, never length") {
    val plan = ExtractPipeline.extract(spark, Transcripts.fromDocuments(spark, sfDir))
      .queryExecution.executedPlan.toString
    val exchange = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchange.size == 1, s"plan:\n$plan")
    // the Exchange hashes the salt; the projection below it computes it
    val salt = plan.linesIterator.filter(_.contains(" AS salt#")).toList
    assert(salt.size == 1, s"plan:\n$plan")
    assert(salt.head.contains("octet_length("), salt.head)
    assert("\\blength\\(".r.findFirstIn(salt.head).isEmpty, salt.head)
  }

  test("plan: the salted Exchange ships the normalized request, not text or tool") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val t = Transcripts.fromDocuments(spark, sfDir)
    // two priority classes, or the optimizer folds the priority to a
    // constant and drops the sort
    val cfg = graft.core.Engines.CoreConfig(prioMap = Map("standard" -> 1, "egov" -> 9))
    for (priorityOrdered <- Seq(false, true)) {
      val ds = ExtractPipeline.extract(spark, t, config = cfg, priorityOrdered = priorityOrdered)
      ds.collect()
      if (priorityOrdered) assert(ds.queryExecution.executedPlan.toString.contains("Sort"))
      // the final (AQE) plan, after the action
      val exchanges = new AdaptiveSparkPlanHelper {}
        .collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }
      assert(exchanges.size == 1, ds.queryExecution.executedPlan.toString)
      val shipped = exchanges.head.child.output.map(_.name)
      assert(shipped == Seq("conv_id", "turn_idx", "salt", "n") ++
        (if (priorityOrdered) Seq("prio") else Nil), shipped)
    }
  }

  test("plan: extract runs the kernel inside a codegen stage, one call per row, no object round trip") {
    val ds = ExtractPipeline.extract(spark, Transcripts.fromDocuments(spark, sfDir))
    ds.collect()
    // the final (AQE) plan, after the action
    val plan = ds.queryExecution.executedPlan
    val text = plan.toString
    for (node <- Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject"))
      assert(!text.contains(node), s"$node in:\n$text")
    val generated = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
      .map(_._2).mkString("\n")
    // normalize before the shuffle, run after it
    for (k <- Seq("normalize", "run")) {
      assert(text.linesIterator.exists(l => l.contains("*(") &&
        l.contains(s"graft.spark.ExtractTextKernel.$k(")), s"no codegen stage around $k in:\n$text")
      assert(s"graft\\.spark\\.ExtractTextKernel\\.$k\\(".r.findAllMatchIn(generated).size == 1,
        generated)
    }
  }

  test("extract: the schema is the Extracted encoder's, nullability included") {
    val want = org.apache.spark.sql.Encoders.product[ExtractPipeline.Extracted].schema
    // a non-nullable input does not leak its nullability into the output
    val nonNull = spark.range(3).select(lit("c").as("conv_id"), col("id").as("turn_idx"),
      lit("t").as("text"), lit("{}").as("tool"))
    for (t <- Seq(Transcripts.fromDocuments(spark, sfDir), nonNull))
      assert(ExtractPipeline.extract(spark, t).schema == want)
  }

  test("extract: a NULL turn_idx raises in codegen and interpreted mode") {
    import spark.implicits._
    val df = Seq(("c", Option.empty[Int], "text", """{"engine":"mock"}"""))
      .toDF("conv_id", "turn_idx", "text", "tool")
    def run() = intercept[Exception](ExtractPipeline.extract(spark, df).collect())
    def check(e: Throwable) = assert(
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("non-nullable field")), e)
    check(run())
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try check(run())
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("tmpdirs: created directories are registered and deleted recursively") {
    val dir = graft.spark.TmpDirs.create("graft_tmpdirs_spec_")
    val nested = java.nio.file.Paths.get(dir, "a", "b")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.writeString(nested.resolve("f.txt"), "x")
    assert(graft.spark.TmpDirs.isRegistered(dir))
    val other = java.nio.file.Files.createTempDirectory("graft_tmpdirs_other_")
    try assert(!graft.spark.TmpDirs.isRegistered(other.toString))
    finally graft.spark.TmpDirs.deleteRecursively(other)
    graft.spark.TmpDirs.deleteRecursively(java.nio.file.Paths.get(dir))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("lineage: crash after K buckets + resume = identical output, buckets skipped") {
    val t = Transcripts.fromDocuments(spark, sfDir)
    val full = tmpDir("graft_full_")
    Lineage.run(spark, t, full, numBuckets = 8)
    assert(Lineage.pendingBuckets(spark, full, 8).isEmpty)

    val crashy = tmpDir("graft_crashy_")
    Lineage.run(spark, t, crashy, numBuckets = 8, maxBucketsThisRun = 3)
    assert(Lineage.pendingBuckets(spark, crashy, 8).size == 5)
    val lineageAfterCrash = Lineage.readLineage(spark, crashy)
      .select("bucket").collect().map(_.getLong(0)).toSet
    Lineage.run(spark, t, crashy, numBuckets = 8) // resume
    assert(Lineage.pendingBuckets(spark, crashy, 8).isEmpty)
    // resumed run processed only the 5 remaining buckets
    assert(Lineage.readLineage(spark, crashy).count() == 8)
    assert(lineageAfterCrash.size == 3)

    val a = Lineage.readOutput(spark, full)
      .select("conv_id", "turn_idx", "text", "status", "engine")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    val b = Lineage.readOutput(spark, crashy)
      .select("conv_id", "turn_idx", "text", "status", "engine")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(a == b)
    val totalRows = Lineage.readLineage(spark, crashy)
      .agg(sum("n_rows")).collect()(0).getLong(0)
    assert(totalRows == t.count())

    // resuming with a different bucket count must be refused (it would
    // silently duplicate output under a different hash partitioning)
    intercept[IllegalArgumentException] {
      Lineage.run(spark, t, crashy, numBuckets = 16)
    }
  }

  test("lineage: catalog-table path — crash + resume equals the path-based output") {
    val t = Transcripts.fromDocuments(spark, sfDir)
    val (data, lin) = tableSink("graft_lintabspec_")
    Lineage.runTable(spark, t, data, lin, numBuckets = 8, maxBucketsThisRun = 3)
    assert(Lineage.readLineageTable(spark, lin).count() == 3)
    Lineage.runTable(spark, t, data, lin, numBuckets = 8) // resume: remaining 5
    assert(Lineage.readLineageTable(spark, lin).count() == 8)
    // rerunning when nothing is pending is a no-op
    Lineage.runTable(spark, t, data, lin, numBuckets = 8)
    assert(Lineage.readLineageTable(spark, lin).count() == 8)
    // bucket is a REAL catalog partition column
    assert(spark.sql(s"SHOW PARTITIONS $data").count() > 0)
    // table output equals the direct pipeline output
    val viaTable = spark.table(data)
      .select("conv_id", "turn_idx", "text", "status", "engine")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    val direct = ExtractPipeline.extract(spark, t)
      .select("conv_id", "turn_idx", "text", "status", "engine")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(viaTable == direct)
    // bucket-count mismatch refused, same as the path mode
    intercept[IllegalArgumentException] {
      Lineage.runTable(spark, t, data, lin, numBuckets = 16)
    }
  }

  test("lineage: _lineage dir with no data files reads as empty (mid-commit crash)") {
    // a crash between the committer creating the dir and the first append
    // becoming visible must NOT brick resume: explicit-schema read treats
    // the fileless dir as "nothing committed" (data writes are idempotent)
    val out = tmpDir("graft_filelesslin_")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(Lineage.lineagePath(out)))
    assert(Lineage.readLineage(spark, out).count() == 0)
    val t = Transcripts.fromDocuments(spark, sfDir)
    Lineage.run(spark, t, out, numBuckets = 4)
    assert(Lineage.pendingBuckets(spark, out, 4).isEmpty)
  }

  test("lineage: corrupt lineage table fails loudly instead of reprocessing") {
    val out = tmpDir("graft_corrupt_")
    val linDir = java.nio.file.Paths.get(Lineage.lineagePath(out))
    java.nio.file.Files.createDirectories(linDir)
    java.nio.file.Files.write(linDir.resolve("part-00000.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    // a corrupt commit log must NOT be treated as "no lineage yet" — that
    // would silently reprocess all buckets over partial output
    intercept[Exception] { Lineage.readLineage(spark, out).collect() }
  }

  test("lineage: zero-row input still commits every bucket (empty-write readback)") {
    import spark.implicits._
    val empty = Seq.empty[(String, Int, String, String)]
      .toDF("conv_id", "turn_idx", "text", "tool")
    val out = tmpDir("graft_zero_")
    val (data, lin) = tableSink("graft_zerotab_")
    for (lineage <- Seq(Lineage.run(spark, empty, out, numBuckets = 4),
        Lineage.runTable(spark, empty, data, lin, numBuckets = 4))) {
      assert(lineage.count() == 4)
      assert(lineage.filter(col("n_rows") =!= 0).count() == 0)
      assert(Lineage.pendingIn(lineage, 4).isEmpty)
    }
    assert(Lineage.pendingBuckets(spark, out, 4).isEmpty)
    assert(spark.table(data).count() == 0)
  }

  test("plan: lineage stats readback prunes to the pending buckets' partitions") {
    val t = Transcripts.fromDocuments(spark, sfDir)
    val out = tmpDir("graft_prune_")
    Lineage.run(spark, t, out, numBuckets = 8)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.Encoders.product[ExtractPipeline.Extracted].schema.fields :+
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType))
    val q = Lineage.statsQuery(spark, out, schema, Seq(1L, 2L))
    // sparkPlan (pre-AQE) exposes the raw FileSourceScanExec leaf
    val scan = q.queryExecution.sparkPlan.collectLeaves().head
    val s = scan.toString
    // the isin lands in PartitionFilters (directory pruning), NOT in
    // PushedFilters/data filters — a resume never rereads committed buckets
    assert(s.contains("PartitionFilters") &&
      s.replaceAll("\\s", "").matches("(?s).*PartitionFilters:\\[[^\\]]*bucket.*"),
      s"bucket filter not a partition filter:\n$s")
    // and it actually scans only the two pending partitions
    val files = scan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(files.headOption.contains(2), s"expected 2 partitions selected, got $files")
  }

  test("streaming: postback sink is idempotent under checkpoint-lost restart") {
    val base = tmpDir("graft_pbidem_")
    val in = s"$base/in"
    Transcripts.fromDocuments(spark, sfDir).coalesce(2)
      .write.mode("overwrite").parquet(in)
    StreamPipeline.runPostbackSink(spark, in, s"$base/delivery", s"$base/cp")
    val once = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/delivery")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    // simulate the worst restart: a FRESH checkpoint replays every batch
    // from scratch against the same delivery dir — batchId-scoped
    // overwrites must leave the table identical, where a plain append
    // would duplicate every row
    StreamPipeline.runPostbackSink(spark, in, s"$base/delivery", s"$base/cp2")
    val twice = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/delivery")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(twice == once, "replayed batches duplicated delivery rows")
  }

  test("streaming: a failing batch raises from toBatchDirs and leaves no query running") {
    import spark.implicits._
    val base = tmpDir("graft_sfail_")
    val ids = Seq(1L, 2L, 3L).toDF("id")
    ids.write.parquet(s"$base/in")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      OneShot.toBatchDirs(OneShot.source(spark, ids.schema, s"$base/in"),
        s"$base/out", s"$base/cp") { (_, _) =>
        throw new IllegalStateException("batch sink failed")
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("batch sink failed")), err)
    assert(spark.streams.active.isEmpty)
  }

  /** Stamp strictly increasing mod-times on the parquet files written
    * before/after a cut, so the file stream's oldest-first ordering makes
    * the first write batch 1 and the second write batch 2 under
    * maxFilesPerTrigger=1 (two same-millisecond writes would otherwise
    * leave the batch order to a path tiebreak).
    */
  private def orderBatches(inDir: String, firstWrite: Set[java.io.File]): Unit = {
    val now = System.currentTimeMillis()
    val all = new java.io.File(inDir).listFiles().filter(_.getName.endsWith(".parquet"))
    all.filter(firstWrite.contains).foreach(f => assert(f.setLastModified(now - 120000)))
    all.filterNot(firstWrite.contains).foreach(f => assert(f.setLastModified(now - 60000)))
  }

  private def parquetFiles(dir: String): Set[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSet

  test("streaming: dedup drops a duplicate arriving in a LATER micro-batch") {
    import graft.operators.Events
    val base = tmpDir("graft_sdedup2_")
    val ev = Events.events(spark, sfDir)
    // batch 1: the full table (one file); batch 2: a replay of its OLDEST
    // events (stale-timestamp duplicates — the case a short watermark loses)
    ev.coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    val first = parquetFiles(s"$base/in")
    ev.orderBy(col("ts")).limit(20).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    orderBatches(s"$base/in", first)
    // drive the ACTUAL operator query, one file per trigger
    val q = Events.streamingDedupQuery(spark, s"$base/in", s"$base/out",
      s"$base/cp", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not split into multiple micro-batches")
    val survivors = spark.read.parquet(s"$base/out")
    assert(survivors.count() == ev.count(), "a late-batch duplicate survived")
    assert(survivors.select("event_id").distinct().count() == ev.count())
  }

  test("streaming: near-dup bucket claimed in batch 1 suppresses batch-2 duplicates") {
    val base = tmpDir("graft_sneardup2_")
    val doc = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .withColumn("ts", (lit(1767225600L) + col("doc_id")).cast("timestamp"))
    // batch 1: the corpus; batch 2: shifted-id copies of every 4th doc —
    // their minhash band-0 bucket was claimed in batch 1, so ALL of them
    // must be suppressed by state surviving the micro-batch boundary
    doc.coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    val first = parquetFiles(s"$base/in")
    doc.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        (lit(1767229200L) + col("doc_id")).cast("timestamp").as("ts"))
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    orderBatches(s"$base/in", first)
    val q = Dedup.streamingNearDupQuery(spark, s"$base/in", s"$base/out",
      s"$base/cp", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not split into multiple micro-batches")
    val survivors = spark.read.parquet(s"$base/out")
    assert(survivors.filter(col("doc_id") >= 1000000L).count() == 0,
      "a batch-2 duplicate of a batch-1 bucket survived")
    // survivors = exactly one per distinct band-0 bucket across BOTH batches
    val expected = Dedup
      .minhashSignature(spark.read.parquet(s"$base/in").select("doc_id", "text"))
      .select("band0").distinct().count()
    assert(survivors.count() == expected)
  }

  test("streaming: incremental dedup equals the batch operator across micro-batches") {
    val base = tmpDir("graft_sincr2_")
    val docAll = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val existing = docAll.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val newDocs = docAll.filter(pmod(col("doc_id"), lit(3)) === 0)
    val reingest = existing.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    // batch 1: the genuinely-new docs; batch 2: re-ingested copies of
    // existing docs — every batch-2 row duplicates the STATIC corpus, so
    // the stateless stream-static form must drop them all without any
    // cross-batch state (that is the operator's scale claim)
    newDocs.coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    val first = parquetFiles(s"$base/in")
    reingest.coalesce(1).write.mode("append").parquet(s"$base/in")
    orderBatches(s"$base/in", first)
    val q = Dedup.streamingIncrementalQuery(spark, existing, s"$base/in",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not split into multiple micro-batches")
    val got = spark.read.parquet(s"$base/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = Dedup.incrementalDedup(existing, newDocs.unionAll(reingest))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"stream/batch divergence: ${(got diff want) ++ (want diff got)}")
    assert(got.nonEmpty && got.forall(_ < 2000000L),
      "a re-ingested duplicate of the static corpus survived")
  }

  test("lineage: empty buckets still commit (one-job path, 64 buckets over 50 convs)") {
    val t = Transcripts.fromDocuments(spark, sfDir)
    val out = tmpDir("graft_empty_")
    val (data, lin) = tableSink("graft_emptytab_")
    Lineage.run(spark, t, out, numBuckets = 64)
    assert(Lineage.pendingBuckets(spark, out, 64).isEmpty)
    val byPath = Lineage.readLineage(spark, out)
    val byTable = Lineage.runTable(spark, t, data, lin, numBuckets = 64)
    for (lineage <- Seq(byPath, byTable)) {
      assert(lineage.count() == 64)
      assert(Lineage.pendingIn(lineage, 64).isEmpty)
      // 50 conversations into 64 hash buckets: some buckets MUST be empty,
      // and they must be committed as done with 0 rows (else resume would
      // reprocess them forever)
      assert(lineage.filter(col("n_rows") === 0).count() > 0)
      val total = lineage.agg(sum("n_rows")).collect()(0).getLong(0)
      assert(total == t.count())
    }
    // one protocol: both sinks commit the same per-bucket stats
    def stats(l: org.apache.spark.sql.DataFrame) =
      l.select("bucket", "n_rows", "chars_out").orderBy("bucket").collect().toSeq
    assert(stats(byTable) == stats(byPath))
  }

  test("plan: scan prunes to needed columns and the pipeline has exactly one shuffle") {
    val t = Transcripts.fromDocuments(spark, sfDir)
    val ds = ExtractPipeline.extract(spark, t)
    val plan = ds.queryExecution.executedPlan.toString
    // column pruning reaches the parquet scan: documents has
    // (doc_id, text, lang, source, n_chars); the pipeline needs doc_id+text
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchemas.contains("doc_id") && readSchemas.contains("text"))
    assert(!readSchemas.contains("lang") && !readSchemas.contains("source")
      && !readSchemas.contains("n_chars"))
    // exactly ONE exchange: the salted repartition (O16); no hidden shuffles
    assert("Exchange".r.findAllMatchIn(plan).length == 1, s"plan:\n$plan")
  }

  test("plan: predicate pushdown reaches the parquet scan") {
    val plan = Transcripts.documents(spark, sfDir)
      .filter(col("doc_id") < 100).select("doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(doc_id,100)"),
      s"filter not pushed to parquet:\n$plan")
  }

  test("plan: ann brute-force broadcasts the candidate side") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = Similarity.bruteForceTopK(emb, nQueries = 3, k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in:\n$plan")
  }

  test("sql: registered extract_text expression matches the typed pipeline") {
    graft.spark.GraftExtensions.register(spark)
    Transcripts.fromDocuments(spark, sfDir).createOrReplaceTempView("transcripts_t")
    val viaSql = spark.sql(
      """SELECT conv_id, turn_idx,
        |  extract_text(conv_id, turn_idx, text, tool) AS text,
        |  extract_status(conv_id, turn_idx, text, tool) AS status
        |FROM transcripts_t ORDER BY conv_id, turn_idx""".stripMargin)
    val sqlRows = viaSql.collect().toSeq
    // the expression participates in whole-stage codegen (no UDF fallback);
    // check the FINAL plan (AQE materializes codegen stages on execution) —
    // "*(n)" is WholeStageCodegenExec's tree-string marker
    val finalPlan = viaSql.queryExecution.executedPlan.toString
    assert(finalPlan.contains("*("), s"no codegen stage in:\n$finalPlan")
    val viaPipeline = ExtractPipeline
      .extract(spark, Transcripts.fromDocuments(spark, sfDir))
      .select("conv_id", "turn_idx", "text", "status")
      .orderBy("conv_id", "turn_idx")
    assert(sqlRows == viaPipeline.collect().toSeq)
  }

  test("streaming: availableNow extraction equals the batch result") {
    val base = tmpDir("graft_streamspec_")
    val t = Transcripts.fromDocuments(spark, sfDir)
    t.write.mode("overwrite").parquet(s"$base/in")
    StreamPipeline.runAvailableNow(spark, s"$base/in", s"$base/out", s"$base/cp")
    val streamed = spark.read.parquet(s"$base/out")
      .select("conv_id", "turn_idx", "text", "status", "engine")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    val batch = ExtractPipeline.extract(spark, t)
      .select("conv_id", "turn_idx", "text", "status", "engine")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming: flatMapGroupsWithState sessionization equals the batch analytic window") {
    import graft.operators.Events
    val base = tmpDir("graft_sess_")
    Events.events(spark, sfDir).coalesce(1) // one file = one ordered micro-batch
      .write.mode("overwrite").parquet(s"$base/in")
    val stream = OneShot.source(spark, Events.eventSchema, s"$base/in")
    OneShot.toBatchDirs(Events.sessionizeWithState(spark, stream).toDF(),
      s"$base/out", s"$base/cp", outputMode = "update")((b, _) => b)
    val streamed = OneShot.readBatchDirs(spark, s"$base/out")
      .groupBy("user_id") // last update per user == totals (single batch)
      .agg(max("n_events").as("n_events"), max("n_sessions").as("n_sessions"))
      .orderBy("user_id").collect().toSeq
    val batch = Events.sessionize(Events.events(spark, sfDir))
      .orderBy("user_id").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming: stateful sessionization survives TIME-BUCKETED multi-batch input") {
    import graft.operators.Events
    // the operator's documented contract: per-user event-time order ACROSS
    // micro-batches, realized by time-bucketing the input (each batch is a
    // closed time range). Split the table at its median timestamp into two
    // files -> two AvailableNow batches; per-user state must carry the
    // last-event/session counters across the boundary and still equal the
    // batch analytic window.
    val base = tmpDir("graft_sess2_")
    val ev = Events.events(spark, sfDir)
    val cutSec = ev.select(unix_timestamp(col("ts")).cast("double").as("s"))
      .stat.approxQuantile("s", Array(0.5), 0.0)(0)
    val cutTs = new java.sql.Timestamp(cutSec.toLong * 1000L)
    ev.filter(col("ts") <= lit(cutTs)).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/in")
    val first = parquetFiles(s"$base/in")
    ev.filter(col("ts") > lit(cutTs)).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    orderBatches(s"$base/in", first)
    val stream = OneShot.source(spark, Events.eventSchema, s"$base/in",
      maxFilesPerTrigger = Some(1))
    val q = OneShot.toBatchDirs(Events.sessionizeWithState(spark, stream).toDF(),
      s"$base/out", s"$base/cp", outputMode = "update")((b, _) => b)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not split into multiple micro-batches")
    val streamed = OneShot.readBatchDirs(spark, s"$base/out")
      .groupBy("user_id") // counters are cumulative: last update = totals
      .agg(max("n_events").as("n_events"), max("n_sessions").as("n_sessions"))
      .orderBy("user_id").collect().toSeq
    val batch = Events.sessionize(ev).orderBy("user_id").collect().toSeq
    assert(streamed == batch)
  }

  test("skew: AQE splits a skewed join partition (north-rule skew-join mitigation)") {
    import spark.implicits._
    // one scorching key ('hot', 20k long rows) among 200 cold keys — the
    // hot-bucket shape a dedup-family band join sees on boilerplate text.
    // With AQE skew-join enabled (Main sets it for the cluster job), the
    // oversized partition is split at runtime: the executed SMJ is marked
    // skew=true, with NO manual salting needed on the join itself.
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force a shuffle join
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pad = "x" * 400
      val left = spark.range(0, 20000)
        .select(when(col("id") < 19800, "hot").otherwise(concat(lit("k"), col("id") % 200))
          .as("k"), concat(lit(pad), col("id")).as("payload"))
      val right = (0 until 200).map(i => s"k$i").toDF("k")
        .unionByName(Seq("hot").toDF("k"))
      val joined = left.join(right, Seq("k"))
      // execute THIS dataframe (count() would spawn a separate query
      // execution and leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 20000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (expected skew=true):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("skew: heavy rows of one conversation spread across partitions") {
    import spark.implicits._
    val heavy = "x" * (ExtractPipeline.heavyThreshold + 1)
    val rows = (0 until 4).map(i => ("conv-heavy", i, heavy, "")) ++
      (0 until 64).map(i => (s"conv-${i % 8}", i, "small", ""))
    val df = rows.toDF("conv_id", "turn_idx", "text", "tool")
    val parts = df.repartition(8, ExtractPipeline.saltColumn())
      .select(col("conv_id"), expr("spark_partition_id()").as("pid"))
    val heavyPids = parts.filter(col("conv_id") === "conv-heavy")
      .select("pid").distinct().count()
    assert(heavyPids > 1, "per-row salt must spread one conversation's heavy rows")
  }

  test("priority: high-priority rows run first within each partition, no extra shuffle") {
    import spark.implicits._
    import graft.core.Engines
    val rows = (0 until 200).map { i =>
      val dt = if (i % 3 == 0) "egov" else "standard"
      (s"conv-${i % 10}", i, "payload text", s"""{"engine":"mock","doc_type":"$dt"}""")
    }
    val df = rows.toDF("conv_id", "turn_idx", "text", "tool")
    val cfg = Engines.CoreConfig(prioMap = Map("standard" -> 1, "egov" -> 9))
    val ds = ExtractPipeline.extract(spark, df, numPartitions = 4, config = cfg,
      priorityOrdered = true)
    // encounter order within each task: monotonically_increasing_id is
    // assigned in iteration order inside the same narrow stage, so every
    // egov (prio 9) row must appear before every standard (prio 1) row
    // within its partition
    val observed = ds
      .withColumn("pid", expr("spark_partition_id()"))
      .withColumn("pos", monotonically_increasing_id())
      .withColumn("prio", when(pmod(col("turn_idx"), lit(3)) === 0, 9).otherwise(1))
      .groupBy("pid")
      .agg(max(when(col("prio") === 9, col("pos"))).as("last_high"),
        min(when(col("prio") === 1, col("pos"))).as("first_low"))
      .filter(col("last_high").isNotNull && col("first_low").isNotNull)
    assert(observed.filter(col("last_high") > col("first_low")).count() == 0,
      "a standard-priority row ran before an egov row in some partition")
    // the priority sort adds NO shuffle: still exactly one Exchange
    val plan = ds.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1, s"plan:\n$plan")
    assert(plan.contains("Sort"), s"expected an in-partition Sort in:\n$plan")
  }

  test("priority: cross-job FAIR pool assignment per doc_type class") {
    import graft.core.Engines
    val cfg = Engines.CoreConfig(prioMap = Map("standard" -> 1, "egov" -> 9))
    val sc = spark.sparkContext
    assert(ExtractPipeline.poolFor("egov", cfg) == "prio-9")
    assert(ExtractPipeline.poolFor("standard", cfg) == "prio-1")
    assert(ExtractPipeline.poolFor("", cfg) == "prio-1") // absent doc_type
    assert(ExtractPipeline.poolFor("unknown-class", cfg) == "prio-1") // -> standard
    // every job submitted inside the combinator carries the pool property...
    val observed = ExtractPipeline.withPriorityPool(spark, "egov", cfg) {
      val p = sc.getLocalProperty("spark.scheduler.pool")
      spark.range(10).count() // a real submission under the pool
      p
    }
    assert(observed == "prio-9")
    // ...and the property is restored afterwards (no leakage across jobs)
    assert(sc.getLocalProperty("spark.scheduler.pool") == null)
    // the weights are REALIZED, not just named: the session runs FAIR mode
    // with the generated allocation file, so prio-9 outweighs prio-1 10:2
    // (weight = priority + 1; on-demand pools without the file would all
    // get weight 1 and priorities would be equal shares)
    assert(sc.getSchedulingMode.toString == "FAIR")
    assert(sc.getPoolForName("prio-9").map(_.weight).contains(10))
    assert(sc.getPoolForName("prio-1").map(_.weight).contains(2))
    assert(sc.getPoolForName("prio-0").map(_.weight).contains(1))
  }

  test("plan: ivf assignment is a pure narrow map (zero Exchange, no Window)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = Similarity.ivfAssign(emb).queryExecution.executedPlan.toString
    // the argmax over the broadcast centroid list must happen map-side:
    // no shuffle keyed by vec_id, no row_number window
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
    assert(!plan.contains("Window"), s"plan:\n$plan")
  }

  test("ann: kmeans step is bit-reproducible under repartitioning; one Exchange") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
      Similarity.kmeansStep(df).orderBy("cell", "dim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val a = run(emb)
    // fixed-point accumulation: integer sums are order-independent, so the
    // recomputed centroids are IDENTICAL DOUBLES under any partitioning —
    // the property float sums lose in shuffle-arrival order (and the north
    // rule's N-vs-4N equality needs)
    assert(a == run(emb.repartition(7)))
    assert(a == run(emb.repartition(1)))
    // every vector contributes to exactly one cell, all dims present
    assert(a.map(_._3).sum == emb.count() * Similarity.dims)
    assert(a.map(t => (t._1, t._2)).distinct.size == a.size)
    // the mean moves the centroid: at least one (cell, dim) mean differs
    // from its seed centroid's value (a genuine Lloyd update, not an echo
    // of the inputs)
    val seedVals = emb.filter(col("vec_id") < Similarity.ivfCells)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(seedVals.size == Similarity.ivfCells)
    assert(a.exists { case (cell, dim, _, mean) =>
      math.abs(mean - seedVals(cell)(dim - 1)) > 1e-6
    }, "no centroid moved — kmeansStep echoed its seed centroids")
    // ONE Exchange total: narrow assignment map -> groupBy(cell) -> narrow
    // posexplode; no second shuffle for the long-format output
    val plan = Similarity.kmeansStep(emb).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 Exchange, got $exchanges in:\n$plan")
  }

  test("ann: kmeans training loop converges monotonically and reproduces to the bit") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def flat(cents: Array[(Long, Array[Double])]): Seq[(Long, Seq[Double])] =
      cents.map { case (c, a) => (c, a.toSeq) }.toSeq
    val t2 = Similarity.trainCentroids(emb, 2)
    // bit-identical under repartitioning (the integer-accumulation
    // property, now carried through the whole loop)
    assert(flat(t2) == flat(Similarity.trainCentroids(emb.repartition(7), 2)))
    // the loop genuinely iterates: iteration 2 moves centroids beyond
    // iteration 1, and both differ from the seed
    val t1 = Similarity.trainCentroids(emb, 1)
    val seed = Similarity.collectCentroids(emb)
    assert(flat(t1) != flat(seed) && flat(t2) != flat(t1))
    // all cells survive (non-empty or fallback) with full dimensionality
    assert(t2.length == Similarity.ivfCells &&
      t2.forall(_._2.length == Similarity.dims))
    // kmeansTrain is the same table in long format
    val df = Similarity.kmeansTrain(emb).orderBy("cell", "dim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(df == t2.toSeq.sortBy(_._1).flatMap { case (c, a) =>
      a.zipWithIndex.map { case (m, i) => (c, i + 1, m) } })
    // trained-quantizer SemDeDup returns one row per injected-base vector
    // and never drops MORE boundary examples than it keeps structure for:
    // same row count as the first-K variant (drop flags may differ)
    val plain = Dedup.semanticDedup(emb).count()
    assert(Dedup.semanticDedupTrained(emb).count() == plain)
  }

  test("ann: ivf nprobe=2 never ranks worse than nprobe=1 and stays map-side") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p1 = Similarity.ivfTopK(emb, nQueries = 5, k = 1)
      .select(col("query_id"), col("cos").as("cos1"))
    val p2 = Similarity.ivfTopKProbe2(emb, nQueries = 5, k = 1)
      .select(col("query_id"), col("cos").as("cos2"))
    // probing a superset of cells can only improve the best hit
    assert(p1.join(p2, Seq("query_id")).filter(col("cos2") < col("cos1")).count() == 0)
    val plan = Similarity.ivfAssignProbe2With(emb, Similarity.collectCentroids(emb))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"), s"plan:\n$plan")
  }

  test("ann: ivf top-k is subset-consistent with brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, nQueries = 5, k = 3)
      .filter(col("rank") === 1).select(col("query_id"), col("cos").as("bf_cos"))
    val ivf = Similarity.ivfTopK(emb, nQueries = 5, k = 3)
      .filter(col("rank") === 1).select(col("query_id"), col("cos").as("ivf_cos"))
    assert(bf.join(ivf, Seq("query_id")).filter(col("ivf_cos") > col("bf_cos")).count() == 0)
  }

  test("dedup: exact finds exactly the injected duplicates") {
    val doc = Transcripts.documents(spark, sfDir)
    val dups = Dedup.exact(doc).filter(col("n_copies") > 1)
    assert(dups.count() == doc.filter(pmod(col("doc_id"), lit(4)) === 0).count())
    // keeper is always the original (smaller) id
    assert(dups.filter(col("keeper") >= 1000000L).count() == 0)
  }

  test("dedup: minhash LSH candidates include every injected dup pair") {
    val doc = Transcripts.documents(spark, sfDir)
    val pairs = Dedup.minhashBands(doc)
      .filter(col("b_id") === col("a_id") + 1000000L)
    assert(pairs.count() == doc.filter(pmod(col("doc_id"), lit(4)) === 0).count())
  }

  test("vec_dot: native expression is bit-identical to the aggregate/zip_with form") {
    import graft.spark.VectorFunctions.vecDot
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(100)
    // float arrays widen per element exactly like CAST(x AS DOUBLE) in the
    // lambda, and the loop sums left-to-right like aggregate's fold
    val hof = expr(
      "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    val diff = emb.select(
      vecDot(col("embedding"), col("embedding")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0, "native dot diverged from the HOF fold")
    // participates in whole-stage codegen (no UDF/interpreted fallback)
    val plan = emb.select(vecDot(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
    // and the SQL surface exposes it
    graft.spark.GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(viaSql == 11.0)
  }

  test("shingles3: native shingling is identical to the HOF array_distinct form") {
    val hof = expr(
      """array_distinct(transform(sequence(0, size(split(text, ' ')) - 3),
        |  i -> concat(element_at(split(text, ' '), i + 1), ' ',
        |              element_at(split(text, ' '), i + 2), ' ',
        |              element_at(split(text, ' '), i + 3))))""".stripMargin)
    val diff = Transcripts.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(Dedup.shingles(col("text")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0, "native shingles diverged from the HOF form")
  }

  test("minhash16: native signature is bit-identical to the md5-SQL form") {
    import graft.spark.HashFunctions.minHash16
    val doc = Transcripts.documents(spark, sfDir).limit(50)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("grams"))
      .withColumn("hcat", expr(
        """transform(grams, g -> concat(
          |  md5(concat('0:', g)), md5(concat('1:', g)),
          |  md5(concat('2:', g)), md5(concat('3:', g))))""".stripMargin))
    val checks = (0 until 16).map { k =>
      val sqlForm = expr(
        s"array_min(transform(hcat, s -> CAST(conv(substring(s, ${8 * k + 1}, 8), 16, 10) AS BIGINT)))")
      when(element_at(minHash16(col("grams")), k + 1) =!= sqlForm, 1).otherwise(0)
    }
    val mismatches = doc.select(checks.reduce(_ + _).as("mm"))
      .agg(sum("mm")).collect()(0).getLong(0)
    assert(mismatches == 0, "native minhash16 diverged from the md5-SQL form")
  }

  test("simhash16: native signature is bit-identical to the md5-HOF form") {
    import spark.implicits._
    val corpus = Transcripts.documents(spark, sfDir)
    val native = Dedup.simhash(corpus).orderBy("doc_id").collect().toSeq
    val hof = HofRefs.simhashHof(corpus).orderBy("doc_id").collect().toSeq
    assert(native == hof, "native simhash16 diverged from the HOF form")
    // edge cases: empty text (one empty token), single token, non-ASCII
    val edge = Seq("", "one", "a b a b", "héllo wörld").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    assert(Dedup.simhash(edge).orderBy("doc_id").collect().toSeq ==
      HofRefs.simhashHof(edge).orderBy("doc_id").collect().toSeq)
    // participates in whole-stage codegen
    val plan = Dedup.simhash(corpus).queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
  }

  test("sql: the whole native-kernel set is reachable from pure SQL") {
    graft.spark.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT shingles3('a b c d') AS sh,
        |       minhash16(shingles3('a b c d')) AS mh,
        |       rolling_hash('abc') AS rh,
        |       simhash16('a b c') AS si,
        |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS vd""".stripMargin)
      .collect()(0)
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r.getSeq[Long](1).length == 16)
    // rolling_hash('abc') = ((97*31+98)*31+99) mod (2^31-1)
    assert(r.getLong(2) == ((97L * 31 + 98) * 31 + 99) % 2147483647L)
    assert(r.getInt(3) == spark.sql("SELECT simhash16('a b c') s").collect()(0).getInt(0))
    assert(r.getDouble(4) == 11.0)
  }

  test("dedup: simhash pairs find every injected exact-dup at hamming 0") {
    val doc = Transcripts.documents(spark, sfDir)
    val exact = Dedup.simhashPairs(doc)
      .filter(col("b_id") === col("a_id") + 1000000L && col("hamming") === 0)
    assert(exact.count() == doc.filter(pmod(col("doc_id"), lit(4)) === 0).count())
  }

  test("dedup: simhash rotation blocking finds a pair the 8-bit prefix misses") {
    import spark.implicits._
    // bit 15 flipped: top-byte prefix blocks differ (0x12 vs 0x92) so prefix
    // blocking can never compare them; rotation window b=0 (bits 0-7 = 0x34)
    // agrees, so banded blocking pairs them at hamming 1
    val sig = Seq((1L, 0x1234), (2L, 0x9234)).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsFromSig(sig).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getInt(2) == 1)
    // sanity: the old prefix key really would have missed this pair
    assert((0x1234 >> 8) != (0x9234 >> 8))
  }

  test("plan: no cartesian-class join anywhere in the dedup family") {
    val doc = Transcripts.documents(spark, sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plans = Seq(
      "ngram_jaccard" -> Dedup.ngramJaccard(doc),
      "minhash_bands" -> Dedup.minhashBands(doc),
      "minhash_verify" -> Dedup.minhashJaccard(doc),
      "simhash_pairs" -> Dedup.simhashPairs(doc),
      "window_fp_pairs" -> Dedup.windowDupPairs(doc),
      "embedding_near_dup" -> Dedup.embeddingNearDup(emb))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"cartesian-class join in $name:\n$plan")
    }
  }

  test("rolling_hash: native kernel is bit-identical to the aggregate/HOF form") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val corpus = Transcripts.documents(spark, sfDir)
      .select(TextAnalysis.rollingHash(col("text")).as("native"),
        HofRefs.rollingHashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(corpus.count() == 0, "native rolling hash diverged from the HOF fold on the corpus")
    // edge cases: empty string, non-ASCII (Spark 4's ascii() = first code
    // point, matching DuckDB ord() — the kernel must replicate that), long
    // text, astral-plane emoji (surrogate pair = ONE code point)
    val edge = Seq("", "héllo wörld", "a", "x" * 5000, "emoji 😀 tail")
      .toDF("text")
      .select(TextAnalysis.rollingHash(col("text")).as("native"),
        HofRefs.rollingHashHof(col("text")).as("hof"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) == r.getLong(1), s"edge mismatch: $r"))
    // participates in whole-stage codegen
    val plan = Transcripts.documents(spark, sfDir)
      .select(TextAnalysis.rollingHash(col("text")).as("h"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
  }

  test("dedup: injected near-dup embeddings found via content blocking") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Dedup.embeddingNearDup(emb).cache()
    // blocking is CONTENT-based (LSH bucket), not id-based: an injected twin
    // is only missed when its +0.5 dim-1 shift flips a near-zero plane bit —
    // the standard single-table LSH recall trade-off. Require high recall.
    val twins = pairs.filter(col("b_id") === col("a_id") + 10000L).count()
    assert(twins >= (emb.count() * 0.85).toLong,
      s"banded content blocking found $twins of ${emb.count()} injected twins")
    val mins = pairs.agg(min("cos"), max("cos")).collect()(0)
    assert(mins.getDouble(0) > 0.8 && mins.getDouble(1) <= 1.0)
    pairs.unpersist()
  }

  test("dedup: near-dup pair with UNRELATED ids is found (id-blind blocking)") {
    import spark.implicits._
    // two nearly-parallel vectors whose ids share no arithmetic relation:
    // id-based blocking (vec_id % 10000) can never compare them
    val v = (1 to 64).map(i => 1.0 + i / 64.0)
    val w = v.updated(2, v(2) + 0.01)
    val base = Seq((123L, v), (9876543L, w))
      .toDF("vec_id", "emb")
    val pairs = Dedup.nearDupPairs(base, minCos = 0.8).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 123L && pairs(0).getLong(1) == 9876543L)
    assert(pairs(0).getDouble(2) > 0.99)
  }

  test("dedup: semantic dedup drops one member per in-cell dup pair (SemDeDup)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // an identical-vector pair under a fresh id: same cell, equal centroid
    // cosine, pair cosine 1 -> the tie rule MUST drop the larger vec_id
    val clone = emb.filter(col("vec_id") === 100L)
      .select(lit(600L).as("vec_id"), col("embedding"))
    val out = Dedup.semanticDedup(
      emb.select("vec_id", "embedding").unionByName(clone)).cache()
    // one row per base + injected vector
    assert(out.count() == (emb.count() + 1) * 2)
    val by = out.filter(col("vec_id").isin(100L, 600L))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(by(100L).getLong(1) == by(600L).getLong(1), "identical vectors must share a cell")
    assert(by(100L).getDouble(2) == by(600L).getDouble(2))
    assert(by(600L).getBoolean(3), "tie rule: the larger vec_id of an identical pair is dropped")
    assert(out.filter(col("dropped")).count() > 0)
    out.unpersist()
  }

  test("dedup: semantic dedup plan shares one scan/shuffle; one centroid collect") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.operators.Similarity.centroidCollects.set(0L)
    val out = Dedup.semanticDedup(emb)
    assert(graft.operators.Similarity.centroidCollects.get() == 1L,
      "semanticDedup must collect centroids exactly once")
    // rows and pairs both read the aggregated cells table: the scoring map
    // + its shuffle must run once. Under AQE exchange reuse materializes at
    // runtime, so execute first and read the FINAL plan.
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"no exchange reuse in final plan:\n$plan")
  }

  test("sampling: shuffle order is a reproducible salted permutation, shard-local") {
    import graft.operators.Sampling
    val doc = Transcripts.documents(spark, sfDir)
    def order(salt: String): Seq[(Long, Int, Long)] =
      Sampling.shuffleOrder(doc, salt).orderBy("shard", "pos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val a = order("graft-shuffle")
    // a permutation of the corpus: every doc exactly once
    assert(a.map(_._1).sorted == doc.select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq)
    // positions are contiguous 1..n within each shard
    a.groupBy(_._2).values.foreach { s =>
      assert(s.map(_._3).sorted == (1L to s.size.toLong))
    }
    // reproducible under the salt; a new salt genuinely reshuffles
    assert(order("graft-shuffle") == a)
    assert(order("epoch-2") != a)
    // ONE Exchange: the shard hash partitioning feeding the per-shard sort
    val plan = Sampling.shuffleOrder(doc).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, s"plan:\n$plan")
  }

  test("dedup: cluster retention keeps the highest-priority member (tie -> min id)") {
    import spark.implicits._
    // identical texts from sources with priorities 1 (src1) and 2 (src2):
    // the HIGHER-priority doc must survive despite its larger id (the
    // min-id rule would keep 10 and throw away the curated copy)
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val doc = Seq((10L, text, "src1"), (20L, text, "src2"),
      (30L, "totally different words here nothing shared at all", "src4"))
      .toDF("doc_id", "text", "source")
    val rows = Dedup.clusterKeep(doc).collect()
    val out = rows.map(r => r.getLong(0) -> r).toMap
    assert(out.contains(10L) && out.contains(20L))
    assert(!out.contains(30L), "unclustered docs are implicitly kept (absent)")
    assert(!out(10L).getBoolean(3) && out(20L).getBoolean(3))
    // the injected copy of 20 (id 1000020, same source) loses the
    // priority tie to the smaller original id
    assert(out.get(1000020L).forall(!_.getBoolean(3)))
    // exactly one survivor per cluster
    val perCluster = rows.groupBy(_.getLong(1)).values
    assert(perCluster.forall(_.count(_.getBoolean(3)) == 1))
  }

  test("sampling: stratified sample is deterministic, nested across rates, narrow") {
    import graft.operators.Sampling
    val doc = Transcripts.documents(spark, sfDir)
    def ids(rates: Map[String, Double], salt: String = "graft"): Set[Long] =
      Sampling.stratifiedSample(doc, rates, salt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = ids(Sampling.defaultRates)
    // deterministic: the same salt reproduces the same sample exactly
    assert(ids(Sampling.defaultRates) == full)
    // nested: halving every rate yields a SUBSET (the scaling-law ladder
    // property — u < rate is monotone in rate for a fixed salt)
    val half = ids(Sampling.defaultRates.view.mapValues(_ / 2).toMap)
    assert(half.subsetOf(full) && half.size < full.size)
    // rates actually stratify: an all-1.0 mixture keeps everything
    val all = ids(Sampling.defaultRates.keySet.map(_ -> 1.0).toMap)
    assert(all.size == doc.count())
    // a different salt draws a genuinely different sample
    assert(ids(Sampling.defaultRates, salt = "other") != full)
    // and the plan is a narrow filter: NO Exchange anywhere
    val plan = Sampling.stratifiedSample(doc)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("repetition: duplicated 3-gram fraction, edges, narrow plan") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c a b c"), // 7 grams, 3 distinct -> 1 - 3/7
      (2L, "p q r s"),           // no repeats -> 0
      (3L, "x y")                // too short to shingle -> 0/0 -> 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == Seq((1L, 7, 3, 0.5714), (2L, 2, 2, 0.0), (3L, 0, 0, 0.0)))
    val plan = TextAnalysis.repetition(Transcripts.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("blocklist: term occurrences counted, source blocking, narrow plan") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val df = Seq(
      (1L, "fast scan slow merge slow", "src0"), // 2 term hits
      (2L, "fast scan merge", "src7"),           // blocked source only
      (3L, "fast scan merge", "src0"),           // clean -> kept
      (4L, "slow", "src13")                      // both
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.blocklist(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getBoolean(3))).toSeq
    assert(got == Seq((1L, 2, false), (2L, 0, false), (3L, 0, true), (4L, 1, false)))
    val plan = TextAnalysis.blocklist(Transcripts.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("classifier: hashed-feature score matches the JVM weight table, narrow plan") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // single-token docs: score must equal the Scala-side table lookup for
    // the same md5-prefix hash — pins SQL conv/pmod == JVM mirror
    def jvmScore(tok: String): Int = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      TextAnalysis.classifierWeight(
        Integer.parseInt(md5.substring(0, 4), 16) % TextAnalysis.classifierBuckets)
    }
    val toks = Seq("join", "hash", "slow", "vector", "emoji")
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.classifierScore(df).orderBy("doc_id").collect()
    toks.zipWithIndex.foreach { case (t, i) =>
      assert(got(i).getInt(2) == jvmScore(t), s"token $t")
      assert(got(i).getBoolean(3) == (jvmScore(t) >= 0))
    }
    // additivity: a two-token doc scores the sum of its tokens
    val two = TextAnalysis.classifierScore(Seq((9L, "join hash")).toDF("doc_id", "text"))
      .collect()(0)
    assert(two.getInt(2) == jvmScore("join") + jvmScore("hash"))
    val plan = TextAnalysis.classifierScore(Transcripts.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("url: native canonicalizer matches the core function, codegen, SQL-registered") {
    import spark.implicits._
    val urls = Seq(
      "https://EXAMPLE.com:443/Docs//", "http://a.com:80/?utm_source=f&q=1",
      "https://u:Pw@A.com/p/#frag", "ftp://files.a.com/x/", "not a url", "")
    val df = urls.toDF("url")
    val got = df.select(graft.spark.HashFunctions.urlCanonical(col("url")))
      .collect().map(_.getString(0)).toSeq
    assert(got == urls.map(graft.core.Urls.canonicalize))
    // participates in whole-stage codegen (a parquet-backed input — a
    // local relation constant-folds to LocalTableScan before codegen)
    val plan = Transcripts.documents(spark, sfDir)
      .select(graft.spark.HashFunctions.urlCanonical(
        concat(lit("https://A.com/"), col("doc_id"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
    // and is reachable from the SQL surface
    graft.spark.GraftExtensions.register(spark)
    df.createOrReplaceTempView("urls_v")
    val viaSql = spark.sql("SELECT url_canonical(url) AS c FROM urls_v")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == got)
    // the url_dedup query's property: trailing-slash and tracking-param
    // variants of the same page collapse to ONE canonical key
    val dd = SparkEntry.queries("url_dedup")(spark, sfDir).cache()
    assert(dd.count() * 2 == Transcripts.documents(spark, sfDir).count())
    assert(dd.filter(col("n_variants") =!= 2).count() == 0)
    dd.unpersist()
  }

  test("conv: per-conversation datasheet conserves turns and role mix") {
    val t = Transcripts.fromDocuments(spark, sfDir)
    val s = Transcripts.convStats(t).cache()
    assert(s.count() == Transcripts.Conversations)
    // every turn lands in exactly one conversation; roles partition turns
    val tot = s.agg(sum("n_turns"), sum("n_user"), sum("n_assistant"),
      sum("n_tool")).collect()(0)
    assert(tot.getLong(0) == t.count())
    assert(tot.getLong(1) + tot.getLong(2) + tot.getLong(3) == tot.getLong(0))
    // span covers the conversation's turn range: ts = doc_id seconds and
    // turns are Conversations apart, so span = (last - first) * Conversations
    val bad = s.filter(col("span_sec") =!=
      (col("last_turn") - col("first_turn")).cast("long") * Transcripts.Conversations)
    assert(bad.count() == 0)
    s.unpersist()
  }

  test("bpe: adjacent-pair counts, rank order, single-char tokens excluded") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // "ab ab abc x": pairs ab, ab, (ab, bc), and 'x' contributes none
    val df = Seq((1L, "ab ab abc x")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairStats(df).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1, "ab", 3L), (2, "bc", 1L)))
    // corpus run: ranks are 1..K, counts non-increasing, ties broken asc
    val c = TextAnalysis.bpePairStats(Transcripts.documents(spark, sfDir)).collect()
    assert(c.map(_.getInt(0)).toSeq == (1 to TextAnalysis.bpeTopK))
    val ns = c.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("funnel: first-stage attribution, conservation, matches standalone filters") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val doc = Transcripts.documents(spark, sfDir)
    val f = TextAnalysis.qualityFunnel(doc).orderBy("stage_idx").collect()
    assert(f.map(_.getString(1)).toSeq ==
      Seq("blocklist", "length", "repetition", "classifier", "kept"))
    // conservation: every doc lands in exactly one stage
    assert(f.map(_.getLong(2)).sum == doc.count())
    // remaining is monotone; the kept row is its own remainder
    val rem = f.map(_.getLong(3))
    assert(rem.zip(rem.tail).forall { case (a, b) => a >= b })
    assert(f(4).getLong(2) == f(4).getLong(3) && f(3).getLong(3) == f(4).getLong(2))
    // survivors == docs passing ALL standalone filters (funnel introduces
    // no rule of its own, only attribution)
    val b = TextAnalysis.blocklist(doc).filter(col("keep")).select("doc_id")
    val l = doc.select("doc_id")
      .where(size(split(col("text"), " ")) >= TextAnalysis.shortDocTokens)
    val r = TextAnalysis.repetition(doc)
      .filter(col("dup_gram_ratio") <= TextAnalysis.funnelRepetitionMax)
      .select("doc_id")
    val c = TextAnalysis.classifierScore(doc).filter(col("keep")).select("doc_id")
    assert(f(4).getLong(2) == b.intersect(l).intersect(r).intersect(c).count())
    // attribution order: a doc failing blocklist AND length dies at
    // blocklist; a clean short doc dies at length
    val tiny = Seq((1L, "slow", "src0"), (2L, "ok ok", "src0"))
      .toDF("doc_id", "text", "source")
    val tf = TextAnalysis.qualityFunnel(tiny).orderBy("stage_idx").collect()
    assert(tf(0).getLong(2) == 1L && tf(1).getLong(2) == 1L)
  }

  test("pii: scrubber redacts every injected email/phone, narrow plan") {
    import graft.operators.TextAnalysis
    val doc = Transcripts.documents(spark, sfDir)
    val injected = TextAnalysis.withInjectedPii(doc)
    // every injected doc is counted...
    val s = TextAnalysis.scrubPii(doc).cache()
    assert(s.filter(pmod(col("doc_id"), lit(7)) === 0 && col("n_emails") < 1).count() == 0)
    assert(s.filter(pmod(col("doc_id"), lit(11)) === 0 && col("n_phones") < 1).count() == 0)
    // the widened variants: mixed-case +tag email on a hyphenated domain
    // (%13) and the parenthesized phone form (%17) are caught too
    assert(s.filter(pmod(col("doc_id"), lit(13)) === 0 && col("n_emails") < 1).count() == 0)
    assert(s.filter(pmod(col("doc_id"), lit(17)) === 0 && col("n_phones") < 1).count() == 0)
    // ...and the OPERATOR'S scrub expression leaves no surviving match of
    // EITHER pattern; md5 ties this exactly to the operator's output column
    val residual = injected.select(
      col("doc_id"),
      regexp_count(TextAnalysis.scrubExpr(col("text")),
        lit(TextAnalysis.emailPattern)).as("e"),
      regexp_count(TextAnalysis.scrubExpr(col("text")),
        lit(TextAnalysis.phonePattern)).as("p"),
      md5(TextAnalysis.scrubExpr(col("text"))).as("fp"))
    assert(residual.filter(col("e") > 0 || col("p") > 0).count() == 0)
    assert(s.join(residual, Seq("doc_id"))
      .filter(col("scrubbed_fp") =!= col("fp")).count() == 0,
      "operator output fingerprint diverged from scrubExpr over the injected text")
    // untouched docs (no PII of either kind) keep their original fingerprint
    val unchanged = s
      .join(doc.select(col("doc_id"), md5(col("text")).as("orig_fp")), Seq("doc_id"))
      .filter(pmod(col("doc_id"), lit(7)) =!= 0 && pmod(col("doc_id"), lit(11)) =!= 0 &&
        pmod(col("doc_id"), lit(13)) =!= 0 && pmod(col("doc_id"), lit(17)) =!= 0)
      .filter(col("scrubbed_fp") =!= col("orig_fp") &&
        col("n_emails") === 0 && col("n_phones") === 0)
      .count()
    assert(unchanged == 0)
    s.unpersist()
    // pure narrow map: no Exchange
    val plan = TextAnalysis.scrubPii(doc).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("decontamination: shingle overlap drops docs, broadcast map-side plan") {
    import graft.operators.Sampling
    import spark.implicits._
    // synthetic: doc 1 embeds the eval 3-gram "a b c", doc 2 shares no
    // 3-gram (even though it shares words), doc 3 is too short to shingle
    val evalDocs = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x a b c y"),
      (2L, "a x b y c"),
      (3L, "a b")).toDF("doc_id", "text")
    val kept = Sampling.decontaminate(train, evalDocs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // the eval set removes ITSELF from the corpus (eval docs share all
    // their shingles with the eval set by definition)
    val doc = Transcripts.documents(spark, sfDir)
    val cleaned = Sampling.decontaminate(doc, Sampling.evalHoldout(doc))
    assert(cleaned.filter(pmod(col("doc_id"), lit(97)) === 0)
      .filter(size(split(col("text"), " ")) >= 3).count() == 0)
    // the DETECTION join (eval shingles vs exploded corpus shingles) is
    // broadcast — the corpus side never shuffles for it. Pin it as the
    // join whose probe side feeds from the shingles Generate, so a dropped
    // broadcast() hint can't hide behind the anti-join's own (optimizer-
    // chosen, size-dependent) broadcast.
    val qe = Sampling.decontaminate(doc, Sampling.evalHoldout(doc)).queryExecution
    val planStr = qe.executedPlan.toString
    val detection = planStr.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("[shingle"))
    assert(detection.nonEmpty, s"plan:\n$planStr")
    // and the unbounded contaminated-id side carries NO forced broadcast
    // hint (the optimizer may still choose one when it fits — that's AQE's
    // call, not a pin)
    val hints = qe.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1, s"expected exactly the eval-shingle hint, got:\n$hints")
  }

  test("packing: prefix-sum pack assignment is consistent and one-shuffle") {
    import graft.operators.Packing
    val doc = Transcripts.documents(spark, sfDir)
    val packed = Packing.packContexts(doc).cache()
    // every document reconstructs its running start: pack_id * budget +
    // offset = sum of n_tokens of earlier docs in its (stratum, shard)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("predicted"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bad = packed
      .withColumn("expect", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("pack_id") * Packing.packBudget + col("pack_offset") =!= col("expect"))
      .count()
    assert(bad == 0)
    // offsets stay inside the budget, pack ids never decrease along doc_id
    assert(packed.filter(col("pack_offset") >= Packing.packBudget).count() == 0)
    val disordered = packed
      .withColumn("prev_pack", lag(col("pack_id"), 1).over(
        Window.partitionBy(col("predicted"), col("shard")).orderBy(col("doc_id"))))
      .filter(col("prev_pack") > col("pack_id")).count()
    assert(disordered == 0)
    // contexts fill: at this scale most packs carry more than one document
    val multi = packed.groupBy("predicted", "shard", "pack_id").count()
    assert(multi.filter(col("count") >= 2).count() > multi.count() / 2)
    packed.unpersist()
    // plan: exactly ONE Exchange — the (stratum, shard) window partition
    val plan = Packing.packContexts(doc).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1, s"plan:\n$plan")
  }

  test("dedup: clusters resolve transitive near-dup chains (connected components)") {
    import spark.implicits._
    // A~B, B~C but A!~C: pairwise drop-the-larger keeps C; the component
    // {1,2,3} must resolve to ONE cluster id (its min). 7-9 is disjoint.
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a_id", "b_id")
    val got = Dedup.clustersFromPairs(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
    // a diameter-4 chain forces multiple propagation rounds to the fixpoint
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("a_id", "b_id")
    val labels = Dedup.clustersFromPairs(chain).select("cluster_id")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(labels == Seq(10L))
    // and over the real corpus: every cluster id is a member of its own
    // cluster and is its minimum (the survivor-selection invariant)
    val real = Dedup.dupClusters(Transcripts.documents(spark, sfDir))
    val bad = real.groupBy("cluster_id").agg(min("doc_id").as("lo"))
      .filter(col("lo") =!= col("cluster_id")).count()
    assert(bad == 0, "a cluster id is not its component's min doc_id")
  }

  test("dedup: clusters equal brute-force union-find on seeded random graphs") {
    import spark.implicits._
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(40)
      val pairs = Seq.fill(1 + rnd.nextInt(2 * n)) {
        val a = rnd.nextInt(n).toLong
        val b0 = rnd.nextInt(n).toLong
        val b = if (a == b0) (a + 1) % n else b0
        (math.min(a, b), math.max(a, b))
      }.distinct
      // reference: union-find attaching the larger root under the smaller,
      // so every final root is its component's min — the operator's contract
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(x => (x, find(x))).sortBy(_._1)
      val got = Dedup.clustersFromPairs(pairs.toDF("a_id", "b_id"))
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"trial $trial (${pairs.size} edges): $got != $expected")
    }
    // superseded checkpoint generations are freed EAGERLY, not left to the
    // GC: each call may keep only its final labels generation alive, so 8
    // calls grow the persistent-RDD set by at most ~1 each (a silently
    // broken freeLocalCheckpoint would retain every per-iteration block)
    val growth = spark.sparkContext.getPersistentRDDs.size - persistedBefore
    assert(growth <= 10, s"leaked $growth checkpoint RDDs across 8 cluster runs")
  }

  test("plan: minhash pairs are STREAMED and the verify shingle table is one-pass") {
    val doc = Transcripts.documents(spark, sfDir)
    // in-bucket pair generation never materializes the O(bucket^2) pair
    // array as ONE value: chained posexplode + explode(slice) only (the
    // nearDupPairs form) — at the 10k bucket cap the flattened array was
    // ~50M structs in a single row, an executor-OOM cliff
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for (df <- Seq(Dedup.minhashBands(doc), Dedup.windowDupPairs(doc),
        Dedup.embeddingNearDup(emb), Dedup.semanticDedup(emb), Dedup.containmentPairs(doc))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("flatten("), s"flattened pair array in plan:\n$plan")
    }
    // composed verify run: the native shingles3 kernel evaluates in exactly
    // ONE pass — the materialized (doc_id, grams) checkpoint feeds banding
    // AND both verify joins, so the final plan has ZERO shingles3 calls
    val verify = Dedup.minhashJaccard(doc)
    val vplan = verify.queryExecution.optimizedPlan.toString
    assert(!vplan.contains("shingles3"), s"shingles recomputed per stage:\n$vplan")
    // and semantics are unchanged: the injected dup pairs still verify
    assert(verify.filter(col("b_id") === col("a_id") + 1000000L).count() > 0)
  }

  test("dedup: cluster propagation runs ONE action per round (no count round-trips)") {
    import spark.implicits._
    val funcs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = funcs.add(f)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Thread.sleep(300) // let stragglers from earlier tests drain
      funcs.clear()
      // diameter-4 chain: multiple propagation rounds, each ONE eager
      // checkpoint action whose job also carries the changed-count metric
      val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("a_id", "b_id")
      val got = Dedup.clustersFromPairs(pairs)
      got.collect()
      // listener delivery is async — wait for the final collect to land
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!funcs.contains("collect") && System.nanoTime() < deadline) Thread.sleep(50)
      assert(funcs.contains("collect"), s"actions seen: $funcs")
      assert(!funcs.contains("count"),
        s"separate per-round count() action detected: $funcs")
    } finally spark.listenerManager.unregister(l)
  }

  test("sampling: fractional upweighting replicates floor(w)/ceil(w) deterministically") {
    import graft.operators.{Sampling, TextAnalysis}
    val doc = Transcripts.documents(spark, sfDir)
    val up = Sampling.upweight(doc).cache()
    // every document appears exactly floor(w) or ceil(w) times
    val perDoc = up.groupBy("doc_id", "predicted").count()
    val bad = perDoc.filter(!(
      (col("predicted") === "en" && col("count") === 1) ||
      (col("predicted") === "de" && col("count").isin(2, 3)) ||
      (col("predicted") === "es" && col("count").isin(1, 2)) ||
      (col("predicted") === "fr" && col("count") === 3) ||
      (col("predicted") === "und" && col("count") === 1))).count()
    assert(bad == 0, "a document's replication count is outside {floor(w), ceil(w)}")
    // expected replication ~ w per stratum: the de stratum averages ~2.5
    val deDocs = TextAnalysis.langId(doc).filter(col("predicted") === "de").count()
    if (deDocs >= 20) {
      val deRows = up.filter(col("predicted") === "de").count()
      val avg = deRows.toDouble / deDocs
      assert(avg > 2.2 && avg < 2.8, s"de replication averaged $avg, expected ~2.5")
    }
    // deterministic across runs
    val again = Sampling.upweight(doc)
    assert(up.exceptAll(again).count() == 0 && again.exceptAll(up).count() == 0)
    up.unpersist()
    // pure narrow stage: no Exchange
    val plan = Sampling.upweight(doc).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("conv_filter: drops solo convs and tool loops, stratifies survivors by tool share") {
    import spark.implicits._
    val t = Seq(
      ("dialog", 0, "user"), ("dialog", 1, "assistant"), ("dialog", 2, "user"),
      ("dialog", 3, "assistant"),                              // share 0.0 -> low
      ("mixed", 0, "user"), ("mixed", 1, "tool"), ("mixed", 2, "assistant"),
      ("mixed", 3, "tool"), ("mixed", 4, "user"), ("mixed", 5, "tool"),  // 0.5 -> high
      ("agent", 0, "user"), ("agent", 1, "tool"), ("agent", 2, "assistant"), // 1/3 -> mid
      ("solo", 0, "user"),                                     // single turn -> dropped
      ("loop", 0, "tool"), ("loop", 1, "tool"), ("loop", 2, "tool") // share 1.0 -> dropped
    ).toDF("conv_id", "turn_idx", "role")
    val out = graft.spark.Transcripts.convFilter(t)
      .select("conv_id", "stratum").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(out == Map("dialog" -> "low", "agent" -> "mid", "mixed" -> "high"))
    // every surviving turn is retained, none invented
    assert(graft.spark.Transcripts.convFilter(t).count() == 4 + 6 + 3)
    // the anomaly injector really builds the pathologies the rules target
    val injected = graft.spark.Transcripts.withInjectedConvAnomalies(
      t.withColumn("turn_idx", col("turn_idx").cast("int")))
    val solo = injected.filter(col("conv_id").startsWith("solo-"))
    assert(solo.groupBy("conv_id").count().filter(col("count") > 1).count() == 0)
    val loops = injected.filter(col("conv_id").startsWith("loop-"))
    assert(loops.filter(col("role") =!= "tool").count() == 0)
  }

  test("conv_prep_e2e: report conserves curated turns; capped loops land in 'high'") {
    val t = graft.spark.Transcripts.withInjectedConvAnomalies(
      Transcripts.fromDocuments(spark, sfDir))
    val kept = graft.spark.Transcripts.convFilter(
      graft.spark.Transcripts.convCap(t).select("conv_id", "turn_idx", "role"),
      maxToolShare = 1.0)
    val rep = SparkEntry.queries("conv_prep_e2e")(spark, sfDir).collect()
    // turn conservation: the report's turn totals are exactly the curated set
    assert(rep.map(_.getLong(2)).sum == kept.count())
    // runaway loops survive capping, stratify as pure-tool ('high'), and
    // carry at most convCapTurns turns each
    val loops = kept.filter(col("conv_id").startsWith("loop-"))
    assert(loops.count() > 0)
    assert(loops.select("stratum").distinct().collect()
      .map(_.getString(0)).toSet == Set("high"))
    assert(loops.groupBy("conv_id").count()
      .filter(col("count") > graft.spark.Transcripts.convCapTurns).count() == 0)
  }

  test("dedup: clusterKeep preference-TABLE variant broadcast-joins, matches the expression form") {
    import graft.operators.Dedup
    val doc = Transcripts.documents(spark, sfDir)
    // the equivalent preference table: one row per source, the expression's
    // rank — swapping representation must not change a single verdict
    val pref = doc.select(col("source")).distinct()
      .withColumn("priority", Dedup.sourcePriority.cast("int"))
    val a = Dedup.clusterKeep(doc).orderBy("doc_id").collect().toSeq
    val b = Dedup.clusterKeepWith(doc, pref).orderBy("doc_id").collect().toSeq
    assert(a == b)
    val plan = Dedup.clusterKeepWith(doc, pref).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast priority join in:\n$plan")
    // a source MISSING from the table must not delete its docs from the
    // retention output — they stay at priority -1 (below every listed one)
    val srcOfClustered = Dedup.clusterKeep(doc).select("doc_id")
      .join(doc.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select("source").head().getString(0)
    val kept = Dedup.clusterKeepWith(doc, pref.filter(col("source") =!= srcOfClustered))
      .collect()
    assert(kept.length == a.size, "unlisted source silently deleted rows")
    assert(kept.exists(_.getInt(2) == -1), "excluded source got no -1 fallback")
  }

  test("dedup: incremental ingest drops exact and band-matching incoming docs") {
    import graft.operators.Dedup
    import spark.implicits._
    val longA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val longB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val existing = Seq((1L, longA), (2L, "tiny doc")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, longA),        // verbatim copy of existing 1 -> exact + near
      (11L, "tiny doc"),   // copy of a too-short-to-shingle doc -> exact hash only
      (12L, longB)         // genuinely new -> survives
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(existing, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L), s"kept $kept")
    // incremental dedup never touches the existing corpus, only filters
    // incoming; and it is idempotent: re-ingesting the survivors against
    // existing+survivors drops them all
    val survivors = Dedup.incrementalDedup(existing, incoming)
    val reIngest = Dedup.incrementalDedup(existing.unionAll(survivors), survivors)
    assert(reIngest.count() == 0)
    // no cartesian-class join in the plan
    val plan = Dedup.incrementalDedup(existing, incoming)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"plan:\n$plan")
  }

  test("dedup: incremental ingest scans the EXISTING corpus once (shared artifacts)") {
    import graft.operators.Dedup
    import spark.implicits._
    val longA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val existing = Seq((1L, longA), (2L, "tiny doc")).toDF("doc_id", "text")
    val incoming = Seq((10L, longA), (11L, "tiny doc"), (12L, "fresh new doc content here okay"))
      .toDF("doc_id", "text")
    // corpusArtifacts is an eager localCheckpoint: the operator's returned
    // plan reads the existing side as an in-memory LogicalRDD, so the
    // expensive signature (minhash16) never re-evaluates downstream — the
    // only minhash16 in the composed plan is the INCOMING side's
    // (parquet-backed inputs here: literal Seqs constant-fold into
    // LocalTableScan and would hide the kernel from the plan string)
    val doc = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val plan = Dedup.incrementalDedup(
        doc.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        doc.filter(pmod(col("doc_id"), lit(3)) === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), s"no checkpointed artifact scan in:\n$plan")
    // the signature node is minhash_bands (minhash16 fused inside) since
    // the banding kernel landed; the invariant is unchanged — exactly one
    // signature evaluation, on the incoming side
    val n = "minhashbandskernel\\.bands\\(".r.findAllIn(plan.toLowerCase).length
    assert(n == 1, s"expected exactly 1 minhash-band eval (incoming side), got $n:\n$plan")
    // artifacts carry GUARDED bands: a too-short-to-shingle doc has NULL
    // band keys, never the md5('') constant concat_ws alone would produce
    val art = Dedup.corpusArtifacts(existing)
    val shortRow = art.filter(col("doc_id") === 2L).collect()(0)
    (0 until Dedup.minhashBandCount).foreach { b =>
      assert(shortRow.isNullAt(shortRow.fieldIndex(s"band$b")), s"band$b not null for short doc")
    }
    // prebuilt artifacts (the 100 TB catalog-table path) give identical results
    val viaArt = Dedup.incrementalDedupWith(art, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaArt == Set(12L), s"kept $viaArt")
  }

  test("dedup: bloom pre-filter is result-invisible and screens with ONE inlined filter") {
    import graft.operators.Dedup
    import spark.implicits._
    val doc = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val existing = doc.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val incoming = doc.filter(pmod(col("doc_id"), lit(3)) === 0)
      .unionAll(existing.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val art = Dedup.corpusArtifacts(existing)
    val plain = Dedup.incrementalDedupWith(art, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloomed = Dedup.incrementalDedupBloom(art, incoming)
    val viaBloom = bloomed.select("doc_id").collect().map(_.getLong(0)).toSet
    // no false negatives + exact confirmation of positives => identical sets
    assert(viaBloom == plain)
    // the screen (evaluated inside the operator's eager checkpoint, so
    // the composed plan reads it as ExistingRDD) carries exactly ONE
    // might_contain — a copy per probe column would ship (1+bands)x the
    // filter bytes in every task binary. Pinned over a non-union input
    // (PushProjectionThroughUnion legitimately clones the projection per
    // branch) with a small test filter so the plan string stays readable.
    val screen = Dedup.hashAndBands(doc, Seq(col("doc_id")))
      .withColumn("cand",
        Dedup.bloomCandidate(Dedup.corpusBloom(art, expectedItems = 1024)))
      .queryExecution.executedPlan.toString
    assert("might_contain".r.findAllIn(screen).length == 1,
      s"expected exactly 1 might_contain (single shared literal):\n$screen")
    // a short unshingleable incoming doc with fresh content passes the
    // screen as clean (guarded probes: null bands probe nothing)
    val tiny = Seq((99L, "zz")).toDF("doc_id", "text")
    assert(Dedup.incrementalDedupBloom(art, tiny).count() == 1)
  }

  test("text: trained classifier weights mirror the count cross-difference and score additively") {
    import graft.operators.TextAnalysis
    val doc = Transcripts.documents(spark, sfDir)
    val w = TextAnalysis.trainClassifier(doc)
    // mirror the training on the driver from raw rows
    val rows = doc.select(col("source"), col("text")).collect()
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      val hex = md.take(2).map(b => f"$b%02x").mkString
      Integer.parseInt(hex, 16) % TextAnalysis.classifierBuckets
    }
    val blocked = TextAnalysis.blockedTerms.toSet
    val blockedSrc = TextAnalysis.blockedSources.toSet
    val counts = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    rows.foreach { r =>
      val toks = r.getString(1).split(" ")
      val pos = !blockedSrc(r.getString(0)) && !toks.exists(blocked)
      toks.foreach { t =>
        val b = bucket(t)
        val (p, n) = counts.getOrElse(b, (0L, 0L))
        counts(b) = if (pos) (p + 1, n) else (p, n + 1)
      }
    }
    val tPos = counts.values.map(_._1).sum
    val tNeg = counts.values.map(_._2).sum
    val expected = counts.toSeq.sortBy(_._1).map { case (b, (p, n)) =>
      (b, p, n, p * tNeg - n * tPos)
    }
    assert(w.toSeq == expected)
    // trained scoring: per-doc score is the sum of its tokens' weights
    val byB = w.map(t => t._1 -> t._4).toMap
    val scored = TextAnalysis.classifierScoreTrained(doc, w)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docTok = doc.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    docTok.take(50).foreach { case (id, toks) =>
      val exp = toks.map(t => byB.getOrElse(bucket(t), 0L)).sum
      assert(scored(id) == exp, s"doc $id")
    }
    // the trained map stays zero-Exchange (plan-literal weights)
    val plan = TextAnalysis.classifierScoreTrained(doc, w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("text: bpe training merges the top pair and later rounds see merged symbols") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // 'ab' dominates round 1; after ab -> , the pair ( c)
    // dominates round 2 — the merged symbol must feed later rounds
    val doc = Seq(
      (1L, "abc abc abc abc"),
      (2L, "abd abd abd"),
      (3L, "xy xy")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrain(doc, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(m(0) == ((1, "ab", 7)), s"round 1 was ${m(0)}")
    assert(m(1) == ((2, "c", 4)), s"round 2 was ${m(1)}")
  }

  test("conv_cap: runaway conversations keep their first K turns, healthy pass untouched") {
    import spark.implicits._
    val t = Seq(
      ("dialog", 0, "user"), ("dialog", 1, "assistant"), ("dialog", 2, "user"),
      ("dialog", 3, "assistant"), ("dialog", 4, "user"), ("dialog", 5, "assistant"),
      ("loop", 0, "tool"), ("loop", 1, "tool"), ("loop", 2, "tool"),
      ("loop", 3, "tool"), ("loop", 4, "tool"), ("loop", 5, "tool")
    ).toDF("conv_id", "turn_idx", "role")
    val out = graft.spark.Transcripts.convCap(t)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(3)))
    // healthy: all 6 turns survive, unmarked
    assert(out.count(_._1 == "dialog") == 6)
    assert(out.filter(_._1 == "dialog").forall(!_._3))
    // runaway: exactly the first convCapTurns turns survive, marked
    val loop = out.filter(_._1 == "loop")
    assert(loop.map(_._2).sorted.toSeq ==
      (0 until graft.spark.Transcripts.convCapTurns).toSeq)
    assert(loop.forall(_._3))
  }

  test("sampling: temperature weights flatten the head and replicate floor/ceil per doc") {
    import graft.operators.Sampling
    val doc = Transcripts.documents(spark, sfDir)
    val w = Sampling.temperatureWeights(doc)
    val nMax = w.map(_._2).max
    // the largest language keeps weight exactly 1.0; every weight is the
    // correctly-rounded sqrt of the count ratio and weakly monotone in
    // 1/n (tail languages replicate more)
    w.foreach { case (_, n, wt) =>
      assert(wt == math.sqrt(nMax.toDouble / n.toDouble))
      assert(wt >= 1.0)
    }
    assert(w.filter(_._2 == nMax).forall(_._3 == 1.0))
    // applied: every doc appears floor(w) or ceil(w) times for ITS language
    val byLang = w.map(t => t._1 -> t._3).toMap
    val reps = Sampling.temperatureUpweight(doc)
      .groupBy("doc_id", "predicted").count().collect()
    assert(reps.nonEmpty)
    reps.foreach { r =>
      val wt = byLang(r.getString(1))
      val k = r.getLong(2)
      assert(k == math.floor(wt).toLong || k == math.ceil(wt).toLong,
        s"doc ${r.getLong(0)} lang ${r.getString(1)}: $k reps for weight $wt")
    }
  }

  test("multimodal: exact media dedup collapses identical bytes, distinguishes kinds") {
    import graft.operators.Multimodal
    import spark.implicits._
    val docs = Seq(
      (0L, "same payload"), (3L, "same payload"),   // both % 3 == 0 -> image, same bytes
      (1L, "same payload"),                         // audio magic -> different bytes
      (6L, "unique content")
    ).toDF("doc_id", "text")
    val out = Multimodal.mediaDedup(Multimodal.mediaTable(spark, docs))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    // the two image copies collapse to keeper 0; the audio copy of the
    // same text stays its own group (magic differs -> bytes differ)
    assert(out.toSet == Set(("image", 2L, 0L), ("audio", 1L, 1L), ("image", 1L, 6L)))
  }

  test("dedup: semantic ingest drops against the existing cell artifact, covers every incoming vec") {
    import graft.operators.Dedup
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val existing = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    // re-ingesting the corpus itself is the bulletproof case: every vector
    // lands in its own cell (identical assignment) at cos 1.0 -> all drop
    val reingest = Dedup.semanticDedupIncremental(existing, existing)
    assert(reingest.filter(!col("dropped")).count() == 0)
    assert(reingest.count() == existing.count())
    // perturbed copies: one report row per incoming vec, some drops, and
    // the existing side reads from the checkpointed artifact (ExistingRDD)
    val nearDup = existing.select((col("vec_id") + 10000L).as("vec_id"),
      expr("""transform(sequence(1, 64),
              |  i -> IF(i = 1, element_at(embedding, i) + 0.5D,
              |          element_at(embedding, i)))""".stripMargin).as("embedding"))
    val out = Dedup.semanticDedupIncremental(existing, nearDup)
    assert(out.count() == nearDup.count())
    assert(out.filter(col("dropped")).count() > 0)
    assert(out.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("ann: PQ encoding is a zero-Exchange narrow map; ADC top-k tracks exact L2") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val enc = Similarity.pqEncode(emb)
    assert(enc.count() == emb.count())
    // codebook vector 0 is its own nearest sub-centroid in every subspace
    assert(enc.filter(col("vec_id") === 0)
      .select("code64").head.getLong(0) == 0L)
    // code string and packed nibbles agree
    assert(enc.filter(col("vec_id") === 0)
      .select("code").head.getString(0) == "0-0-0-0-0-0-0-0")
    // encoding happens at scan speed: zero Exchange
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
    // ADC overlaps the exact-L2 top-5 (untrained codebook on synthetic
    // vectors distorts heavily; bit-exactness is the oracle's job, this
    // pins "approximates the right metric, deterministically")
    val pq = Similarity.pqTopK(emb)
    assert(pq.count() == 50)
    val exact = Similarity.exactL2TopK(emb)
    val hits = pq.join(exact.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id")).count()
    assert(hits > 0, s"ADC found none of the exact-L2 top-5: $hits/50")
    // and the recall harness agrees with the raw overlap count
    val rec = Similarity.pqRecall(emb)
    assert(rec.agg(sum("n_hit")).head.getLong(0) == hits)
    assert(rec.count() == 10 && rec.filter(col("n_true") =!= 5L).count() == 0)
  }

  test("sample: contamination score grades eval members 1.0 and agrees with the binary drop") {
    import graft.operators.Sampling
    val doc = Transcripts.documents(spark, sfDir)
    val ev = Sampling.evalHoldout(doc)
    val out = Sampling.contaminationScore(doc, ev)
    assert(out.count() == doc.count())
    // eval members are verbatim in the eval set -> contamination 1.0
    assert(out.join(ev.select("doc_id"), Seq("doc_id"))
      .filter(col("contamination") =!= 1.0 || !col("flagged")).count() == 0)
    // agreement law: decontaminate keeps exactly the n_hits == 0 docs
    val keptBinary = Sampling.decontaminate(doc, ev).select("doc_id")
    val keptScore = out.filter(col("n_hits") === 0).select("doc_id")
    assert(keptBinary.exceptAll(keptScore).count() == 0
      && keptScore.exceptAll(keptBinary).count() == 0)
    // plan: eval set broadcasts (map-side hit join); the only corpus-side
    // hash shuffle is the doc_id agg (the other is the tiny eval distinct)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length == 2,
      s"plan:\n$plan")
  }

  test("conv: pooled embeddings are bit-reproducible under repartitioning; SemDeDup composes") {
    import graft.operators.{Dedup, Similarity}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def key = pmod(col("vec_id"), lit(Transcripts.Conversations.toLong))
    val a = Similarity.pooledEmbeddings(emb, key)
    val b = Similarity.pooledEmbeddings(emb.repartition(13), key)
    assert(a.count() == Transcripts.Conversations)
    // integer accumulation -> identical doubles under any partitioning
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // membership conservation
    assert(a.agg(sum("n_vecs")).head.getLong(0) == emb.count())
    // composition: one verdict row per conversation
    val sem = Dedup.semanticDedupOn(a.select(col("vec_id"), col("embedding")))
    assert(sem.count() == Transcripts.Conversations)
    // pooling is ONE partial-agg shuffle of BIGINT sums
    val plan = a.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length == 1,
      s"plan:\n$plan")
  }

  test("conv: protocol validation flags doubled user turns but allows tool chains") {
    import spark.implicits._
    val t = Seq(
      ("good", 0, "user"), ("good", 1, "assistant"), ("good", 2, "tool"),
      ("good", 3, "tool"), ("good", 4, "assistant"),
      ("doubled", 0, "user"), ("doubled", 1, "user"), ("doubled", 2, "assistant"),
      ("headless", 0, "assistant"), ("headless", 1, "user"), ("headless", 2, "assistant"),
      ("tailless", 0, "user"), ("tailless", 1, "tool")
    ).toDF("conv_id", "turn_idx", "role")
    val v = Transcripts.convProtocol(t).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(v("good").getAs[Boolean]("valid"))
    assert(v("good").getAs[Long]("n_role_repeats") == 0L)
    assert(!v("doubled").getAs[Boolean]("valid")
      && v("doubled").getAs[Long]("n_role_repeats") == 1L)
    assert(!v("headless").getAs[Boolean]("valid")
      && !v("headless").getAs[Boolean]("starts_user"))
    assert(!v("tailless").getAs[Boolean]("valid")
      && !v("tailless").getAs[Boolean]("ends_assistant"))
    // the lag window and the groupBy share ONE conv_id Exchange
    val plan = Transcripts.convProtocol(Transcripts.rawTurns(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length == 1,
      s"plan:\n$plan")
  }

  test("conv: streaming stateful render carries conversation state across micro-batches") {
    val t = Transcripts.rawTurns(spark, sfDir)
    // two files split BY TURN RANGE, so every conversation straddles the
    // batch boundary; maxFilesPerTrigger=1 forces one file per batch
    val base = tmpDir("graft_srender2_")
    t.repartitionByRange(2, col("turn_idx")).write.parquet(s"$base/in")
    val streamed = graft.streaming.StreamPipeline
      .runStreamingRender(spark, sfDir, maxFilesPerTrigger = Some(1),
        stagedIn = Some(s"$base/in"))
      .select("conv_id", "n_turns", "sample", "trainable_chars", "total_chars")
    val batch = Transcripts.convRender(t)
      .select("conv_id", "n_turns", "sample", "trainable_chars", "total_chars")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0
      && batch.exceptAll(streamed).count() == 0)
  }

  test("conv: SFT pack keeps shard-local prefix sums coherent, offsets within budget") {
    val t = Transcripts.rawTurns(spark, sfDir)
    val out = Transcripts.convSftPack(t)
    assert(out.count() == Transcripts.convRender(t).count())
    assert(out.filter(col("pack_offset") < 0
      || col("pack_offset") >= Transcripts.sftCharBudget).count() == 0)
    assert(out.filter(col("trainable_chars") > col("total_chars")).count() == 0)
    // prefix-sum coherence: pack_id * budget + offset reconstructs the
    // running sum of all earlier convs in the shard
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("conv_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val chk = out.withColumn("expect", coalesce(sum(col("total_chars")).over(w), lit(0L)))
    assert(chk.filter(col("pack_id") * Transcripts.sftCharBudget
      + col("pack_offset") =!= col("expect")).count() == 0)
    // two Exchanges total: the render's conv_id groupBy + the shard window
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length == 2,
      s"plan:\n$plan")
  }

  test("text: source quantiles are ordered and the median hand-checks") {
    import graft.operators.TextAnalysis
    val doc = Transcripts.documents(spark, sfDir)
    val out = TextAnalysis.sourceQuantiles(doc)
    assert(out.filter(col("p25_tokens") > col("p50_tokens")
      || col("p50_tokens") > col("p75_tokens")).count() == 0)
    val src = doc.select(col("source")).head.getString(0)
    val xs = doc.filter(col("source") === src)
      .select(size(split(col("text"), " ")).cast("double"))
      .collect().map(_.getDouble(0)).sorted
    val n = xs.length
    val expected = if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
    val got = out.filter(col("source") === src).select("p50_tokens").head.getDouble(0)
    assert(got == expected, s"median of $src: got $got, expected $expected")
  }

  test("text: BPE encoding is a zero-Exchange narrow map and round-trips losslessly") {
    import graft.operators.TextAnalysis
    val doc = Transcripts.documents(spark, sfDir)
    val out = TextAnalysis.bpeApply(doc)
    assert(out.count() == doc.count())
    assert(out.agg(sum("n_merged")).head.getLong(0) > 0)
    // encoding itself adds no shuffle (training's tiny-key rounds aside)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
    // lossless: reverse replaces in reverse round order restore the text
    // (merge symbols are private-use chars absent from the corpus)
    val merges = TextAnalysis.trainBpeMerges(doc)
    val enc = merges.foldLeft(col("text")) {
      case (t, (r, p, _)) => replace(t, lit(p), lit(TextAnalysis.bpeSymbol(r)))
    }
    val dec = merges.reverse.foldLeft(enc) {
      case (t, (r, p, _)) => replace(t, lit(TextAnalysis.bpeSymbol(r)), lit(p))
    }
    assert(doc.select(col("text"), dec.as("rt"))
      .filter(col("text") =!= col("rt")).count() == 0)
  }

  test("dedup: containment catches doc-inside-doc pairs Jaccard is blind to") {
    import graft.operators.Dedup
    val d = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val supers = d.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"),
          lit(" plus wrapper commentary around the quoted source "),
          (col("doc_id") + 3000000L).cast("string")).as("text"))
    val out = Dedup.containmentPairs(d.unionAll(supers))
    // every injected (original, superset) pair is caught at FULL
    // containment of the original — the direction Jaccard cannot see
    val caught = out.filter(col("b_id") >= 3000000L
      && col("a_id") === col("b_id") - 3000000L)
    assert(caught.count() == supers.count())
    assert(caught.filter(col("c_a_in_b") =!= 1.0).count() == 0)
    // asymmetry is real: the superset is NOT contained in the original
    assert(caught.filter(col("c_b_in_a") >= 1.0).count() == 0)
    // one shingle pass (checkpoint feeds postings AND sizes); streamed
    // pairs (no flatten); no cartesian
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("shingles3"), s"shingles recomputed per stage:\n$plan")
    assert(!plan.contains("flatten("), s"plan:\n$plan")
    val pplan = out.queryExecution.executedPlan.toString
    assert(!pplan.contains("BroadcastNestedLoopJoin")
      && !pplan.contains("CartesianProduct"), s"plan:\n$pplan")
  }

  test("frontier: re-crawl variants collapse onto crawled keys; new urls are host-capped") {
    val out = SparkEntry.queries("url_frontier_e2e")(spark, sfDir)
    // every re-crawl (url_id >= 5000000) is a dup and never kept
    assert(out.filter(col("url_id") >= 5000000L).count() > 0)
    assert(out.filter(col("url_id") >= 5000000L
      && (!col("dup") || col("kept"))).count() == 0)
    // fresh urls are never dups; kept implies new
    assert(out.filter(col("url_id") < 5000000L && col("dup")).count() == 0)
    assert(out.filter(col("dup") && col("kept")).count() == 0)
    // the hub host exceeds the cap and is genuinely thinned
    val hub = out.filter(col("host") === "hub.example.com")
    assert(hub.count() > graft.operators.Sampling.domainCapDocs)
    assert(hub.filter(col("kept")).count() < hub.count())
  }

  test("registry: every query has an oracle twin and no oracle is orphaned") {
    // an orphan oracle means a typo'd key (silent rows-only downgrade in
    // the driver's gate); a query without a twin weakens its check
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"orphan oracles: ${(o -- q).mkString(", ")}")
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).mkString(", ")}")
    // a Map keeps the last of two equal keys silently: the declared list
    // itself must name each query once, and the projection keeps them all
    val names = SparkEntry.registry.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(names.size == q.size, s"${names.size} declared, ${q.size} in SparkEntry.queries")
  }

  test("web_prep_e2e: per-host funnel is monotone and conserves the corpus") {
    val out = SparkEntry.queries("web_prep_e2e")(spark, sfDir)
    assert(out.count() > 0)
    assert(out.filter(col("n_capped") > col("n_docs")
      || col("n_final") > col("n_capped")).count() == 0)
    assert(out.agg(sum("n_docs")).head.getLong(0)
      == Transcripts.documents(spark, sfDir).count())
    // the mega-domain is genuinely capped
    assert(out.filter(col("host") === "hub.example.com"
      && col("n_capped") >= col("n_docs")).count() == 0)
  }

  test("dedup: span ingest strips corpus-held blocks, keeps novel prose; artifact is checkpointed") {
    import graft.operators.Dedup
    val base = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val existing = base.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val art = Dedup.spanArtifacts(existing)
    // re-ingesting the existing corpus is the bulletproof case: every
    // block is held -> everything drops, reassembly is empty
    val reingest = Dedup.spanDedupIncremental(art, existing)
    assert(reingest.filter(col("n_kept") =!= 0L || col("text_dedup") =!= "").count() == 0)
    assert(reingest.count() == existing.count())
    // borrowers quoting an existing lede keep exactly the novel tail
    val borrow = existing.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(
          array_join(slice(split(col("text"), " "), 1, Dedup.spanTokens), " "),
          lit(" novel reporting beyond the syndicated lede "),
          (col("doc_id") + 4000000L).cast("string")).as("text"))
    val out = Dedup.spanDedupIncremental(art, borrow)
    assert(out.count() == borrow.count() && out.count() > 0)
    assert(out.filter(col("n_kept") =!= col("n_blocks") - 1).count() == 0)
    assert(out.filter(!col("text_dedup")
      .startsWith("novel reporting beyond the syndicated lede")).count() == 0)
    // the artifact reads from its checkpoint (no re-scan of existing text)
    assert(out.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("dedup: winnowed ingest catches mid-text verbatim runs regardless of alignment") {
    import graft.operators.Dedup
    val base = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val existing = base.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val art = Dedup.windowArtifacts(existing)
    // re-ingesting the corpus drops everything
    assert(Dedup.windowDedupIncremental(art, existing).count() == 0)
    // MISALIGNED borrowers: lead-in words, then an 11-token run quoted
    // from position 5 of an existing doc — no fixed-block alignment
    // holds, the winnowing guarantee still catches every one
    val run = Dedup.windowTokens + Dedup.windowStride - 1
    val borrow = existing
      .filter(pmod(col("doc_id"), lit(5)) === 0
        && size(split(col("text"), " ")) >= run + 5)
      .select((col("doc_id") + 7000000L).as("doc_id"),
        concat(lit("fresh lead in "),
          array_join(slice(split(col("text"), " "), 5, run), " "),
          lit(" and a tail "),
          (col("doc_id") + 7000000L).cast("string")).as("text"))
    assert(borrow.count() > 0)
    assert(Dedup.windowDedupIncremental(art, borrow).count() == 0)
    // genuinely novel docs survive untouched
    val novel = existing.limit(5)
      .select((col("doc_id") + 8000000L).as("doc_id"),
        expr("array_join(transform(sequence(1, 20), i -> concat('nvl', i, 'x', doc_id)), ' ')")
          .as("text"))
    assert(Dedup.windowDedupIncremental(art, novel).count() == 5)
  }

  test("dedup: epoch artifact update absorbs survivors and equals a from-scratch rebuild") {
    import graft.operators.Dedup
    val base = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val existing = base.filter(pmod(col("doc_id"), lit(3)) === 1)
    val epoch1 = base.filter(pmod(col("doc_id"), lit(3)) === 2)
    val art0 = Dedup.corpusArtifacts(existing)
    val kept1 = Dedup.incrementalDedupWith(art0, epoch1)
    val updated = Dedup.updateArtifacts(art0, kept1)
    // append == rebuild, as sets
    val rebuilt = Dedup.corpusArtifacts(
      existing.unionAll(kept1.select("doc_id", "text")))
    assert(updated.exceptAll(rebuilt).count() == 0
      && rebuilt.exceptAll(updated).count() == 0)
    // the cross-epoch catch: copies of epoch-1 survivors drop against the
    // UPDATED artifacts but sail through the stale ones
    val copies = kept1.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 6000000L).as("doc_id"), col("text"))
    assert(copies.count() > 0)
    assert(Dedup.incrementalDedupWith(updated, copies).count() == 0)
    assert(Dedup.incrementalDedupWith(art0, copies).count() == copies.count())
  }

  test("dedup: streaming span ingest equals the batch operator") {
    import graft.operators.Dedup
    val streamed = Dedup.runStreamingSpanIncremental(spark, sfDir)
    val base = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val existing = base.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val incoming = base.filter(pmod(col("doc_id"), lit(3)) === 0)
      .unionAll(existing.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val batch = Dedup.spanDedupIncremental(Dedup.spanArtifacts(existing), incoming)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0
      && batch.exceptAll(streamed).count() == 0)
    // the re-ingested full copies lose every block
    assert(streamed.filter(col("doc_id") >= 2000000L
      && (col("n_kept") =!= 0L || col("text_dedup") =!= "")).count() == 0)
    // force TWO micro-batches (2 files, maxFilesPerTrigger=1): per-batch
    // independence means the split changes nothing
    val base2 = tmpDir("graft_sspan2_")
    incoming.repartition(2).write.mode("overwrite").parquet(s"$base2/in")
    val q = graft.operators.Dedup.spanStreamQuery(spark,
      Dedup.spanArtifacts(existing), s"$base2/in", s"$base2/out", s"$base2/cp",
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val multi = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base2/out")
    assert(new java.io.File(s"$base2/out").listFiles()
      .count(_.getName.startsWith("b")) >= 2)
    assert(multi.count() == batch.count()
      && multi.exceptAll(batch).count() == 0
      && batch.exceptAll(multi).count() == 0)
  }

  test("span_blocks: native blocking is identical to the HOF slice form") {
    val hof = expr(
      s"""transform(sequence(0, CAST((size(split(text, ' ')) - 1) DIV 10 AS INT)),
         |  i -> array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '))""".stripMargin)
    val diff = Transcripts.documents(spark, sfDir)
      .select(graft.spark.HashFunctions.spanBlocks(col("text"), 10).as("native"),
        hof.as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
    // partial last block + single-token text via the SQL surface
    graft.spark.GraftExtensions.register(spark)
    assert(spark.sql("SELECT span_blocks('a b c', 2) AS b")
      .head.getSeq[String](0) == Seq("a b", "c"))
    assert(spark.sql("SELECT span_blocks('a', 2) AS b")
      .head.getSeq[String](0) == Seq("a"))
  }

  test("lang kernels: native scores/prediction identical to the HOF forms") {
    import graft.operators.TextAnalysis
    val scoreCols = TextAnalysis.langScores.map { case (l, c) => c.as(s"hof_$l") }
    val d = Transcripts.documents(spark, sfDir)
      .select((Seq(
        graft.spark.HashFunctions.langScores4(col("text")).as("sc"),
        TextAnalysis.langPredicted.as("native_pred"),
        HofRefs.langPredictedHof.as("hof_pred")) ++ scoreCols): _*)
    val diff = d.filter(
      element_at(col("sc"), 1) =!= col("hof_en")
        || element_at(col("sc"), 2) =!= col("hof_de")
        || element_at(col("sc"), 3) =!= col("hof_es")
        || element_at(col("sc"), 4) =!= col("hof_fr")
        || col("native_pred") =!= col("hof_pred"))
    assert(diff.count() == 0)
    // degenerate inputs: empty text (one empty token), stopword-only text
    import spark.implicits._
    val edge = Seq("", "the", "der und ist", "le les y es the").toDF("text")
      .select(TextAnalysis.langPredicted.as("p")).collect().map(_.getString(0))
    assert(edge.toSeq == Seq("und", "en", "de", "es"))
    // NULL text: the native kernel gives NULL (scores and prediction);
    // the HOF when-chain falls through to "fr" — a known difference the
    // oracle cannot see (the corpus has no NULL text)
    val nul = Seq(Option.empty[String]).toDF("text")
      .select(TextAnalysis.langPredicted.as("p"),
        graft.spark.HashFunctions.langScores4(col("text")).as("sc"),
        HofRefs.langPredictedHof.as("hof"))
      .head
    assert(nul.isNullAt(0) && nul.isNullAt(1))
    assert(nul.getString(2) == "fr")
  }

  test("winnow_fps: native winnowing identical to the HOF slice chain") {
    import graft.operators.Dedup
    val w = Dedup.windowTokens
    val s = Dedup.windowStride
    val both = Transcripts.documents(spark, sfDir)
      .select(col("text"), graft.spark.HashFunctions.winnowFps(col("text"), w, s).as("native"))
      .transform(HofRefs.withWinnowFpsHof)
    // element order matters (first-occurrence distinct) — compare arrays
    assert(both.filter(!(col("native") <=> col("wfps_hof"))).count() == 0)
    // short docs (< W tokens) yield an empty array; < W+S-1 tokens still
    // select exactly one (their minimum) fingerprint
    import spark.implicits._
    val short = Seq("a b c", ("a " * (w + 1)).trim).toDF("text")
      .select(size(graft.spark.HashFunctions.winnowFps(col("text"), w, s)).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(short == Seq(0, 1))
  }

  test("lang_predict / token_set_count / classifier_score: native == HOF forms on arbitrary text") {
    import graft.operators.TextAnalysis
    import org.scalacheck.Gen
    // a fixed-seed batch: NULL, empty, multi-byte, PUA and whitespace runs,
    // mixed with stopwords and blocked terms so every count and score moves
    val words = TextAnalysis.langStopwords.flatMap(_._2) ++ TextAnalysis.blockedTerms
    val piece = Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      4 -> Gen.oneOf(words),
      3 -> Gen.oneOf(" ", "  ", "   ", "\t", "\n", " \t ", "\u00a0", "\u3000"),
      2 -> Gen.oneOf("é", "ß", "中", "ñ", "\ud83d\ude00"),
      1 -> Gen.oneOf(TextAnalysis.bpeSymbol(1), "\ue000", "\uf8ff"))
    val textGen = Gen.frequency(1 -> Gen.const(null: String), 1 -> Gen.const(""),
      1 -> Gen.const("   "), 12 -> Gen.listOf(piece).map(_.mkString))
    val texts = Gen.listOfN(400, textGen)
      .pureApply(Gen.Parameters.default.withSize(40), org.scalacheck.rng.Seed(20261019L))
    import spark.implicits._
    val weights =
      (0 until TextAnalysis.classifierBuckets).map(TextAnalysis.classifierWeight(_).toLong)
    // one job for the whole batch
    val rows = texts.toDF("text").select(col("text"),
      TextAnalysis.langPredicted.as("lang"), HofRefs.langPredictedHof.as("lang_hof"),
      graft.spark.HashFunctions.tokenSetCount(col("text"), TextAnalysis.blockedTerms).as("tsc"),
      HofRefs.blockedTermCountHof.as("tsc_hof"),
      graft.spark.HashFunctions.classifierScore(col("text"), weights).cast("int").as("cs"),
      HofRefs.classifierScoreExprHof.cast("int").as("cs_hof"),
      graft.spark.HashFunctions.langScores4(col("text")).as("ls4"),
      HofRefs.langScores4Hof.as("ls4_hof"),
      graft.spark.HashFunctions.textCharPairs(col("text")).as("tcp"),
      HofRefs.textCharPairsHof.as("tcp_hof"),
      graft.spark.HashFunctions.winnowFps(col("text"), Dedup.windowTokens, Dedup.windowStride)
        .as("winnow"))
      .transform(HofRefs.withWinnowFpsHof).collect().toSeq
    assert(rows.count(_.isNullAt(0)) > 0 && rows.map(_.getString(1)).distinct.size > 2 &&
      rows.exists(r => !r.isNullAt(3) && r.getInt(3) > 0) &&
      rows.exists(r => !r.isNullAt(11) && r.getSeq[String](11).size > 1),
      "the batch covers NULL, languages, terms, several winnowed windows")
    for ((native, twin) <- Seq(1 -> 2, 3 -> 4, 5 -> 6, 7 -> 8, 9 -> 10, 11 -> 12)) {
      // NULL text: the lang twins' known difference (HofRefs), NULL == NULL otherwise
      val diff = rows.filter(r => !r.isNullAt(0) || !Set(1, 7)(native))
        .filter(r => r.get(native) != r.get(twin))
      assert(diff.isEmpty, s"${rows.head.schema(native).name}: ${diff.take(3)}")
    }
  }

  test("token_set_count / classifier_score / text_char_pairs: native == HOF forms") {
    import graft.operators.TextAnalysis
    val d = Transcripts.documents(spark, sfDir)
    // token_set_count vs filter-IN
    val tsc = d.select(
      graft.spark.HashFunctions.tokenSetCount(col("text"), TextAnalysis.blockedTerms)
        .as("native"),
      HofRefs.blockedTermCountHof.as("hof"))
    assert(tsc.filter(col("native") =!= col("hof")).count() == 0)
    // classifier_score (untrained weight table) vs the aggregate-HOF chain
    val cs = d.select(
      graft.spark.HashFunctions.classifierScore(col("text"),
        (0 until TextAnalysis.classifierBuckets).map(TextAnalysis.classifierWeight(_).toLong))
        .cast("int").as("native"),
      HofRefs.classifierScoreExprHof.cast("int").as("hof"))
    assert(cs.filter(col("native") =!= col("hof")).count() == 0)
    // text_char_pairs vs its HOF twin, pair order included
    val pairs = d.select(graft.spark.HashFunctions.textCharPairs(col("text")).as("native"),
      HofRefs.textCharPairsHof.as("hof"))
    assert(pairs.filter(!(col("native") <=> col("hof"))).count() == 0)
    // multi-code-point stepping: a PUA merge symbol pairs like any BMP char
    import spark.implicits._
    val pua = TextAnalysis.bpeSymbol(1)
    val got = Seq(s"ab${pua}cd x").toDF("text")
      .select(graft.spark.HashFunctions.textCharPairs(col("text")).as("p"))
      .head.getSeq[String](0)
    assert(got == Seq("ab", s"b$pua", s"${pua}c", "cd"))
  }

  test("pq_sub_dists: native distance table identical to the expression form") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = Similarity.collectCentroids(emb)
    // one subspace per query: all eight twins in one plan generate a
    // method too large for janino, and Spark falls back to interpreting it
    (0 until 8).foreach { j =>
      val d = emb.select(Similarity.pqDistArr(cents, j).as("n"),
        HofRefs.pqDistArrHof(cents, j).as("h"))
      assert(d.filter(col("n") =!= col("h")).count() == 0, s"subspace $j")
    }
  }

  test("minhash_bands / classifier_buckets: native == expression forms") {
    import graft.operators.{Dedup, TextAnalysis}
    val d = Transcripts.documents(spark, sfDir)
    // minhash_bands vs md5(concat_ws('_', mh rows)) over minhash16
    val hofBands = {
      val mh = graft.spark.HashFunctions.minHash16(
        graft.spark.HashFunctions.shingles3(col("text")))
      val withMh = d.filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), mh.as("mh"))
      val cols = (0 until Dedup.minhashBandCount).map { b =>
        val rows = (0 until Dedup.minhashRowsPerBand)
          .map(r => element_at(col("mh"), b * Dedup.minhashRowsPerBand + r + 1)
            .cast("string"))
        md5(concat_ws("_", rows: _*)).as(s"hb$b")
      }
      withMh.select((col("doc_id") +: cols): _*)
    }
    val natBands = d.select(col("doc_id"),
      graft.spark.HashFunctions.minHashBands(
        graft.spark.HashFunctions.shingles3(col("text")),
        Dedup.minhashBandCount, Dedup.minhashRowsPerBand).as("bands"))
    val joined = natBands.join(hofBands, Seq("doc_id"), "left")
    // shingleable docs: all four band values match; short docs: NULL bands
    val bandMismatch = (0 until Dedup.minhashBandCount)
      .map(b => element_at(col("bands"), b + 1) =!= col(s"hb$b")).reduce(_ || _)
    assert(joined.filter(col("hb0").isNotNull && bandMismatch).count() == 0)
    assert(joined.filter(col("hb0").isNull && col("bands").isNotNull).count() == 0)
    // classifier_buckets vs the md5/conv/pmod bucket expression per token
    val natB = d.select(explode(graft.spark.HashFunctions.classifierBuckets(
        col("text"), TextAnalysis.classifierBuckets)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_nat"))
    val hofB = d.select(explode(split(col("text"), " ")).as("t"))
      .select(TextAnalysis.classifierBucket(col("t")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_hof"))
    val cmp = natB.join(hofB, Seq("bucket"), "full_outer")
    assert(cmp.filter(col("n_nat").isNull || col("n_hof").isNull
      || col("n_nat") =!= col("n_hof")).count() == 0)
  }

  test("bloom sizing: artifact-derived filters stay unsaturated where a tiny fixed size floods") {
    import graft.operators.Dedup
    val base = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val existing = base.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val fresh = base.filter(pmod(col("doc_id"), lit(3)) === 0)
    val art = Dedup.corpusArtifacts(existing)
    val freshSig = Dedup.hashAndBands(fresh, Seq(col("doc_id")))
    def candidateFraction(expectedItems: Long): Double = {
      val bloom = Dedup.corpusBloom(art, expectedItems)
      val n = freshSig.filter(Dedup.bloomCandidate(bloom)).count().toDouble
      n / freshSig.count().toDouble
    }
    // deliberately undersized: the filter saturates — verdicts stay correct
    // but (nearly) every fresh doc flags, so the join bypass is gone
    assert(candidateFraction(4L) > 0.9)
    // the artifact-derived sizing incrementalDedupBloom now applies by
    // default: fresh docs overwhelmingly bypass the exact joins
    val derived = (1L + Dedup.minhashBandCount) * art.count()
    assert(candidateFraction(math.max(derived, Dedup.bloomExpectedItems)) < 0.2)
    // a session item cap below the floor: the size is the cap, and the
    // Bloom-screened query's rows do not move
    val capKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val query = SparkEntry.queries("dedup_incremental_bloom")
    val rows = query(spark, sfDir).collect().toSeq
    spark.conf.set(capKey, 1000L)
    try {
      assert(graft.operators.Bloom.expectedItems(
        art, 1L + Dedup.minhashBandCount, Dedup.bloomExpectedItems) == 1000L)
      assert(query(spark, sfDir).collect().toSeq == rows)
    } finally spark.conf.unset(capKey)
  }

  test("vec_sum_quant: aggregate equals the 64-column quantized-sum form") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val scale = Similarity.kmeansScale.toDouble
    val key = pmod(col("vec_id"), lit(7)).as("k")
    val old = emb.select(key,
        expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${scale}D) AS BIGINT))")
          .as("q"))
      .groupBy("k")
      .agg(array((1 to Similarity.dims)
        .map(i => sum(element_at(col("q"), i))): _*).as("old_s"))
    val nw = emb.select(key, col("embedding"))
      .groupBy("k")
      .agg(graft.spark.VectorFunctions.vecSumQuant(
        col("embedding"), Similarity.dims, scale).as("new_s"))
    val cmp = old.join(nw, Seq("k"))
    assert(cmp.count() == 7)
    assert(cmp.filter(col("old_s") =!= col("new_s")).count() == 0)
  }

  test("dedup: span rewrite drops the borrowed paragraph, keeps the borrower's own prose") {
    import graft.operators.Dedup
    val d = Transcripts.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // tiling law: a doc that keeps every block reassembles to its exact
    // original text; the corpus's natural near-dup docs ("dup dup dup"
    // tail family) genuinely lose their repeated spans
    val clean = Dedup.spanDedup(d).join(d, Seq("doc_id"))
    val full = clean.filter(col("n_kept") === col("n_blocks"))
    assert(full.count() > 0)
    assert(full.filter(col("text_dedup") =!= col("text")).count() == 0)
    assert(clean.filter(col("n_kept") < col("n_blocks")).count() > 0)
    // borrowers: first block is a verbatim copy of an original's first
    // block (dropped); the unique tail survives
    val borrow = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(
          array_join(slice(split(col("text"), " "), 1, Dedup.spanTokens), " "),
          lit(" fresh content from borrower "),
          (col("doc_id") + 2000000L).cast("string")).as("text"))
    val out = Dedup.spanDedup(d.unionAll(borrow))
    val borrowers = out.filter(col("doc_id") >= 2000000L)
    assert(borrowers.count() > 0)
    assert(borrowers.filter(col("n_kept") =!= col("n_blocks") - 1).count() == 0)
    assert(borrowers.filter(col("text_dedup") =!= concat(
      lit("fresh content from borrower "), col("doc_id").cast("string"))).count() == 0)
    // plan: keeper is a skew-safe partial min-struct agg; no cartesian
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("sample: exact-N delivers exactly N per stratum; prefilter audit is clean") {
    import graft.operators.Sampling
    val doc = Transcripts.documents(spark, sfDir)
    val out = Sampling.exactNSample(doc, n = 10)
    // every stratum with >= 10 docs delivers exactly 10; smaller strata
    // deliver all their docs
    val perStratum = out.groupBy("predicted").agg(count(lit(1)).as("got"),
      max(col("rank")).as("maxr"))
    val sizes = doc.select(graft.operators.TextAnalysis.langPredicted.as("predicted"))
      .groupBy("predicted").agg(count(lit(1)).as("n_stratum"))
    assert(perStratum.join(sizes, Seq("predicted"))
      .filter(col("got") =!= least(lit(10L), col("n_stratum"))).count() == 0)
    // the sample is the N SMALLEST hashes: re-running with full rank on
    // the unfiltered pool agrees (prefilter dropped nothing that counts)
    assert(Sampling.exactNShortStrata(doc, n = 10).count() == 0)
    // ranks are dense from 1
    assert(out.filter(col("rank") < 1 || col("rank") > 10).count() == 0)
    // the window only ever sees the prefiltered sliver: candidate filter
    // sits UNDER the window in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"plan:\n$plan")
  }

  test("sample: domain cap keeps small domains whole, thins the mega-domain; corpus never shuffles") {
    import graft.operators.Sampling
    val host = when(pmod(col("doc_id"), lit(4)) === 0, lit("hub.example.com"))
      .otherwise(concat(col("source"), lit(".example.com")))
    val d = Transcripts.documents(spark, sfDir).select(col("doc_id"), host.as("host"))
    val out = Sampling.domainCap(d, cap = 5L)
    // one verdict row per document; small domains (n <= cap) keep all
    assert(out.count() == d.count())
    assert(out.filter(col("n_domain") <= 5 && !col("kept")).count() == 0)
    // the mega-domain is thinned (rate cap/n) but not emptied
    val hub = out.filter(col("host") === "hub.example.com")
    val (hubN, hubKept) = (hub.count(), hub.filter(col("kept")).count())
    assert(hubN > 5 && hubKept > 0 && hubKept < hubN)
    // plan: the ONLY hash shuffle is the tiny (host, count) partial agg;
    // the rate table broadcasts back onto the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length == 1,
      s"plan:\n$plan")
  }

  test("conv: render/span coherence — every span slices the sample to its rendered turn") {
    val t = Transcripts.rawTurns(spark, sfDir)
    val render = Transcripts.convRender(t)
    val spans = Transcripts.convSpans(t)
    // coherence law: substring(sample, start_char, len) == rendered turn
    val sliced = spans.select("conv_id", "turn_idx", "start_char", "end_char")
      .join(render.select("conv_id", "sample"), Seq("conv_id"))
      .join(t, Seq("conv_id", "turn_idx"))
      .withColumn("slice", expr(
        "substring(sample, CAST(start_char AS INT) + 1, CAST(end_char - start_char AS INT))"))
      .withColumn("expected", Transcripts.renderTurn(col("role"), col("text")))
    assert(sliced.filter(col("slice") =!= col("expected")).count() == 0)
    // spans tile each sample exactly: min start 0, max end == total_chars,
    // and assistant span lengths sum to trainable_chars
    val agg = spans.groupBy("conv_id").agg(
        min(col("start_char")).as("s"), max(col("end_char")).as("e"),
        sum(when(col("trainable"), col("end_char") - col("start_char"))
          .otherwise(0L)).as("tc"))
      .join(render, Seq("conv_id"))
    assert(agg.filter(col("s") =!= 0L || col("e") =!= col("total_chars")
      || col("tc") =!= col("trainable_chars")).count() == 0)
    // plan: render is ONE partial-agg Exchange; spans one Exchange + Window
    val rp = render.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(rp).length == 1, s"plan:\n$rp")
    assert(rp.contains("ObjectHashAggregate") && rp.contains("partial_collect_list"),
      s"plan:\n$rp")
    val sp = spans.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(sp).length == 1 && sp.contains("Window"),
      s"plan:\n$sp")
  }

  test("dedup: window fingerprints catch verbatim runs across different docs") {
    import graft.operators.Dedup
    import spark.implicits._
    // two docs sharing an 11-token verbatim run (W + S - 1 = 8 + 4 - 1)
    // with totally different surroundings MUST pair regardless of
    // alignment — the runs start at token offsets 3 and 1 (different
    // residues mod the winnow window S=4: a positional stride scheme
    // provably misses this pair however long the run); doc 3 shares only
    // scattered words -> no pair
    val run = (1 to 11).map(i => s"quoted$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"zero $run eight nine ten eleven twelve thirteen"),
      (3L, "alpha two gamma four epsilon six quoted1 eight quoted3 ten eleven twelve")
    ).toDF("doc_id", "text")
    val pairs = Dedup.windowDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"verbatim run missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false pair on doc 3: $pairs")
    // the operator's per-doc fingerprint selection matches the pure mirror
    // that drives the ScalaCheck any-alignment winnowing law (the mirror
    // cannot drift from the Spark columnar form unnoticed)
    val fps = Dedup.windowFingerprints(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    docs.collect().foreach { r =>
      val expect = TextMirrors.winnowedFps(r.getString(1).split(" ").toIndexedSeq)
      assert(fps.getOrElse(r.getLong(0), Set.empty) == expect,
        s"mirror/operator divergence on doc ${r.getLong(0)}")
    }
    // and over the corpus: every injected whole-document dup is found
    val doc = Transcripts.documents(spark, sfDir)
    val corpus = Dedup.windowDupPairs(doc)
    val injected = Dedup.withInjectedDups(doc)
      .filter(col("doc_id") >= 1000000L)
      .filter(size(split(col("text"), " ")) >= Dedup.windowTokens)
      .count()
    val found = corpus.filter(col("b_id") === col("a_id") + 1000000L).count()
    assert(found == injected, s"found $found of $injected injected dups")
  }

  test("sampling: unlisted strata drop OBSERVABLY (graft_guard metric)") {
    import graft.operators.Sampling
    import spark.implicits._
    // a mixture that forgot a stratum: rows still drop (default-0 rate is
    // the documented contract) but the guard metric counts them, so a
    // 100 TB mixture-spec typo is loggable instead of a silent corpus hole
    val docs = Seq((1L, "zzz qqq ppp"), (2L, "the a is"), (3L, "der und ist"))
      .toDF("doc_id", "text") // doc 1 predicts 'und'
    val missing = Sampling.stratifiedSample(docs, Sampling.defaultRates - "und")
    missing.collect()
    val m = missing.queryExecution.observedMetrics
      .find(_._1.startsWith("graft_guard_sample_unlisted"))
    assert(m.isDefined, "guard metric missing from the sampling plan")
    assert(m.get._2.getLong(0) == 1L, s"expected 1 unlisted row, got ${m.get._2}")
    // the full default mixture lists every stratum: guard counts zero
    val full = Sampling.stratifiedSample(Transcripts.documents(spark, sfDir))
    full.collect()
    val m2 = full.queryExecution.observedMetrics
      .find(_._1.startsWith("graft_guard_sample_unlisted"))
    assert(m2.isDefined && m2.get._2.getLong(0) == 0L, s"got $m2")
    // upweight shares the default-0 mechanism, so it carries the same
    // guard: a weights typo zeroing a stratum is counted, not silent
    val upMissing = Sampling.upweight(docs, Sampling.defaultWeights - "und")
    upMissing.collect()
    val m3 = upMissing.queryExecution.observedMetrics
      .find(_._1.startsWith("graft_guard_upweight_unlisted"))
    assert(m3.isDefined && m3.get._2.getLong(0) == 1L, s"got $m3")
  }

  test("chunking: full coverage, overlap arithmetic, short docs, narrow plan") {
    import graft.operators.Packing
    import spark.implicits._
    val doc = Transcripts.documents(spark, sfDir)
    val chunks = Packing.chunkDocuments(doc).cache()
    val toks = doc.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    // every token of every doc is covered: the last chunk ends at n, chunk
    // starts step by the stride, and sizes are the least(chunkTokens, rest)
    val agg = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      max(col("start_token") + col("n_chunk_tokens")).as("covered"),
      min("n_chunk_tokens").as("min_len"))
    val j = agg.join(toks, Seq("doc_id")).cache()
    assert(j.filter(col("covered") =!= col("n")).count() == 0, "uncovered tail tokens")
    assert(j.filter(col("min_len") <= 0).count() == 0, "empty chunk emitted")
    assert(j.filter(col("n") <= Packing.chunkTokens && col("n_chunks") =!= 1).count() == 0,
      "short doc split needlessly")
    j.unpersist()
    // consecutive chunks overlap by exactly chunkTokens - chunkStride,
    // except the final (possibly short) chunk which still starts on stride
    val idx = chunks.select(col("doc_id"), col("chunk_idx"), col("start_token"))
    assert(idx.filter(col("start_token") =!= col("chunk_idx") * Packing.chunkStride)
      .count() == 0)
    // fingerprint is the md5 of the chunk's actual tokens (hand case: 5
    // tokens, chunk size 128 -> one chunk, fp = md5 of the whole text)
    val tiny = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val got = Packing.chunkDocuments(tiny).collect()
    assert(got.length == 1)
    assert(got(0).getString(4) ==
      tiny.select(md5(col("text"))).collect()(0).getString(0))
    assert(got(0).getInt(3) == 5)
    chunks.unpersist()
    // pure narrow stage: no Exchange
    val plan = Packing.chunkDocuments(doc).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("train split: partition, determinism, subset stability, narrow plan") {
    import graft.operators.Sampling
    val doc = Transcripts.documents(spark, sfDir)
    val s = Sampling.trainSplit(doc).cache()
    // exactly one split per doc, and only the three labels exist
    assert(s.count() == doc.count())
    val labels = s.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("train", "val", "test")))
    // proportions: binomial(500, 0.9) is within +-6 sigma of 450
    val nTrain = s.filter(col("split") === "train").count()
    assert(math.abs(nTrain - 0.9 * doc.count()) < 6 * math.sqrt(0.09 * doc.count()),
      s"train fraction off: $nTrain of ${doc.count()}")
    // hash-split stability: restricting the corpus does NOT move surviving
    // docs between splits (the held-out set stays held out across corpus
    // versions) — a random split has no such property
    val sub = Sampling.trainSplit(doc.filter(col("doc_id") < 100))
    val moved = sub.withColumnRenamed("split", "sub_split")
      .join(s, Seq("doc_id"))
      .filter(col("sub_split") =!= col("split")).count()
    assert(moved == 0)
    s.unpersist()
    val plan = Sampling.trainSplit(doc).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
  }

  test("mixture budget: budget respected, nested, priority-prefix, one shuffle") {
    import graft.operators.Sampling
    val doc = Transcripts.documents(spark, sfDir)
    val sel = Sampling.mixtureBudget(doc).cache()
    // every selected doc started strictly inside its shard's budget
    assert(sel.filter(col("cum_before") >= Sampling.budgetTokens).count() == 0)
    // nested: a half budget selects a SUBSET (prefix property of the
    // priority order — the scaling-law ladder again)
    val halfIds = Sampling.mixtureBudget(doc, budget = Sampling.budgetTokens / 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fullIds = sel.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(halfIds.subsetOf(fullIds) && halfIds.size < fullIds.size)
    // priority-prefix: within a (stratum, shard), no UNSELECTED doc has a
    // lower priority hash than a selected one's cum window would allow —
    // equivalently, re-deriving the prefix sum over the selected rows in
    // (u-order = cum_before order) reproduces cum_before exactly
    val rows = sel.filter(col("predicted") === "en" && col("shard") === 3)
      .orderBy("cum_before").collect()
    var cum = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("cum_before") == cum, s"gap in prefix sums at $r")
      cum += r.getAs[Long]("n_tokens")
    }
    sel.unpersist()
    // exactly ONE Exchange: the (predicted, shard) window partition
    val plan = Sampling.mixtureBudget(doc).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1, s"plan:\n$plan")
  }

  test("lm score: vocab tiebreak, oov counting, all-oov doc, broadcast plan") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // corpus token counts: x=4, y=3, z=2, w=2, q=1, uuu/vvv/www=1 each —
    // a tie at the vocabSize=3 boundary ('w' vs 'z', both 2) resolved by
    // the deterministic token-asc tiebreak: 'w' kept, 'z' dropped
    val docs = Seq(
      (1L, "x x y w"),
      (2L, "x y z w q"),
      (3L, "x y z"),
      (4L, "uuu vvv www")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs, vocabSize = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    // vocab = {x:4, y:3, w:2}; doc 1: 0 oov, sum = 4+4+3+2 = 13, mean 3.25
    // doc 2: oov {z, q}, sum = 4+3+2 = 9, mean 3.0
    // doc 3: oov {z}, sum = 4+3 = 7, mean 3.5
    // doc 4: ALL oov -> mean 0.0 (the n_tokens == n_oov branch)
    assert(got(0) == (1L, 4, 0, 13L, 3.25), s"got ${got(0)}")
    assert(got(1) == (2L, 5, 2, 9L, 3.0), s"got ${got(1)}")
    assert(got(2) == (3L, 3, 1, 7L, 3.5), s"got ${got(2)}")
    assert(got(3) == (4L, 3, 3, 0L, 0.0), s"got ${got(3)}")
    // the vocab side joins BROADCAST (fixed-size side, never the corpus)
    val plan = TextAnalysis.lmScore(Transcripts.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("corpus stats: totals cross-check against tokenCounts") {
    import graft.operators.TextAnalysis
    val doc = Transcripts.documents(spark, sfDir)
    val stats = TextAnalysis.corpusStats(doc)
    val total = stats.agg(
      sum("n_docs").cast("long"), sum("total_tokens").cast("long"),
      sum("total_chars").cast("long")).collect()(0)
    val direct = TextAnalysis.tokenCounts(doc).agg(
      count(lit(1)), sum(col("n_tokens")).cast("long"),
      sum(col("n_chars")).cast("long")).collect()(0)
    assert(total.getLong(0) == direct.getLong(0))
    assert(total.getLong(1) == direct.getLong(1))
    assert(total.getLong(2) == direct.getLong(2))
    // cells partition the corpus: no (source, predicted) repeats
    assert(stats.groupBy("source", "predicted").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("dedup: degenerate-block cap drops are observable (graft_caps_* metrics)") {
    // the caps (minhashMaxBucket, windowMaxBucket, simhashMaxBlock,
    // nearDupMaxBucket, semanticMaxCell, containmentMaxDf) are
    // unreachable at test scale, so the contract to pin is OBSERVABILITY:
    // every capped operator publishes a graft_caps_* observed metric
    // (dropped_blocks, max_block) that a listener can read at runtime —
    // a cap-triggered Spark/oracle divergence is loggable, never silent
    @volatile var seen = Map.empty[String, (Long, Long)]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (n, r) =>
          if (n.startsWith("graft_caps_")) seen += n -> ((r.getLong(0), r.getLong(1)))
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Dedup.registerCapLogger(spark) // the production warn-logger co-exists
      val doc = Transcripts.documents(spark, sfDir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val vecs = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      Dedup.minhashBands(doc).count()
      Dedup.windowDupPairs(doc).count()
      Dedup.simhashPairs(doc).count()
      Dedup.embeddingNearDup(emb).count()
      Dedup.containmentPairs(doc).count()
      // a bare count() of the semantic reports prunes the pair side: the
      // left join onto distinct dropped ids cannot change the row count
      Dedup.semanticDedup(emb).filter(col("dropped")).count()
      Dedup.semanticDedupIncremental(vecs, vecs).filter(col("dropped")).count()
      // QueryExecutionListener delivery is async — poll until every
      // operator family has reported
      val all = Set("minhash", "windowfp", "simhash", "neardup", "semdedup", "containment",
        "semincr")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def families = all.filter(fam => seen.keys.exists(_.startsWith(s"graft_caps_${fam}_")))
      while (families != all && System.nanoTime() < deadline) Thread.sleep(50)
      assert(families == all, s"metrics seen: ${seen.keys}")
      // nothing dropped at this scale, and the gauge saw real blocks
      assert(seen.values.forall(_._1 == 0L), s"unexpected drops: $seen")
      assert(seen.values.exists(_._2 >= 2L), s"max_block never measured: $seen")
    } finally spark.listenerManager.unregister(l)
  }

  test("plan: embedding near-dup computes the banding in ONE pass (no self-join)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // pairing over a parquet base reads the input EXACTLY once: the banding
    // projection (96 plane dots/row) is no longer computed per join side
    val base = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val plan = Dedup.nearDupPairs(base, minCos = 0.8)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllMatchIn(plan).length == 1, s"plan:\n$plan")
    // the full operator reads once per dup-injection union branch (2), not
    // once per (branch x join side) (4, the old self-join shape)
    val full = Dedup.embeddingNearDup(emb)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllMatchIn(full).length == 2, s"plan:\n$full")
  }

  test("ann: lsh top-k is a subset-consistent restriction of brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, nQueries = 5, k = 3)
    assert(bf.groupBy("query_id").count().filter(col("count") =!= 3).count() == 0)
    val lsh = Similarity.lshTopK(emb, nQueries = 5, k = 3)
    // lsh candidates are a subset: its best hit can't beat brute force's
    val bfBest = bf.filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("bf_cos"))
    val lshBest = lsh.filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("lsh_cos"))
    val joined = bfBest.join(lshBest, Seq("query_id"))
    assert(joined.filter(col("lsh_cos") > col("bf_cos")).count() == 0)
  }

  test("ivf: centroids collected ONCE per composed query") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // each collect is a Spark job + a scan; composed methods must share one
    Similarity.centroidCollects.set(0L)
    Similarity.ivfTopKProbe2(emb)
    assert(Similarity.centroidCollects.get() == 1L,
      s"ivfTopKProbe2 ran ${Similarity.centroidCollects.get()} centroid collects")
    Similarity.centroidCollects.set(0L)
    Similarity.annRecall(emb)
    assert(Similarity.centroidCollects.get() == 1L,
      s"annRecall ran ${Similarity.centroidCollects.get()} centroid collects")
  }

  test("main: --query mode runs named operator queries to parquet") {
    val out = tmpDir("graft_query_mode_")
    val ran = Main.runQueries(spark,
      Seq("o4_payload_sniff", "o9_engine_dispatch"), sfDir, out)
    assert(ran.map(_._1) == Seq("o4_payload_sniff", "o9_engine_dispatch"))
    assert(ran.forall(_._2 > 0))
    // the written parquet is the same result the Verify dump produces
    val reread = spark.read.parquet(s"$out/o4_payload_sniff")
    assert(reread.count() == ran.head._2)
    val err = intercept[IllegalArgumentException] {
      Main.runQueries(spark, Seq("no_such_query"), sfDir, out)
    }
    assert(err.getMessage.contains("no_such_query"))
  }

  test("multimodal: stub decode plumbing produces typed metadata batches") {
    val doc = Transcripts.documents(spark, sfDir)
    val meta = Multimodal.decodeMeta(spark, Multimodal.mediaTable(spark, doc))
    assert(meta.count() == doc.count())
    assert(meta.filter(col("kind") === "image" && col("duration_ms") =!= 0).count() == 0)
    val frames = Multimodal.frameSample(spark, Multimodal.mediaTable(spark, doc))
    assert(frames.groupBy("doc_id").count().filter(col("count") =!= 4).count() == 0)
  }
}
