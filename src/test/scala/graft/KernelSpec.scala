package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.spark._
import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One table-driven check of every [[HashFunctions]] kernel and of the two
  * [[ExtractTextKernel]] kernels: on NULL, empty,
  * multi-byte and private-use-area text plus a few sf0.01 documents, the
  * whole-stage-codegen run and the interpreted run (`StaticInvoke` finding
  * the kernel by reflection) must both equal a direct call to the kernel
  * object. Also pins the plan-level properties the kernels were built for:
  * each sits inside a `*(n)` codegen stage, equal builds are
  * `semanticEquals` (so subexpression elimination shares one call), and the
  * SQL surface type-checks at analysis.
  */
class KernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-kernel-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // state-store providers a streaming query loaded keep a JVM-wide
  // maintenance thread polling this session's coordinator after it stops;
  // unloading them ends it
  override def afterAll(): Unit = try spark.stop() finally StateStore.stop()

  private val pua = TextAnalysis.bpeSymbol(1)

  private def texts: Seq[String] = {
    // the sf0.01 tables committed with the benchmark
    val docs = Transcripts.documents(spark, "perfbench/data/sf0.01")
      .orderBy("doc_id").limit(4).collect().map(_.getAs[String]("text")).toSeq
    Seq(null, "", "héllo wörld", s"ab${pua}cd x${pua} the deadlock crash") ++ docs
  }

  private def utf8(s: String) = UTF8String.fromString(s)
  private def tokens(t: String) = t.split(" ", -1).toSeq

  /** The non-text inputs derive from the text: its shingles, and one
    * (doc_id, simhash) struct per token — a synthetic SimHash block.
    */
  private def grams(t: String): Seq[String] =
    if (t == null) null
    else CatalystTypeConverters.convertToScala(ShinglesKernel.shingles3(utf8(t)),
      ArrayType(StringType)).asInstanceOf[Seq[String]]

  private def block(t: String): Seq[Row] =
    if (t == null) null
    else tokens(t).zipWithIndex.map { case (tok, i) =>
      Row(i.toLong, SimHashKernel.simhash16(utf8(tok)))
    }

  private val weights =
    (0 until TextAnalysis.classifierBuckets).map(TextAnalysis.classifierWeight(_).toLong)
  private val words = TextAnalysis.blockedTerms ++ Seq("the", "wörld")
  private val wordSet = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  /** One extraction request per text: the text with one of these tools,
    * covering parse, payload, chain and args failures and both engines
    * that read the payload.
    */
  private val tools = Seq(null, """{"engine":"mock"}""",
    s"""{"engine":"sandwich","img_base64":"${graft.core.Payload.encodeBase64(
      graft.core.Pdf.synthesize(s"pdf héllo $pua"))}","engine_args":{"ocr_type":"txt"}}""",
    """{"engine":"tesseract","preprocessors":["identity","stroke-width-transform"],""" +
      """"preprocessor-args":{"stroke-width-transform":"0"},""" +
      """"engine_args":{"psm":"6","config_vars":{"tessedit_char_whitelist":"abcHÉ "}}}""",
    """{"engine":"mock",""", """{"engine":"tesseract","engine_args":{"psm":6}}""",
    """{"engine":"sandwich","engine_args":{"ocr_type":1},"time_out":60}""")

  private val config = graft.core.Engines.CoreConfig()

  private def request(t: String, i: Int): Row =
    Row(if (i == 1) null else s"c$i", i, t, tools(i % tools.size))

  /** The request after [[ExtractTextKernel.normalize]], as `run` reads it. */
  private def queued(t: String, i: Int): Row = {
    val r = CatalystTypeConverters.convertToCatalyst(request(t, i)).asInstanceOf[InternalRow]
    val n = ExtractTextKernel.normalize(r.getUTF8String(0), r.getInt(1), r.getUTF8String(2),
      r.getUTF8String(3))
    Row(request(t, i).get(0), i, CatalystTypeConverters.convertToScala(n,
      ExtractTextKernel.normalizedType))
  }

  private case class Case(kernel: GraftColumnBridge.StaticKernel, input: String,
      build: Column => Column, direct: Any => Any)

  private def text(f: UTF8String => Any): Any => Any = v => f(v.asInstanceOf[UTF8String])
  private def array(f: ArrayData => Any): Any => Any = v => f(v.asInstanceOf[ArrayData])
  private def struct(f: InternalRow => Any): Any => Any = v => f(v.asInstanceOf[InternalRow])

  private val cases = {
    import HashFunctions._
    Seq(
      Case(shingles3Kernel, "text", shingles3, text(ShinglesKernel.shingles3)),
      Case(minHash16Kernel, "grams", minHash16, array(MinHashKernel.minhash16)),
      Case(rollingHashKernel, "text", rollingHash, text(RollingHashKernel.rollingHash)),
      Case(simHash16Kernel, "text", simHash16, text(SimHashKernel.simhash16)),
      Case(simHashPairsKernel, "ms", simHashPairs(_, 8),
        array(SimHashPairsKernel.pairs(_, 8))),
      Case(urlCanonicalKernel, "text", urlCanonical, text(UrlKernel.canonicalize)),
      Case(spanBlocksKernel, "text", spanBlocks(_, 3),
        text(SpanBlocksKernel.spanBlocks(_, 3))),
      Case(langPredictKernel, "text", langPredict, text(LangKernel.langPredict)),
      Case(langScores4Kernel, "text", langScores4, text(LangKernel.langScores4)),
      Case(winnowFpsKernel, "text", winnowFps(_, 3, 2),
        text(WinnowKernel.winnowFps(_, 3, 2))),
      Case(minHashBandsKernel, "grams",
        minHashBands(_, Dedup.minhashBandCount, Dedup.minhashRowsPerBand),
        array(MinHashBandsKernel.bands(_, Dedup.minhashBandCount, Dedup.minhashRowsPerBand))),
      Case(classifierBucketsKernel, "text", classifierBuckets(_, TextAnalysis.classifierBuckets),
        text(ClassifierBucketsKernel.buckets(_, TextAnalysis.classifierBuckets))),
      Case(tokenSetCountKernel, "text", tokenSetCount(_, words),
        text(TokenSetCountKernel.count(_, wordSet))),
      Case(classifierScoreKernel, "text", classifierScore(_, weights),
        text(ClassifierScoreKernel.score(_,
          new scala.collection.immutable.ArraySeq.ofLong(weights.toArray)))),
      Case(textCharPairsKernel, "text", textCharPairs, text(CharPairsKernel.pairs)),
      Case(ExtractTextKernel.normalizeKernel, "req",
        r => ExtractTextKernel.normalize(r("conv_id"), r("turn_idx"), r("text"), r("tool")),
        struct(r => ExtractTextKernel.normalize(r.getUTF8String(0), r.getInt(1),
          r.getUTF8String(2), r.getUTF8String(3)))),
      Case(ExtractTextKernel.runKernel, "queued",
        q => ExtractTextKernel.run(q("conv_id"), q("turn_idx"), q("n"), config),
        struct(q => ExtractTextKernel.run(q.getUTF8String(0), q.getInt(1),
          q.getStruct(2, ExtractTextKernel.normalizedType.size), config))))
  }

  /** Parquet-backed inputs: a local relation would be evaluated by the
    * optimizer and never reach a codegen stage.
    */
  private lazy val input = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("text", StringType),
      StructField("grams", ArrayType(StringType)),
      StructField("ms", ArrayType(StructType(Seq(
        StructField("doc_id", LongType), StructField("simhash", IntegerType))))),
      StructField("req", StructType(Seq(StructField("conv_id", StringType),
        StructField("turn_idx", IntegerType), StructField("text", StringType),
        StructField("tool", StringType)))),
      StructField("queued", StructType(Seq(StructField("conv_id", StringType),
        StructField("turn_idx", IntegerType),
        StructField("n", ExtractTextKernel.normalizedType))))))
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i, t, grams(t), block(t), request(t, i), queued(t, i))
    }
    val dir = graft.spark.TmpDirs.create("graft_kernels_") + "/in"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** NULL in gives NULL out (row 0 is the NULL text); otherwise the kernel
    * object called directly on the Catalyst value.
    */
  private def expected(c: Case): Seq[Any] =
    input.orderBy("id").select(c.input).collect().toSeq.map { r =>
      val in = CatalystTypeConverters.convertToCatalyst(r.get(0))
      if (in == null) null
      else CatalystTypeConverters.convertToScala(c.direct(in), c.kernel.dataType)
    }

  private def run(c: Case): Seq[Any] =
    input.orderBy("id").select(c.build(col(c.input))).collect().toSeq.map(_.get(0))

  private def callOf(c: Case): String =
    s"${c.kernel.kernel.getClass.getName.stripSuffix("$")}.${c.kernel.method}"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("kernel table covers every declared kernel") {
    val declared = HashFunctions.kernels ++
      Seq(ExtractTextKernel.normalizeKernel, ExtractTextKernel.runKernel)
    assert(cases.map(_.kernel.name).sorted == declared.map(_.name).sorted)
  }

  test("every kernel: codegen and interpreted runs equal a direct kernel call") {
    for (c <- cases) {
      val want = expected(c)
      val codegen = run(c)
      val interpreted = withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val plan = input.select(c.build(col(c.input))).queryExecution.executedPlan.toString
        assert(!plan.contains("*("), s"still a codegen stage in:\n$plan")
        run(c)
      }
      assert(codegen == want, s"${c.kernel.name} (codegen)")
      assert(interpreted == want, s"${c.kernel.name} (interpreted)")
    }
  }

  test("every kernel sits inside a whole-stage codegen stage") {
    for (c <- cases) {
      val plan = input.select(c.build(col(c.input)).as("k"))
        .queryExecution.executedPlan.toString
      val call = s"${callOf(c)}("
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains(call)),
        s"${c.kernel.name}: no codegen stage around $call in:\n$plan")
    }
  }

  test("equal builds are semanticEquals, so repeated uses share one call") {
    for (c <- cases) {
      val twice = input.select(c.build(col(c.input)).as("a"), c.build(col(c.input)).as("b"))
      val Project(Seq(a: Alias, b: Alias), _) = twice.queryExecution.analyzed
      assert(a.child.semanticEquals(b.child), s"${c.kernel.name}: ${a.child} vs ${b.child}")
      val code = twice.queryExecution.debug.codegenToSeq().map(_._2).mkString
      val calls = java.util.regex.Pattern.quote(s"${callOf(c)}(").r.findAllMatchIn(code).length
      assert(calls == 1, s"${c.kernel.name}: $calls kernel calls in the generated code")
    }
  }

  test("sql surface: registered kernels match the DataFrame builds") {
    GraftExtensions.register(spark)
    input.createOrReplaceTempView("kernel_in")
    val calls = Map("shingles3" -> "shingles3(text)", "minhash16" -> "minhash16(grams)",
      "rolling_hash" -> "rolling_hash(text)", "simhash16" -> "simhash16(text)",
      "url_canonical" -> "url_canonical(text)", "span_blocks" -> "span_blocks(text, 3)")
    val kernelNames = HashFunctions.kernels.map(_.name).toSet
    assert(GraftExtensions.functions.map(_._1.funcName).filter(kernelNames).toSet == calls.keySet)
    for (c <- cases if calls.contains(c.kernel.name)) {
      val got = spark.sql(s"SELECT ${calls(c.kernel.name)} FROM kernel_in ORDER BY id")
        .collect().toSeq.map(_.get(0))
      assert(got == expected(c), c.kernel.name)
    }
  }

  test("sql surface: kernels type-check at analysis, span_blocks guards its width") {
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT rolling_hash('7') AS h").head.getLong(0) ==
      RollingHashKernel.rollingHash(utf8("7")))
    for (bad <- Seq("shingles3(array(1))", "minhash16('a b c')", "url_canonical(map(1, 2))"))
      intercept[AnalysisException](spark.sql(s"SELECT $bad AS x").queryExecution.assertAnalyzed())
    val e = intercept[Exception](spark.sql("SELECT span_blocks('a b', 0) AS b").collect())
    assert(e.getMessage.contains("width must be positive"), e.getMessage)
    intercept[IllegalArgumentException](HashFunctions.winnowFps(col("text"), 0, 1))
    intercept[IllegalArgumentException](HashFunctions.classifierScore(col("text"), Nil))
  }

  test("extract_text / extract_status: codegen and interpreted runs equal Extractor.extractTurn") {
    GraftExtensions.register(spark)
    val pdf = graft.core.Payload.encodeBase64(graft.core.Pdf.synthesize(s"pdf héllo $pua"))
    val tools = Seq(null, """{"engine":"mock"}""",
      s"""{"engine":"sandwich","img_base64":"$pdf","engine_args":{"ocr_type":"txt"}}""",
      """{"engine":"mock",""")
    val rows = for {
      (text, i) <- Seq(null, "", "héllo wörld", s"ab${pua}cd x$pua").zipWithIndex
      (tool, j) <- tools.zipWithIndex
    } yield (if (i + j == 1) null else s"c$i", i * tools.size + j, text, tool)
    val dir = graft.spark.TmpDirs.create("graft_extract_") + "/in"
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "text", "tool").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("extract_in")
    // NULL conv_id, text or tool go into the kernel as they are (the
    // pipeline's rule): every row is the kernel's own result
    val want = rows.map { case (c, i, text, tool) =>
      val r = graft.core.Extractor.extractTurn(c, i, text, tool)
      (i, r.text, r.status)
    }
    assert(want.exists(_._3 == "error") && want.exists(_._3 == "done") &&
      want.exists(_._3 == ""), "inputs cover error, done and mock status")
    val sql = """SELECT turn_idx,
      |  extract_text(conv_id, turn_idx, text, tool) AS text,
      |  extract_status(conv_id, turn_idx, text, tool) AS status
      |FROM extract_in""".stripMargin
    def plan() = spark.sql(sql).queryExecution.executedPlan.toString
    def run() = spark.sql(sql).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val codegen = plan()
    assert(codegen.linesIterator.exists(l => l.contains("*(") &&
      l.contains("graft.spark.ExtractTextKernel.run(")), s"no codegen stage around the kernel in:\n$codegen")
    // both fields read one subexpression-eliminated call of each kernel
    val generated = org.apache.spark.sql.execution.debug
      .codegenStringSeq(spark.sql(sql).queryExecution.executedPlan).map(_._2).mkString("\n")
    for (k <- Seq("normalize", "run"))
      assert(s"graft\\.spark\\.ExtractTextKernel\\.$k\\(".r.findAllMatchIn(generated).size == 1,
        generated)
    assert(run() == want, "codegen")
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(!plan().contains("*("), s"still a codegen stage in:\n${plan()}")
      run()
    }
    assert(interpreted == want, "interpreted")
  }
}
