package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference twins of the native Spark kernels: the SQL-expressible forms
  * (interpreted `filter`/`transform`/`aggregate` lambdas, per-code when
  * chains) that the `StaticInvoke` kernels replaced. The parity specs in
  * `PipelineSpec` pin each kernel to its twin on the corpus and on edge
  * input; nothing in `src/main` calls these. Each reads its parameters
  * (stopword lists, weight tables, codebook geometry) from the operator
  * object, so a twin follows any change to them.
  */
object HofRefs {

  /** Twin of `TextAnalysis.langPredicted` (`lang_predict`). Known
    * difference on NULL text: every score is NULL, no branch holds and the
    * chain falls through to "fr", while the native kernel gives NULL. The
    * corpus has no NULL text, so the oracle cannot see this.
    */
  def langPredictedHof: Column = {
    val Seq(en, de, es, fr) = TextAnalysis.langScores.map(_._2)
    when(en === 0 && de === 0 && es === 0 && fr === 0, "und")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Twin of `TextAnalysis.rollingHash` (`rolling_hash`): the per-character
    * aggregate/transform fold.
    */
  def rollingHashHof(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(text)),
        i => ascii(text.substr(i, lit(1))).cast("bigint")),
      lit(0L),
      (h, c) => (h * lit(31L) + c) % lit(2147483647L))

  /** Twin of the blocked-term count (`token_set_count` over
    * `TextAnalysis.blockedTerms`).
    */
  def blockedTermCountHof: Column = {
    val inList = TextAnalysis.blockedTerms.map(t => s"'$t'").mkString(", ")
    size(expr(s"filter(split(text, ' '), t -> t IN ($inList))"))
  }

  /** Twin of the untrained classifier score (`classifier_score` over the
    * `TextAnalysis.classifierWeight` table): the aggregate-HOF chain.
    */
  def classifierScoreExprHof: Column = {
    val wArr = (0 until TextAnalysis.classifierBuckets).map(TextAnalysis.classifierWeight)
      .mkString("array(", ", ", ")")
    expr(
      s"""aggregate(split(text, ' '), 0, (acc, t) ->
         |  acc + element_at($wArr,
         |    CAST(pmod(CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT),
         |              ${TextAnalysis.classifierBuckets}) AS INT) + 1))""".stripMargin)
  }

  /** Twin of `lang_scores4`: the four `TextAnalysis.langScores` columns
    * as one array. On NULL text every score is NULL (the
    * [[langPredictedHof]] difference), while the native kernel gives NULL.
    */
  def langScores4Hof: Column = array(TextAnalysis.langScores.map(_._2): _*)

  /** Twin of `winnow_fps` with the `Dedup.windowTokens`/`windowStride`
    * geometry: `df` plus a `wfps_hof` column — the md5 of every window of
    * the single-space split, then the distinct minima of each stride of
    * consecutive windows, in first-occurrence order. Fewer tokens than one
    * window give an empty array, NULL text NULL.
    */
  def withWinnowFpsHof(df: DataFrame): DataFrame = {
    val (w, s) = (Dedup.windowTokens, Dedup.windowStride)
    df.withColumn("toks", split(col("text"), " "))
      // IF keeps the window sequence (and slice at index 0) off short texts
      .withColumn("wfps", expr(
        s"""IF(size(toks) >= $w,
           |  transform(sequence(0, size(toks) - $w),
           |    i -> md5(concat_ws(' ', slice(toks, i + 1, $w)))),
           |  array())""".stripMargin))
      .withColumn("wfps_hof", when(col("text").isNull, lit(null))
        .when(size(col("wfps")) > 0, expr(
          s"""array_distinct(transform(sequence(1, greatest(size(wfps) - ${s - 1}, 1)),
             |  i -> array_min(slice(wfps, i, $s))))""".stripMargin))
        .otherwise(col("wfps")))
      .drop("toks", "wfps")
  }

  /** Twin of `text_char_pairs`: every adjacent two-code-point pair of every
    * single-space token of length >= 2, in token then position order.
    */
  def textCharPairsHof: Column =
    flatten(transform(filter(split(col("text"), " "), w => length(w) >= 2),
      w => transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2)))))

  /** Twin of `Dedup.simhash` (`simhash16`): one md5 `transform` plus one
    * `filter` traversal per signature bit.
    */
  def simhashHof(doc: DataFrame): DataFrame = {
    val withHashes = doc.select(col("doc_id"),
      expr("transform(split(text, ' '), t -> CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT))")
        .as("hs"))
    val bitTerms = (0 until Dedup.simhashBits).map { b =>
      when(expr(s"size(filter(hs, h -> ((h >> $b) & 1) = 1)) * 2 > size(hs)"), 1 << b)
        .otherwise(0)
    }
    withHashes.select(col("doc_id"),
      bitTerms.reduce(_ + _).cast("int").as("simhash"))
  }

  /** Twin of `Similarity.pqDistArr` (`pq_sub_dists`): the 16-branch
    * expression tree per subspace, same op order `(x2 - (2 * dot)) + c2`.
    */
  def pqDistArrHof(cents: Array[(Long, Array[Double])], j: Int): Column = {
    import graft.spark.VectorFunctions.vecDot
    import Similarity.{pqCodes, pqSubDim}
    val xs = slice(col("embedding"), j * pqSubDim + 1, pqSubDim)
    val x2 = vecDot(xs, xs)
    val ds = (0 until pqCodes).map { c =>
      val cs = cents(c)._2.slice(j * pqSubDim, (j + 1) * pqSubDim)
      val c2 = cs.foldLeft(0d)((acc, x) => acc + x * x)
      (x2 - lit(2.0) * vecDot(xs, typedlit(cs.toSeq))) + lit(c2)
    }
    array(ds: _*)
  }
}
