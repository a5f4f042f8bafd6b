package graft

import graft.operators.{Dedup, Multimodal, Packing, Sampling, Similarity, TextAnalysis}
import graft.spark.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators as driver queries, each with a DuckDB
  * oracle twin: dedup (exact / n-gram Jaccard / MinHash+LSH / SimHash /
  * embedding-cosine), ANN (brute force + LSH), text analysis, multimodal
  * metadata.
  */
object TrainingQueries {

  /** Shared DuckDB fragment: explicit sequential-double cosine between two
    * FLOAT[64] lists `a` and `b` (the unrounded `dot / sqrt(na * nb)` of
    * Similarity.roundedCos, op-for-op).
    */
  private def duckCosine(a: String, b: String): String = {
    def sum(e: String) = s"list_sum(list_transform(range(1, 65), i -> $e))"
    val dot = sum(s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")
    val na = sum(s"CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)")
    val nb = sum(s"CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")
    s"($dot) / sqrt(($na) * ($nb))"
  }

  /** Shared DuckDB CTE chain for product quantization: doubles view `e`,
    * per-subspace codebook `cb2` (first-[[Similarity.pqCodes]] vectors,
    * sliced), per-(vec, subspace) subvectors+norms `xx`, full distance
    * table `d` (op order `((x2 - 2*dot) + c2)` — the Spark expansion
    * verbatim, `list_sum` = the sequential VecKernel), and the argmin
    * `codes` (row_number tiebreak on code = Spark's first-occurrence
    * array_position).
    */
  private def duckPqCtes: String = {
    val m = Similarity.pqSubspaces
    val sd = Similarity.pqSubDim
    val k = Similarity.pqCodes
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cb AS (
       |  SELECT c.vec_id AS code, CAST(t.j AS INTEGER) AS j,
       |    list_slice(c.emb, t.j * $sd + 1, t.j * $sd + $sd) AS cs
       |  FROM (SELECT * FROM e WHERE vec_id < $k) c,
       |    unnest(range(0, $m)) AS t(j)),
       |cb2 AS (
       |  SELECT code, j, cs,
       |    list_sum(list_transform(range(1, ${sd + 1}), i -> cs[i] * cs[i])) AS c2
       |  FROM cb),
       |x AS (
       |  SELECT e.vec_id, CAST(t.j AS INTEGER) AS j,
       |    list_slice(e.emb, t.j * $sd + 1, t.j * $sd + $sd) AS xs
       |  FROM e, unnest(range(0, $m)) AS t(j)),
       |xx AS (
       |  SELECT vec_id, j, xs,
       |    list_sum(list_transform(range(1, ${sd + 1}), i -> xs[i] * xs[i])) AS x2
       |  FROM x),
       |d AS (
       |  SELECT x.vec_id, x.j, cb2.code,
       |    ((x.x2 - 2 * list_sum(list_transform(range(1, ${sd + 1}),
       |      i -> x.xs[i] * cb2.cs[i]))) + cb2.c2) AS dist
       |  FROM xx x JOIN cb2 ON x.j = cb2.j),
       |a AS (
       |  SELECT vec_id, j, code,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
       |  FROM d),
       |codes AS (SELECT vec_id, j, code FROM a WHERE rn = 1)""".stripMargin
  }

  /** Shared DuckDB CTE chain for conversation-level embedding pooling:
    * fixed-point per-dim sums (`pd`) and the rebuilt mean vectors
    * (`pool`) — `s / (n * scale.0)` is the Spark emission op-for-op.
    */
  private def duckPooledCtes: String = {
    val convs = graft.spark.Transcripts.Conversations
    val scale = Similarity.kmeansScale
    s"""qv AS (
       |  SELECT vec_id % $convs AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
       |  FROM embeddings),
       |pd AS (
       |  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
       |    CAST(sum(q[t.i]) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |  FROM qv, unnest(range(1, ${Similarity.dims + 1})) AS t(i)
       |  GROUP BY vec_id, t.i),
       |pool AS (
       |  SELECT vec_id, any_value(n) AS n_vecs,
       |    list(s / (n * $scale.0) ORDER BY dim) AS emb
       |  FROM pd GROUP BY vec_id)""".stripMargin
  }

  /** DuckDB fragment: `iters` chained fixed-point Lloyd iterations over
    * relation `src(vec_id, embCol)`, starting from the first-K seed
    * (`cent0`) and ending at `cent<iters>` — each iteration is the
    * ann_kmeans_step twin (round-6 cosine assignment with lowest-cell
    * tiebreak, floor(x*2^20) BIGINT sums) plus the empty-cell fallback
    * (cells with no members keep their previous centroid, expressed as a
    * LEFT JOIN + COALESCE). Integer accumulation keeps every iteration —
    * and so the whole chain — bit-identical to the Spark loop.
    */
  private def duckKmeansIters(src: String, embCol: String, iters: Int): String = {
    val k = Similarity.ivfCells
    val scale = Similarity.kmeansScale
    val seed =
      s"""cent0 AS (
         |  SELECT vec_id AS cell, list_transform($embCol, x -> CAST(x AS DOUBLE)) AS ce
         |  FROM $src WHERE vec_id < $k)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""sc$i AS (
         |  SELECT s.vec_id, s.$embCol AS embedding, c.cell,
         |    round(${duckCosine(s"s.$embCol", "c.ce")}, 6) AS ccos
         |  FROM $src s, cent${i - 1} c),
         |a$i AS (
         |  SELECT vec_id, embedding, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
         |  FROM sc$i),
         |m$i AS (
         |  SELECT cell, d AS dim,
         |    CAST(sum(CAST(floor(CAST(embedding[d] AS DOUBLE) * $scale) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * $scale.0) AS mean
         |  FROM a$i, range(1, 65) t(d) WHERE rn = 1 GROUP BY cell, d),
         |cent$i AS (
         |  SELECT p.cell, COALESCE(n.ce, p.ce) AS ce
         |  FROM cent${i - 1} p LEFT JOIN
         |    (SELECT cell, list(mean ORDER BY dim) AS ce FROM m$i GROUP BY cell) n
         |    ON n.cell = p.cell)""".stripMargin
    }
    (seed +: steps).mkString(",\n")
  }

  /** DuckDB fragment: distinct word-3-gram shingles of `text`. */
  private val duckShingles =
    """list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))""".stripMargin

  private val duckDupBase =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0)""".stripMargin

  /** DuckDB twin of Dedup.minhashK over the pre-hashed `hcat` column. */
  private def duckMinhash(k: Int): String =
    s"CAST(list_min(list_transform(hcat, s -> CAST('0x' || substr(s, ${8 * k + 1}, 8) AS BIGINT))) AS VARCHAR)"

  /** DuckDB twin of the hcat stage: 4 md5 digests per shingle, concatenated. */
  private val duckHcat =
    "list_transform(grams, g -> md5('0:' || g) || md5('1:' || g) || md5('2:' || g) || md5('3:' || g))"

  /** DuckDB twins of the minhash band keys (shared by the LSH, verify, and
    * composed-pipeline oracles).
    */
  private lazy val duckBandExprs: String = {
    import graft.operators.Dedup.{minhashBandCount, minhashRowsPerBand}
    (0 until minhashBandCount).map { b =>
      val rows = (0 until minhashRowsPerBand)
        .map(r => duckMinhash(b * minhashRowsPerBand + r))
        .mkString(" || '_' || ")
      s"md5($rows) AS band$b"
    }.mkString(",\n  ")
  }

  private lazy val duckAnyBand: String =
    (0 until graft.operators.Dedup.minhashBandCount)
      .map(b => s"a.band$b = b.band$b").mkString(" OR ")

  private def duckPlaneDot(j: Int): String =
    s"""list_sum(list_transform(range(1, 65),
       |  n -> CAST(embedding[n] AS DOUBLE) * (CASE WHEN (n * ${j + 3}) % 7 <= 3 THEN 1.0 ELSE -1.0 END)))""".stripMargin

  /** DuckDB twin of TextAnalysis.langScores: per-language stopword-hit
    * counts over `text` as columns c_en..c_fr (cast to INTEGER when the
    * counts are themselves output columns). ONE definition feeding every
    * language-classifying oracle — a stopword-list or tiebreak change now
    * syncs all twins at once instead of hand-editing four SQL copies.
    */
  private def duckLangCounts(castInt: Boolean = false): String =
    TextAnalysis.langStopwords.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      val c = s"len(list_filter(string_split(text, ' '), x -> x IN ($inList)))"
      (if (castInt) s"CAST($c AS INTEGER)" else c) + s" AS c_$lang"
    }.mkString(",\n    ")

  /** DuckDB twin of TextAnalysis.langPredicted (identical tiebreak order). */
  private val duckLangCase: String =
    """CASE
      |      WHEN c_en = 0 AND c_de = 0 AND c_es = 0 AND c_fr = 0 THEN 'und'
      |      WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
      |      WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
      |      WHEN c_es >= c_fr THEN 'es'
      |      ELSE 'fr' END""".stripMargin

  /** DuckDB CTE chain computing the minhash band signature of `src`
    * (doc_id, text) as `<prefix>sig(doc_id, band0..band3)` — shared by the
    * incremental-dedup oracle's two corpus sides.
    */
  private def duckSigCtes(prefix: String, src: String): String =
    s"""${prefix}g AS (
       |  SELECT doc_id, $duckShingles AS grams
       |  FROM $src WHERE len(string_split(text, ' ')) >= 3),
       |${prefix}h AS (SELECT doc_id, $duckHcat AS hcat FROM ${prefix}g),
       |${prefix}sig AS (
       |  SELECT doc_id,
       |  $duckBandExprs
       |  FROM ${prefix}h)""".stripMargin

  /** The band columns of `<sig>` unpivoted to (band_idx, band_val) rows. */
  private def duckBandRows(sig: String, withDoc: Boolean): String =
    (0 until graft.operators.Dedup.minhashBandCount).map { b =>
      s"SELECT ${if (withDoc) "doc_id, " else ""}$b AS band_idx, band$b AS band_val FROM $sig"
    }.mkString("\n  UNION ALL\n  ")

  /** Shared CTE chain ending in `vpairs(a_id, b_id, jaccard)` — the
    * verified minhash near-dup pairs (twin of Dedup.minhashJaccard), used
    * by both the verify oracle and the cluster oracle's recursion base.
    */
  private lazy val duckVerifiedPairCtes: String = {
    val jac = """round(len(list_intersect(a_grams, b_grams)) * 1.0 /
                |        (len(a_grams) + len(b_grams) - len(list_intersect(a_grams, b_grams))), 4)""".stripMargin
    s"""base AS $duckDupBase,
       |g AS (
       |  SELECT doc_id, $duckShingles AS grams
       |  FROM base WHERE len(string_split(text, ' ')) >= 3),
       |h AS (SELECT doc_id, grams, $duckHcat AS hcat FROM g),
       |sig AS (
       |  SELECT doc_id, grams,
       |  $duckBandExprs
       |  FROM h),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.grams AS a_grams, b.grams AS b_grams
       |  FROM sig a JOIN sig b ON ($duckAnyBand) AND a.doc_id < b.doc_id),
       |vpairs AS (
       |  SELECT a_id, b_id, $jac AS jaccard
       |  FROM cand WHERE $jac >= 0.5)""".stripMargin
  }

  /** Shared recursive CTEs over `vpairs` ending in `clusters(id,
    * cluster_id)` — the connected-components fixpoint (twin of
    * Dedup.clustersFromPairs; requires WITH RECURSIVE).
    */
  private val duckClusterCtes: String =
    """edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM vpairs
      |  UNION
      |  SELECT b_id AS src, a_id AS dst FROM vpairs),
      |reach(id, label) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
      |clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Shared training CTEs for the classifier twins: label each doc with
    * the blocklist verdict, explode tokens to hash buckets, count
    * occurrences per (bucket, label), and total them — the weight is the
    * integer cross-difference `n_pos*T_neg - n_neg*T_pos` both twins
    * derive from `cb`/`tot`.
    */
  private lazy val duckClassifierTrainCtes: String = {
    val terms = TextAnalysis.blockedTerms.map(t => s"'$t'").mkString(", ")
    val srcs = TextAnalysis.blockedSources.map(s0 => s"'$s0'").mkString(", ")
    s"""lab AS (
       |  SELECT (source NOT IN ($srcs) AND len(list_filter(string_split(text, ' '),
       |      t -> t IN ($terms))) = 0) AS pos, text
       |  FROM documents),
       |tk AS (
       |  SELECT pos,
       |    (CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)
       |      % ${TextAnalysis.classifierBuckets}) AS bucket
       |  FROM (SELECT pos, unnest(string_split(text, ' ')) AS t FROM lab)),
       |cb AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
       |  FROM tk GROUP BY bucket),
       |tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM cb)""".stripMargin
  }

  /** BPE-training twin: `bpeTrainRounds` chained rounds — per round, the
    * pair counts of the (previous-round-merged) corpus, the top-1 pair by
    * (count desc, pair asc), and the merge applied via `replace` with the
    * same private-use-area symbol the Spark side uses. Binary UTF-8
    * collation and UTF-16 code-unit order agree on BMP code points, so
    * the pair tie-break is engine-independent.
    */
  private lazy val duckBpeTrainSql: String = {
    val rounds = TextAnalysis.bpeTrainRounds
    val ctes = new StringBuilder("WITH d0 AS (SELECT text FROM documents)")
    for (r <- 1 to rounds) {
      ctes.append(s""",
        |w$r AS (SELECT unnest(string_split(text, ' ')) AS w FROM d${r - 1}),
        |p$r AS (
        |  SELECT pair, count(*) AS n FROM (
        |    SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
        |    FROM w$r WHERE len(w) >= 2)
        |  GROUP BY 1),
        |t$r AS (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1)""".stripMargin)
      if (r < rounds) ctes.append(s""",
        |d$r AS (
        |  SELECT replace(text, (SELECT pair FROM t$r), chr(${0xE000 + r})) AS text
        |  FROM d${r - 1})""".stripMargin)
    }
    val sel = (1 to rounds)
      .map(r => s"SELECT $r AS round, pair, n FROM t$r")
      .mkString("\n  UNION ALL ")
    s"""${ctes.toString}
       |SELECT CAST(round AS INTEGER) AS round, pair, CAST(n AS BIGINT) AS n
       |FROM (
       |  $sel)
       |ORDER BY round""".stripMargin
  }

  /** [[duckBpeTrainSql]]'s CTE chain carried per-document (doc_id rides
    * the d-chain, EVERY round's replace applied including the last) —
    * the encoding twin.
    */
  private lazy val duckBpeApplySql: String = {
    val rounds = TextAnalysis.bpeTrainRounds
    val ctes = new StringBuilder("WITH d0 AS (SELECT doc_id, text FROM documents)")
    for (r <- 1 to rounds) {
      ctes.append(s""",
        |w$r AS (SELECT unnest(string_split(text, ' ')) AS w FROM d${r - 1}),
        |p$r AS (
        |  SELECT pair, count(*) AS n FROM (
        |    SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
        |    FROM w$r WHERE len(w) >= 2)
        |  GROUP BY 1),
        |t$r AS (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
        |d$r AS (
        |  SELECT doc_id, replace(text, (SELECT pair FROM t$r), chr(${0xE000 + r})) AS text
        |  FROM d${r - 1})""".stripMargin)
    }
    s"""${ctes.toString}
       |SELECT d0.doc_id, CAST(length(d0.text) AS BIGINT) AS n_chars,
       |  CAST(length(d$rounds.text) AS BIGINT) AS n_chars_encoded,
       |  CAST(length(d0.text) - length(d$rounds.text) AS BIGINT) AS n_merged,
       |  md5(d$rounds.text) AS encoded_fp
       |FROM d0 JOIN d$rounds USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin shared by the batch and streaming incremental-dedup
    * queries (the streaming form is the same operator fed by a stream).
    */
  private lazy val duckIncrementalSql: String =
    s"""WITH existing AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         |incoming AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, text FROM existing WHERE doc_id % 5 = 0),
         |${duckSigCtes("e", "existing")},
         |${duckSigCtes("i", "incoming")},
         |ebands AS (
         |  SELECT DISTINCT band_idx, band_val FROM (
         |  ${duckBandRows("esig", withDoc = false)})),
         |ibands AS (
         |  ${duckBandRows("isig", withDoc = true)}),
         |neardup AS (
         |  SELECT DISTINCT i.doc_id FROM ibands i JOIN ebands e USING (band_idx, band_val)),
         |exactdup AS (
         |  SELECT DISTINCT i.doc_id
         |  FROM (SELECT doc_id, md5(text) AS h FROM incoming) i
         |  JOIN (SELECT DISTINCT md5(text) AS h FROM existing) e USING (h))
         |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars
         |FROM incoming
         |WHERE doc_id NOT IN (SELECT doc_id FROM neardup UNION SELECT doc_id FROM exactdup)
         |ORDER BY doc_id""".stripMargin

  /** Two-epoch twin of [[duckIncrementalSql]]: epoch-1 survivors computed
    * with the same hash/band semantics, their signatures UNIONED into the
    * artifact sets (the updateArtifacts append), epoch 2 checked against
    * the merged sets.
    */
  private lazy val duckIncrementalEpochSql: String =
    s"""WITH existing AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
       |epoch1 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
       |epoch2 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 6000000 AS doc_id, text FROM epoch1 WHERE doc_id % 7 = 0),
       |${duckSigCtes("e", "existing")},
       |${duckSigCtes("p", "epoch1")},
       |ebands AS (
       |  SELECT DISTINCT band_idx, band_val FROM (
       |  ${duckBandRows("esig", withDoc = false)})),
       |pbands AS (
       |  ${duckBandRows("psig", withDoc = true)}),
       |pnear AS (
       |  SELECT DISTINCT p.doc_id FROM pbands p
       |  JOIN ebands e USING (band_idx, band_val)),
       |pexact AS (
       |  SELECT DISTINCT p.doc_id
       |  FROM (SELECT doc_id, md5(text) AS h FROM epoch1) p
       |  JOIN (SELECT DISTINCT md5(text) AS h FROM existing) e USING (h)),
       |kept1 AS (
       |  SELECT doc_id, text FROM epoch1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM pnear UNION SELECT doc_id FROM pexact)),
       |${duckSigCtes("k", "kept1")},
       |mbands AS (
       |  SELECT DISTINCT band_idx, band_val FROM (
       |  ${duckBandRows("esig", withDoc = false)}
       |  UNION ALL
       |  ${duckBandRows("ksig", withDoc = false)})),
       |mhash AS (
       |  SELECT DISTINCT md5(text) AS h FROM existing
       |  UNION SELECT DISTINCT md5(text) AS h FROM kept1),
       |${duckSigCtes("i", "epoch2")},
       |ibands AS (
       |  ${duckBandRows("isig", withDoc = true)}),
       |inear AS (
       |  SELECT DISTINCT i.doc_id FROM ibands i
       |  JOIN mbands m USING (band_idx, band_val)),
       |iexact AS (
       |  SELECT DISTINCT i.doc_id
       |  FROM (SELECT doc_id, md5(text) AS h FROM epoch2) i JOIN mhash USING (h))
       |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars
       |FROM epoch2
       |WHERE doc_id NOT IN (SELECT doc_id FROM inear UNION SELECT doc_id FROM iexact)
       |ORDER BY doc_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("text_tokens", (s, dir) =>
        TextAnalysis.tokenCounts(Transcripts.documents(s, dir)).orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.subtokenPattern}')) AS INTEGER)
         |    AS n_subtokens,
         |  CAST(length(text) AS INTEGER) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin),

    Query("text_quality", (s, dir) =>
        TextAnalysis.quality(Transcripts.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        |  round(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) * 1.0
        |        / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |  round((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        |        / len(string_split(text, ' ')), 4) AS mean_token_len,
        |  round(len(list_distinct(string_split(text, ' '))) * 1.0
        |        / len(string_split(text, ' ')), 4) AS uniq_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("text_langid", (s, dir) =>
        TextAnalysis.langId(Transcripts.documents(s, dir)).orderBy("doc_id"),
      s"""WITH c AS (SELECT doc_id, ${duckLangCounts(castInt = true)} FROM documents)
         |SELECT doc_id, c_en, c_de, c_es, c_fr,
         |  $duckLangCase AS predicted
         |FROM c ORDER BY doc_id""".stripMargin),

    Query("text_fingerprint", (s, dir) =>
        TextAnalysis.fingerprint(Transcripts.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id, md5(replace(text, ' ', '')) AS fp,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ord(substring(text, i, 1)) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS BIGINT) AS rolling_fp,
        |  CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin),

    // PII scrubbing over the injected corpus: redaction counts + scrubbed
    // fingerprint (pure narrow map)
    Query("text_scrub_pii", (s, dir) =>
        TextAnalysis.scrubPii(Transcripts.documents(s, dir)).orderBy("doc_id"),
      {
        import graft.operators.TextAnalysis.{emailPattern, phonePattern}
        s"""WITH b AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0
           |      THEN text || ' contact bob.' || CAST(doc_id AS VARCHAR) || '@mail.example.com asap'
           |      ELSE text END AS t1
           |  FROM documents),
           |b2 AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 13 = 0
           |      THEN t1 || ' or Bob.Roe+' || CAST(doc_id AS VARCHAR) || '@Mail-Host.Example.COM too'
           |      ELSE t1 END AS t2
           |  FROM b),
           |b3 AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 11 = 0 THEN t2 || ' call 555-123-4567 now' ELSE t2 END AS t3
           |  FROM b2),
           |inj AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 17 = 0 THEN t3 || ' or (555) 987-6543 maybe' ELSE t3 END AS text
           |  FROM b3),
           |s AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(text, '$emailPattern')) AS INTEGER) AS n_emails,
           |    CAST(len(regexp_extract_all(text, '$phonePattern')) AS INTEGER) AS n_phones,
           |    regexp_replace(regexp_replace(text, '$emailPattern', '<EMAIL>', 'g'),
           |      '$phonePattern', '<PHONE>', 'g') AS scrubbed
           |  FROM inj)
           |SELECT doc_id, n_emails, n_phones, md5(scrubbed) AS scrubbed_fp,
           |  CAST(length(scrubbed) AS INTEGER) AS n_chars_scrubbed
           |FROM s ORDER BY doc_id""".stripMargin
      }),

    // repetition signal: duplicated word-3-gram fraction (narrow map)
    Query("text_repetition", (s, dir) =>
        TextAnalysis.repetition(Transcripts.documents(s, dir)).orderBy("doc_id"),
      s"""WITH t AS (
         |  SELECT doc_id,
         |    greatest(len(string_split(text, ' ')) - 2, 0) AS n_grams,
         |    CASE WHEN len(string_split(text, ' ')) < 3 THEN 0
         |         ELSE len($duckShingles) END AS n_distinct
         |  FROM documents)
         |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
         |  CAST(n_distinct AS INTEGER) AS n_distinct,
         |  CASE WHEN n_grams = 0 THEN 0.0
         |       ELSE round(1.0 - n_distinct * 1.0 / n_grams, 4) END AS dup_gram_ratio
         |FROM t ORDER BY doc_id""".stripMargin),

    // corpus-frequency LM scoring: top-K vocab (one word-count shuffle +
    // driver top-K) -> broadcast join -> per-doc OOV/frequency signals
    Query("text_lm_score", (s, dir) =>
        TextAnalysis.lmScore(Transcripts.documents(s, dir)).orderBy("doc_id"),
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |v AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
         |  ORDER BY cnt DESC, token LIMIT ${TextAnalysis.lmVocabSize}),
         |d AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |j AS (
         |  SELECT d.doc_id, v.cnt FROM d LEFT JOIN v USING (token)),
         |g AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS INTEGER) AS n_tokens,
         |    CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_oov,
         |    CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS sum_freq
         |  FROM j GROUP BY 1)
         |SELECT doc_id, n_tokens, n_oov, sum_freq,
         |  CASE WHEN n_tokens = n_oov THEN 0.0
         |       ELSE round(sum_freq * 1.0 / (n_tokens - n_oov), 4) END AS mean_invocab_freq
         |FROM g ORDER BY doc_id""".stripMargin),

    // C4-style term + source blocklist filtering (pure narrow map)
    Query("text_blocklist", (s, dir) =>
        TextAnalysis.blocklist(Transcripts.documents(s, dir)).orderBy("doc_id"),
      {
        val terms = TextAnalysis.blockedTerms.map(t => s"'$t'").mkString(", ")
        val srcs = TextAnalysis.blockedSources.map(s0 => s"'$s0'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, source,
           |    CAST(len(list_filter(string_split(text, ' '),
           |      t -> t IN ($terms))) AS INTEGER) AS n_blocked_terms
           |  FROM documents)
           |SELECT doc_id, source, n_blocked_terms,
           |  (source NOT IN ($srcs) AND n_blocked_terms = 0) AS keep
           |FROM t ORDER BY doc_id""".stripMargin
      }),

    // BPE first-merge pair counts (map-side explode collapsed by partial
    // agg into an alphabet^2 key space before the shuffle)
    Query("text_bpe_pairs", (s, dir) =>
        TextAnalysis.bpePairStats(Transcripts.documents(s, dir))
          .orderBy("rank"),
      s"""WITH w AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |p AS (
         |  SELECT unnest(list_transform(range(1, len(w)),
         |    i -> substr(w, i, 2))) AS pair
         |  FROM w WHERE len(w) >= 2),
         |c AS (SELECT pair, count(*) AS n FROM p GROUP BY 1),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY n DESC, pair) AS rank
         |  FROM c)
         |SELECT CAST(rank AS INTEGER) AS rank, pair, CAST(n AS BIGINT) AS n
         |FROM r WHERE rank <= ${TextAnalysis.bpeTopK} ORDER BY rank""".stripMargin),

    // hashed-feature linear quality classifier (pure narrow map)
    Query("text_classifier", (s, dir) =>
        TextAnalysis.classifierScore(Transcripts.documents(s, dir))
          .orderBy("doc_id"),
      {
        // the constant splitmix-mixed weight table, inlined like the Spark
        // plan; token hash = first 4 md5 hex chars (the simhash convention)
        val w = (0 until TextAnalysis.classifierBuckets)
          .map(TextAnalysis.classifierWeight).mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           |    CAST(list_sum(list_transform(string_split(text, ' '),
           |      t -> ($w)[(CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)
           |                 % ${TextAnalysis.classifierBuckets}) + 1]))
           |      AS INTEGER) AS score
           |  FROM documents)
           |SELECT doc_id, n_tokens, score, (score >= 0) AS keep
           |FROM t ORDER BY doc_id""".stripMargin
      }),

    // classifier TRAINING: distill the blocklist verdict into per-bucket
    // integer cross-difference weights (one tiny-key groupBy + B-row
    // collect — the k-means loop pattern on the classifier)
    Query("classifier_train", (s, dir) =>
        TextAnalysis.classifierTrain(Transcripts.documents(s, dir))
          .orderBy("bucket"),
      s"""WITH $duckClassifierTrainCtes
         |SELECT CAST(c.bucket AS INTEGER) AS bucket, c.n_pos, c.n_neg,
         |  CAST(c.n_pos * tot.tn - c.n_neg * tot.tp AS BIGINT) AS w
         |FROM cb c, tot ORDER BY bucket""".stripMargin),

    // scoring with the TRAINED weights inlined as plan literals (the
    // same zero-Exchange narrow map as the untrained classifier)
    Query("text_classifier_trained", (s, dir) => {
        val doc = Transcripts.documents(s, dir)
        TextAnalysis.classifierScoreTrained(doc, TextAnalysis.trainClassifier(doc))
          .orderBy("doc_id")
      },
      // the same training CTEs rebuild the weight table; scoring is an
      // exploded-token left join against it (the Spark side inlines the
      // collected weights as literals — identical values by construction)
      s"""WITH $duckClassifierTrainCtes,
         |wt AS (
         |  SELECT c.bucket, CAST(c.n_pos * tot.tn - c.n_neg * tot.tp AS BIGINT) AS w
         |  FROM cb c, tot),
         |dt AS (
         |  SELECT doc_id,
         |    (CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)
         |      % ${TextAnalysis.classifierBuckets}) AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |s AS (
         |  SELECT dt.doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
         |    CAST(sum(coalesce(wt.w, 0)) AS BIGINT) AS score
         |  FROM dt LEFT JOIN wt ON wt.bucket = dt.bucket
         |  GROUP BY dt.doc_id)
         |SELECT doc_id, n_tokens, score, (score >= 0) AS keep
         |FROM s ORDER BY doc_id""".stripMargin),

    // BPE tokenizer training: 3 merge rounds (count pairs -> top-1 ->
    // narrow replace), merged symbols feed later rounds' pair counts
    Query("text_bpe_train", (s, dir) =>
        TextAnalysis.bpeTrain(Transcripts.documents(s, dir))
          .orderBy("round"),
      duckBpeTrainSql),

    // BPE ENCODING with the trained merges: replace literals applied in
    // round order (cascading), a pure narrow map; n_merged counts applied
    // occurrences, encoded_fp pins the encoded bytes
    Query("text_bpe_apply", (s, dir) =>
        TextAnalysis.bpeApply(Transcripts.documents(s, dir))
          .orderBy("doc_id"),
      duckBpeApplySql),

    // fixed-length chunking with overlap (narrow posexplode, no shuffle)
    Query("text_chunks", (s, dir) =>
        Packing.chunkDocuments(Transcripts.documents(s, dir))
          .orderBy("doc_id", "chunk_idx"),
      {
        import graft.operators.Packing.{chunkTokens, chunkStride}
        s"""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |c AS (
           |  SELECT doc_id, len(toks) AS n, toks,
           |    CASE WHEN len(toks) <= $chunkTokens THEN 1
           |         ELSE (len(toks) - $chunkTokens + $chunkStride - 1) // $chunkStride + 1
           |    END AS n_chunks
           |  FROM t),
           |u AS (
           |  SELECT doc_id, n,
           |    CAST(unnest(range(0, n_chunks)) AS INTEGER) AS chunk_idx,
           |    unnest(list_transform(range(0, n_chunks),
           |      i -> md5(array_to_string(
           |        toks[CAST(i * $chunkStride + 1 AS INTEGER) : CAST(i * $chunkStride + $chunkTokens AS INTEGER)],
           |        ' ')))) AS chunk_fp
           |  FROM c)
           |SELECT doc_id, chunk_idx,
           |  CAST(chunk_idx * $chunkStride AS INTEGER) AS start_token,
           |  CAST(least($chunkTokens, n - chunk_idx * $chunkStride) AS INTEGER) AS n_chunk_tokens,
           |  chunk_fp
           |FROM u ORDER BY doc_id, chunk_idx""".stripMargin
      }),

    // per-(source, language) corpus datasheet (one partial-agg groupBy)
    Query("corpus_stats", (s, dir) =>
        TextAnalysis.corpusStats(Transcripts.documents(s, dir))
          .orderBy("source", "predicted"),
      s"""WITH s AS (
         |  SELECT source, text,
         |    ${duckLangCounts()}
         |  FROM documents),
         |p AS (
         |  SELECT source,
         |    $duckLangCase AS predicted,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM s)
         |SELECT source, predicted,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  round(sum(n_tokens) * 1.0 / count(*), 4) AS mean_tokens,
         |  CAST(sum(CASE WHEN n_tokens < ${TextAnalysis.shortDocTokens} THEN 1 ELSE 0 END) AS BIGINT) AS n_short
         |FROM p GROUP BY 1, 2 ORDER BY source, predicted""".stripMargin),

    // per-source length quantiles (exact percentile; dyadic percentages
    // over small-int token counts -> bit-exact across both engines)
    Query("source_quantiles", (s, dir) =>
        TextAnalysis.sourceQuantiles(Transcripts.documents(s, dir))
          .orderBy("source"),
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  quantile_cont(len(string_split(text, ' ')), 0.25) AS p25_tokens,
        |  quantile_cont(len(string_split(text, ' ')), 0.5) AS p50_tokens,
        |  quantile_cont(len(string_split(text, ' ')), 0.75) AS p75_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // filter-funnel datasheet: first-rejecting-stage attribution across
    // the narrow quality rules (one scan + one O(stages) agg)
    Query("quality_funnel", (s, dir) =>
        TextAnalysis.qualityFunnel(Transcripts.documents(s, dir))
          .orderBy("stage_idx"),
      {
        val terms = TextAnalysis.blockedTerms.map(t => s"'$t'").mkString(", ")
        val srcs = TextAnalysis.blockedSources.map(s0 => s"'$s0'").mkString(", ")
        val w = (0 until TextAnalysis.classifierBuckets)
          .map(TextAnalysis.classifierWeight).mkString("[", ", ", "]")
        val stages = TextAnalysis.funnelStages
          .map { case (i, n) => s"($i, '$n')" }.mkString(", ")
        s"""WITH sig AS (
           |  SELECT doc_id,
           |    (source NOT IN ($srcs) AND len(list_filter(string_split(text, ' '),
           |       t -> t IN ($terms))) = 0) AS block_ok,
           |    len(string_split(text, ' ')) >= ${TextAnalysis.shortDocTokens} AS len_ok,
           |    (CASE WHEN greatest(len(string_split(text, ' ')) - 2, 0) = 0 THEN 0.0
           |          ELSE round(1.0 - len($duckShingles) * 1.0 /
           |                 (len(string_split(text, ' ')) - 2), 4)
           |     END) <= ${TextAnalysis.funnelRepetitionMax} AS rep_ok,
           |    list_sum(list_transform(string_split(text, ' '),
           |      t -> ($w)[(CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)
           |                 % ${TextAnalysis.classifierBuckets}) + 1])) >= 0 AS cls_ok
           |  FROM documents),
           |death AS (
           |  SELECT CASE WHEN NOT block_ok THEN 1 WHEN NOT len_ok THEN 2
           |              WHEN NOT rep_ok THEN 3 WHEN NOT cls_ok THEN 4
           |              ELSE 5 END AS stage_idx
           |  FROM sig),
           |counts AS (SELECT stage_idx, count(*) AS n FROM death GROUP BY 1),
           |stages(stage_idx, stage) AS (VALUES $stages),
           |j AS (
           |  SELECT s.stage_idx, s.stage, COALESCE(c.n, 0) AS n_docs
           |  FROM stages s LEFT JOIN counts c USING (stage_idx))
           |SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
           |  CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(sum(n_docs) OVER ()
           |    - sum(CASE WHEN stage_idx <= 4 THEN n_docs ELSE 0 END)
           |        OVER (ORDER BY stage_idx) AS BIGINT) AS n_remaining
           |FROM j ORDER BY stage_idx""".stripMargin
      }),

    // deterministic hash train/val/test split (narrow map, no shuffle)
    Query("sample_train_split", (s, dir) =>
        Sampling.trainSplit(Transcripts.documents(s, dir)).orderBy("doc_id"),
      s"""WITH s AS (
         |  SELECT doc_id, text,
         |    ${duckLangCounts()}
         |  FROM documents),
         |p AS (
         |  SELECT doc_id,
         |    $duckLangCase AS predicted
         |  FROM s),
         |h AS (
         |  SELECT doc_id, predicted,
         |    CAST('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      * 1.0 / 4294967296 AS u
         |  FROM p)
         |SELECT doc_id, predicted,
         |  CASE WHEN u < ${Sampling.splitTrain} THEN 'train'
         |       WHEN u < ${Sampling.splitVal} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin),

    // deterministic training-order shuffle: salted-hash permutation,
    // shard-local ranking (terasort shape, no global sort)
    Query("sample_shuffle", (s, dir) =>
        Sampling.shuffleOrder(Transcripts.documents(s, dir))
          .orderBy("shard", "pos"),
      s"""WITH k AS (
         |  SELECT doc_id,
         |    md5('graft-shuffle-' || CAST(doc_id AS VARCHAR)) AS k
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, k,
         |    CAST('0x' || substr(k, 1, 2) AS INTEGER) % ${Sampling.shuffleShards} AS shard
         |  FROM k)
         |SELECT doc_id, CAST(shard AS INTEGER) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
         |FROM s ORDER BY shard, pos""".stripMargin),

    // token-budget mixture selection: salted-hash priority order within
    // (language, shard) strata until the shard budget fills (one shuffle)
    Query("sample_mixture_budget", (s, dir) =>
        Sampling.mixtureBudget(Transcripts.documents(s, dir)).orderBy("doc_id"),
      s"""WITH s AS (
         |  SELECT doc_id, text,
         |    ${duckLangCounts()}
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, text,
         |    $duckLangCase AS predicted
         |  FROM s),
         |h AS (
         |  SELECT doc_id, predicted,
         |    CAST(doc_id % ${Sampling.budgetShards} AS INTEGER) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST('0x' || substr(md5('graft-budget:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      * 1.0 / 4294967296 AS u
         |  FROM p),
         |c AS (
         |  SELECT *,
         |    COALESCE(sum(n_tokens) OVER (
         |      PARTITION BY predicted, shard ORDER BY u, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM h)
         |SELECT doc_id, predicted, shard, n_tokens,
         |  CAST(cum_before AS BIGINT) AS cum_before
         |FROM c WHERE cum_before < ${Sampling.budgetTokens}
         |ORDER BY doc_id""".stripMargin),

    Query("dedup_exact", (s, dir) =>
        Dedup.exact(Transcripts.documents(s, dir)).orderBy("h"),
      s"""SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
         |FROM $duckDupBase GROUP BY 1 ORDER BY h""".stripMargin),

    Query("dedup_ngram_jaccard", (s, dir) =>
        Dedup.ngramJaccard(Transcripts.documents(s, dir)).orderBy("a_id", "b_id"),
      s"""WITH g AS (
         |  SELECT doc_id, $duckShingles AS grams
         |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(len(list_intersect(a.grams, b.grams)) * 1.0 /
         |        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4)
         |    AS jaccard
         |FROM g a JOIN g b ON b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 2
         |ORDER BY a_id, b_id""".stripMargin),

    Query("dedup_minhash_lsh", (s, dir) =>
        Dedup.minhashBands(Transcripts.documents(s, dir)).orderBy("a_id", "b_id"),
      s"""WITH base AS $duckDupBase,
         |g AS (
         |  SELECT doc_id, $duckShingles AS grams
         |  FROM base WHERE len(string_split(text, ' ')) >= 3),
         |h AS (SELECT doc_id, $duckHcat AS hcat FROM g),
         |sig AS (
         |  SELECT doc_id,
         |  $duckBandExprs
         |  FROM h)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |FROM sig a JOIN sig b
         |  ON ($duckAnyBand) AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin),

    Query("dedup_minhash_verify", (s, dir) =>
        Dedup.minhashJaccard(Transcripts.documents(s, dir)).orderBy("a_id", "b_id"),
      s"""WITH $duckVerifiedPairCtes
         |SELECT a_id, b_id, jaccard FROM vpairs
         |ORDER BY a_id, b_id""".stripMargin),

    // transitive dup-cluster resolution: connected components over the
    // verified pairs (min-label propagation; cluster_id = component min)
    Query("dedup_clusters", (s, dir) =>
        Dedup.dupClusters(Transcripts.documents(s, dir)).orderBy("doc_id"),
      // connected components over vpairs as a recursive CTE: reach(id,
      // label) enumerates every label reachable from each node; the
      // component min per node is the cluster id — the same fixpoint the
      // Spark min-label propagation converges to
      s"""WITH RECURSIVE $duckVerifiedPairCtes,
         |$duckClusterCtes
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
         |FROM clusters ORDER BY doc_id""".stripMargin),

    // priority-aware cluster retention: keep the highest-priority member
    // per cluster (tie -> lowest doc_id) instead of blindly the min id
    Query("dedup_cluster_keep", (s, dir) =>
        Dedup.clusterKeep(Transcripts.documents(s, dir)).orderBy("doc_id"),
      // the cluster fixpoint + per-doc source priority (the priority table
      // is INJECTED exactly like the corpus, so +1000000 copies inherit
      // their original's priority via a direct doc_id join — no id-
      // magnitude assumption) + a per-cluster row_number on
      // (priority DESC, doc_id ASC)
      s"""WITH RECURSIVE $duckVerifiedPairCtes,
         |$duckClusterCtes,
         |prio0 AS (
         |  SELECT doc_id, CAST(substr(source, 4, 6) AS INTEGER) % 3 AS priority
         |  FROM documents),
         |prio AS (
         |  SELECT doc_id, priority FROM prio0
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, priority FROM prio0
         |  WHERE doc_id % 4 = 0),
         |m AS (
         |  SELECT c.id AS doc_id, c.cluster_id, p.priority
         |  FROM clusters c JOIN prio p ON p.doc_id = c.id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY priority DESC, doc_id) AS rn
         |  FROM m)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(cluster_id AS BIGINT) AS cluster_id,
         |  CAST(priority AS INTEGER) AS priority, (rn = 1) AS keep
         |FROM r ORDER BY doc_id""".stripMargin),

    // deterministic mixture-weighting sample: per-language Bernoulli keep
    // rates decided by a salted hash of doc_id (narrow filter, no shuffle)
    Query("sample_stratified", (s, dir) =>
        Sampling.stratifiedSample(Transcripts.documents(s, dir)).orderBy("doc_id"),
      {
        val rateCase = Sampling.defaultRates.toSeq.sortBy(_._1)
          .map { case (lang, r) => s"WHEN '$lang' THEN $r" }
          .mkString("CASE predicted ", " ", " ELSE 0.0 END")
        s"""WITH s AS (
           |  SELECT doc_id, text,
           |    ${duckLangCounts()}
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    $duckLangCase AS predicted
           |  FROM s),
           |h AS (
           |  SELECT doc_id, predicted,
           |    CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |      * 1.0 / 4294967296 AS u
           |  FROM p)
           |SELECT doc_id, predicted, u FROM h
           |WHERE u < $rateCase
           |ORDER BY doc_id""".stripMargin
      }),

    // per-domain document cap in the skew-free RATE form: a mega-domain
    // (every 4th doc lands on hub.example.com) keeps an expected `cap`
    // docs via a deterministic Bernoulli at rate cap/n; small domains
    // keep everything; the corpus never shuffles (tiny rate table
    // broadcasts back)
    Query("domain_cap", (s, dir) => {
        val host = when(pmod(col("doc_id"), lit(4)) === 0, lit("hub.example.com"))
          .otherwise(concat(col("source"), lit(".example.com")))
        Sampling.domainCap(
            Transcripts.documents(s, dir).select(col("doc_id"), host.as("host")))
          .orderBy("doc_id")
      },
      {
        val cap = Sampling.domainCapDocs
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 4 = 0 THEN 'hub.example.com'
           |         ELSE source || '.example.com' END AS host
           |  FROM documents),
           |n AS (
           |  SELECT host, CAST(count(*) AS BIGINT) AS n_domain,
           |    least(CAST(1.0 AS DOUBLE), CAST($cap AS DOUBLE) / count(*))
           |      AS keep_rate
           |  FROM d GROUP BY host)
           |SELECT d.doc_id, d.host, n.n_domain, n.keep_rate,
           |  CAST('0x' || substr(md5('graft-domain:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |    * 1.0 / 4294967296 < n.keep_rate AS kept
           |FROM d JOIN n ON d.host = n.host
           |ORDER BY d.doc_id""".stripMargin
      }),

    // EXACT-N per-stratum sampling: the N smallest salted hashes per
    // language via the two-phase rate-prefilter + bounded rank window
    // (eval-set construction needs exactly N, deterministically)
    Query("sample_exact_n", (s, dir) =>
        Sampling.exactNSample(Transcripts.documents(s, dir)).orderBy("doc_id"),
      {
        val n = Sampling.exactSampleN
        val sn = Sampling.exactSampleSafety * n
        s"""WITH s AS (
           |  SELECT doc_id, text,
           |    ${duckLangCounts()}
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    $duckLangCase AS predicted,
           |    CAST('0x' || substr(md5('graft-exactn:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |      * 1.0 / 4294967296 AS u
           |  FROM s),
           |r AS (
           |  SELECT predicted,
           |    least(CAST(1.0 AS DOUBLE), CAST($sn AS DOUBLE) / count(*)) AS rate
           |  FROM p GROUP BY predicted),
           |cand AS (
           |  SELECT p.doc_id, p.predicted, p.u FROM p JOIN r USING (predicted)
           |  WHERE p.u < r.rate),
           |k AS (
           |  SELECT doc_id, predicted, u,
           |    row_number() OVER (PARTITION BY predicted ORDER BY u, doc_id) AS rank
           |  FROM cand)
           |SELECT doc_id, predicted, u, CAST(rank AS INTEGER) AS rank
           |FROM k WHERE rank <= $n ORDER BY doc_id""".stripMargin
      }),

    // deterministic fractional upweighting: epoch-style replication for
    // mixture weights > 1 (narrow explode, no shuffle)
    Query("sample_upweight", (s, dir) =>
        Sampling.upweight(Transcripts.documents(s, dir))
          .orderBy("doc_id", "rep_idx"),
      {
        val weightCase = Sampling.defaultWeights.toSeq.sortBy(_._1)
          .map { case (lang, w) => s"WHEN '$lang' THEN $w" }
          .mkString("CASE predicted ", " ", " ELSE 0.0 END")
        s"""WITH s AS (
           |  SELECT doc_id, text,
           |    ${duckLangCounts()}
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    $duckLangCase AS predicted
           |  FROM s),
           |h AS (
           |  SELECT doc_id, predicted,
           |    CAST('0x' || substr(md5('graft-up:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |      * 1.0 / 4294967296 AS u,
           |    $weightCase AS w
           |  FROM p),
           |r AS (
           |  SELECT doc_id, predicted,
           |    CAST(floor(w) + (CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END) AS INTEGER) AS reps
           |  FROM h)
           |SELECT doc_id, predicted,
           |  CAST(unnest(range(1, reps + 1)) AS INTEGER) AS rep_idx
           |FROM r WHERE reps > 0
           |ORDER BY doc_id, rep_idx""".stripMargin
      }),

    // unified-temperature mixture weights (alpha = 1/2): the trained
    // per-language replication table (one groupBy + languages-row collect)
    Query("sample_temperature", (s, dir) =>
        Sampling.temperatureTable(Transcripts.documents(s, dir))
          .orderBy("predicted"),
      s"""WITH s AS (
         |  SELECT doc_id, ${duckLangCounts()} FROM documents),
         |p AS (
         |  SELECT doc_id, $duckLangCase AS predicted FROM s),
         |c AS (SELECT predicted, count(*) AS n_docs FROM p GROUP BY 1),
         |m AS (SELECT max(n_docs) AS n_max FROM c)
         |SELECT c.predicted, CAST(c.n_docs AS BIGINT) AS n_docs,
         |  sqrt(CAST(m.n_max AS DOUBLE) / CAST(c.n_docs AS DOUBLE)) AS weight
         |FROM c, m ORDER BY predicted""".stripMargin),

    // the temperature weights applied through the upweight replication
    // machinery (trained weights in, same narrow explode out)
    Query("sample_temperature_apply", (s, dir) =>
        Sampling.temperatureUpweight(Transcripts.documents(s, dir))
          .orderBy("doc_id", "rep_idx"),
      // the same weight derivation feeds the upweight replication law
      // (floor(w) copies + 1 iff u < frac(w)) under the 'graft-temp' salt;
      // IEEE-correctly-rounded sqrt/division make the weights bit-equal
      // to the Spark side's driver-collected literals
      s"""WITH s AS (
         |  SELECT doc_id, ${duckLangCounts()} FROM documents),
         |p AS (
         |  SELECT doc_id, $duckLangCase AS predicted FROM s),
         |c AS (SELECT predicted, count(*) AS n_docs FROM p GROUP BY 1),
         |m AS (SELECT max(n_docs) AS n_max FROM c),
         |wt AS (
         |  SELECT predicted,
         |    sqrt(CAST(m.n_max AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS w
         |  FROM c, m),
         |h AS (
         |  SELECT p.doc_id, p.predicted,
         |    CAST('0x' || substr(md5('graft-temp:' || CAST(p.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      * 1.0 / 4294967296 AS u,
         |    wt.w AS w
         |  FROM p JOIN wt ON wt.predicted = p.predicted),
         |r AS (
         |  SELECT doc_id, predicted,
         |    CAST(floor(w) + (CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END) AS INTEGER) AS reps
         |  FROM h)
         |SELECT doc_id, predicted,
         |  CAST(unnest(range(1, reps + 1)) AS INTEGER) AS rep_idx
         |FROM r WHERE reps > 0
         |ORDER BY doc_id, rep_idx""".stripMargin),

    // exact media dedup over the binary column (codec-free): map-side md5
    // of the payload bytes, one digest shuffle; injected +3000000 copies
    // preserve doc_id % 3 so kind and magic survive -> true byte dups
    Query("multimodal_dedup", (s, dir) => {
        val base = Transcripts.documents(s, dir).select(col("doc_id"), col("text"))
        val withDups = base.unionAll(base.filter(pmod(col("doc_id"), lit(4)) === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
        Multimodal.mediaDedup(Multimodal.mediaTable(s, withDups))
          .orderBy("kind", "h")
      },
      """WITH b AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 4 = 0),
        |m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    md5((CASE doc_id % 3 WHEN 0 THEN 'IMG0' WHEN 1 THEN 'AUD0'
        |      ELSE 'VID0' END) || text) AS h
        |  FROM b)
        |SELECT kind, h, CAST(count(*) AS BIGINT) AS n_copies,
        |  min(doc_id) AS keeper
        |FROM m GROUP BY kind, h ORDER BY kind, h""".stripMargin),

    // windowed-fingerprint dedup (exact-substring tradition): docs sharing
    // any 8-token window fingerprint at stride 4 (one groupBy shuffle,
    // streamed in-bucket pairs)
    Query("dedup_window_fp", (s, dir) =>
        Dedup.windowDupPairs(Transcripts.documents(s, dir)).orderBy("a_id", "b_id"),
      {
        import graft.operators.Dedup.{windowTokens, windowStride}
        // winnowed selection: list_sort(slice)[1] == Spark's array_min over
        // the same lowercase-hex md5 strings (binary collation both engines)
        s"""WITH base AS $duckDupBase,
           |t AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks FROM base
           |  WHERE len(string_split(text, ' ')) >= $windowTokens),
           |wa AS (
           |  SELECT doc_id,
           |    list_transform(range(0, len(toks) - $windowTokens + 1),
           |      i -> md5(array_to_string(toks[i + 1 : i + $windowTokens], ' '))) AS wfps
           |  FROM t),
           |w AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(range(1, greatest(len(wfps) - ${windowStride - 1}, 1) + 1),
           |      i -> list_sort(wfps[i : i + ${windowStride - 1}])[1])) AS wfp
           |  FROM wa)
           |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |FROM w a JOIN w b ON a.wfp = b.wfp AND a.doc_id < b.doc_id
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // asymmetric CONTAINMENT dedup (doc-inside-doc): injected superset
    // docs (every 7th doc quoted whole + wrapper commentary) are caught
    // at c_a_in_b = 1.0 even though their Jaccard is low; posting-list
    // join with the stop-gram df cap
    Query("dedup_containment", (s, dir) => {
        val d = Transcripts.documents(s, dir).select(col("doc_id"), col("text"))
        val supers = d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"),
              lit(" plus wrapper commentary around the quoted source "),
              (col("doc_id") + 3000000L).cast("string")).as("text"))
        Dedup.containmentPairs(d.unionAll(supers)).orderBy("a_id", "b_id")
      },
      {
        val cap = Dedup.containmentMaxDf
        s"""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 3000000,
           |    text || ' plus wrapper commentary around the quoted source '
           |      || CAST(doc_id + 3000000 AS VARCHAR)
           |  FROM documents WHERE doc_id % 7 = 0),
           |g AS (
           |  SELECT doc_id, $duckShingles AS grams
           |  FROM base WHERE len(string_split(text, ' ')) >= 3),
           |sz AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM g),
           |ex AS (SELECT doc_id, unnest(grams) AS shingle FROM g),
           |post AS (SELECT shingle, count(*) AS df FROM ex GROUP BY shingle),
           |pairs AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    CAST(count(*) AS BIGINT) AS n_shared
           |  FROM ex a
           |  JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  JOIN post p ON p.shingle = a.shingle
           |  WHERE p.df <= $cap
           |  GROUP BY a.doc_id, b.doc_id),
           |c AS (
           |  SELECT a_id, b_id, n_shared,
           |    round(n_shared * 1.0 / sa.n, 6) AS c_a_in_b,
           |    round(n_shared * 1.0 / sb.n, 6) AS c_b_in_a
           |  FROM pairs
           |  JOIN sz sa ON sa.doc_id = a_id
           |  JOIN sz sb ON sb.doc_id = b_id)
           |SELECT a_id, b_id, n_shared, c_a_in_b, c_b_in_a
           |FROM c WHERE greatest(c_a_in_b, c_b_in_a) >= 0.5
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // cross-document SPAN dedup with text rewrite: every 10-token block
    // keeps its first corpus-wide occurrence; borrower docs (injected:
    // first-10-token copy of every 5th doc + a unique tail) lose the
    // borrowed span, keep their own prose
    Query("dedup_span", (s, dir) => {
        val d = Transcripts.documents(s, dir).select(col("doc_id"), col("text"))
        val borrow = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(
              array_join(slice(split(col("text"), " "), 1, Dedup.spanTokens), " "),
              lit(" fresh content from borrower "),
              (col("doc_id") + 2000000L).cast("string")).as("text"))
        Dedup.spanDedup(d.unionAll(borrow)).orderBy("doc_id")
      },
      {
        val w = Dedup.spanTokens
        s"""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 2000000,
           |    array_to_string(list_slice(string_split(text, ' '), 1, $w), ' ')
           |      || ' fresh content from borrower ' || CAST(doc_id + 2000000 AS VARCHAR)
           |  FROM documents WHERE doc_id % 5 = 0),
           |b AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |    array_to_string(list_slice(string_split(text, ' '),
           |      i * $w + 1, i * $w + $w), ' ') AS block
           |  FROM base, unnest(range(0,
           |    ((len(string_split(text, ' ')) - 1) // $w) + 1)) AS t(i)),
           |bh AS (SELECT doc_id, pos, block, md5(block) AS h FROM b),
           |k AS (
           |  SELECT h, doc_id AS k_doc, pos AS k_pos FROM (
           |    SELECT h, doc_id, pos,
           |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           |    FROM bh) WHERE rn = 1),
           |j AS (
           |  SELECT bh.doc_id, bh.pos, bh.block,
           |    (bh.doc_id = k.k_doc AND bh.pos = k.k_pos) AS kept
           |  FROM bh JOIN k ON bh.h = k.h)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  coalesce(string_agg(CASE WHEN kept THEN block END, ' ' ORDER BY pos), '')
           |    AS text_dedup
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // the crawl-FRONTIER pipeline end to end: canonicalize -> bloom
    // prescreen -> exact dedup vs the crawled-key artifact -> per-host
    // rate cap on the NEW urls (politeness); re-crawl variants (upper
    // host + tracking params + trailing slash) collapse onto their
    // crawled keys, the hub host exercises the cap
    Query("url_frontier_e2e", (s, dir) => {
        import graft.operators.Frontier
        val d = Transcripts.documents(s, dir)
        val crawled = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .select(concat(lit("https://"), col("source"),
            lit(".example.com/page/"), col("doc_id")).as("url"))
        val recrawl = d.filter(pmod(col("doc_id"), lit(3)) =!= 0
            && pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 5000000L).as("url_id"),
            concat(lit("https://"), upper(col("source")),
              lit(".EXAMPLE.com/page/"), col("doc_id"),
              lit("/?utm_source=feed")).as("url"))
        val fresh = d.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id").as("url_id"),
            concat(lit("https://"),
              when(pmod(col("doc_id"), lit(4)) === 0, lit("hub"))
                .otherwise(col("source")),
              lit(".example.com/new/"), col("doc_id")).as("url"))
        Frontier.frontierIngest(Frontier.frontierArtifact(crawled),
            recrawl.unionAll(fresh))
          .orderBy("url_id")
      },
      {
        // the bloom-less twin (the bloom is an internal bypass whose result
        // is invariant — the dedup_incremental_bloom precedent); canonical
        // forms are hand-derived per URL class like the url_canonical twin
        val cap = Sampling.domainCapDocs
        s"""WITH d AS (SELECT doc_id, source FROM documents),
           |crawled AS (
           |  SELECT DISTINCT 'https://' || source || '.example.com/page/'
           |    || CAST(doc_id AS VARCHAR) AS canonical
           |  FROM d WHERE doc_id % 3 <> 0),
           |inc AS (
           |  SELECT doc_id + 5000000 AS url_id,
           |    'https://' || source || '.example.com/page/'
           |      || CAST(doc_id AS VARCHAR) AS canonical
           |  FROM d WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id AS url_id,
           |    'https://' || CASE WHEN doc_id % 4 = 0 THEN 'hub' ELSE source END
           |      || '.example.com/new/' || CAST(doc_id AS VARCHAR) AS canonical
           |  FROM d WHERE doc_id % 3 = 0),
           |h AS (
           |  SELECT url_id, canonical,
           |    regexp_extract(canonical, '^[a-z0-9+.-]+://([^/]+)', 1) AS host,
           |    canonical IN (SELECT canonical FROM crawled) AS dup
           |  FROM inc),
           |newu AS (SELECT * FROM h WHERE NOT dup),
           |n AS (
           |  SELECT host,
           |    least(CAST(1.0 AS DOUBLE), CAST($cap AS DOUBLE) / count(*)) AS keep_rate
           |  FROM newu GROUP BY host),
           |k AS (
           |  SELECT newu.url_id, TRUE AS kept
           |  FROM newu JOIN n USING (host)
           |  WHERE CAST('0x' || substr(md5('graft-domain:' || CAST(newu.url_id AS VARCHAR)), 1, 8) AS BIGINT)
           |    * 1.0 / 4294967296 < n.keep_rate)
           |SELECT h.url_id, h.canonical, h.host, h.dup,
           |  coalesce(k.kept, FALSE) AS kept
           |FROM h LEFT JOIN k USING (url_id)
           |ORDER BY h.url_id""".stripMargin
      }),

    // the WEB-curation pipeline end to end: per-domain cap (rate form)
    // -> cross-doc span dedup with rewrite -> post-dedup length gate
    // (>= one block of fresh text) -> compact per-host report; every
    // stage keeps its standalone 100 TB shape
    Query("web_prep_e2e", (s, dir) => {
        val host = when(pmod(col("doc_id"), lit(4)) === 0, lit("hub.example.com"))
          .otherwise(concat(col("source"), lit(".example.com")))
        val d = Transcripts.documents(s, dir)
          .select(col("doc_id"), host.as("host"), col("text"))
        val capped = Sampling.domainCap(d.select(col("doc_id"), col("host")))
          .filter(col("kept")).select("doc_id", "host")
          .join(d.select(col("doc_id"), col("text")), Seq("doc_id"))
        val span = Dedup.spanDedup(capped.select(col("doc_id"), col("text")))
          .join(capped.select(col("doc_id"), col("host")), Seq("doc_id"))
        val fin = span.filter(
          size(split(col("text_dedup"), " ")) >= Dedup.spanTokens
            && length(col("text_dedup")) > 0)
        d.groupBy("host").agg(count(lit(1)).as("n_docs"))
          .join(capped.groupBy("host").agg(count(lit(1)).as("n_capped")),
            Seq("host"), "left")
          .join(fin.groupBy("host").agg(count(lit(1)).as("n_final"),
              sum(size(split(col("text_dedup"), " ")).cast("long")).as("tokens_final")),
            Seq("host"), "left")
          .select(col("host"), col("n_docs").cast("long").as("n_docs"),
            coalesce(col("n_capped"), lit(0L)).cast("long").as("n_capped"),
            coalesce(col("n_final"), lit(0L)).cast("long").as("n_final"),
            coalesce(col("tokens_final"), lit(0L)).cast("long").as("tokens_final"))
          .orderBy("host")
      },
      {
        val cap = Sampling.domainCapDocs
        val w = Dedup.spanTokens
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 4 = 0 THEN 'hub.example.com'
           |         ELSE source || '.example.com' END AS host,
           |    text
           |  FROM documents),
           |n AS (
           |  SELECT host,
           |    least(CAST(1.0 AS DOUBLE), CAST($cap AS DOUBLE) / count(*))
           |      AS keep_rate
           |  FROM d GROUP BY host),
           |capped AS (
           |  SELECT d.doc_id, d.host, d.text FROM d JOIN n USING (host)
           |  WHERE CAST('0x' || substr(md5('graft-domain:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |    * 1.0 / 4294967296 < n.keep_rate),
           |b AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |    array_to_string(list_slice(string_split(text, ' '),
           |      i * $w + 1, i * $w + $w), ' ') AS block
           |  FROM capped, unnest(range(0,
           |    ((len(string_split(text, ' ')) - 1) // $w) + 1)) AS t(i)),
           |bh AS (SELECT doc_id, pos, block, md5(block) AS h FROM b),
           |k AS (
           |  SELECT h, doc_id AS k_doc, pos AS k_pos FROM (
           |    SELECT h, doc_id, pos,
           |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           |    FROM bh) WHERE rn = 1),
           |j AS (
           |  SELECT bh.doc_id, bh.pos, bh.block,
           |    (bh.doc_id = k.k_doc AND bh.pos = k.k_pos) AS kept
           |  FROM bh JOIN k ON bh.h = k.h),
           |sp AS (
           |  SELECT doc_id,
           |    coalesce(string_agg(CASE WHEN kept THEN block END, ' ' ORDER BY pos), '')
           |      AS text_dedup
           |  FROM j GROUP BY doc_id),
           |fin AS (
           |  SELECT sp.doc_id, c.host, sp.text_dedup
           |  FROM sp JOIN capped c USING (doc_id)
           |  WHERE len(string_split(text_dedup, ' ')) >= $w
           |    AND length(text_dedup) > 0)
           |SELECT dd.host, dd.n_docs,
           |  coalesce(cc.n_capped, 0) AS n_capped,
           |  coalesce(ff.n_final, 0) AS n_final,
           |  coalesce(ff.tokens_final, 0) AS tokens_final
           |FROM (SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY host) dd
           |LEFT JOIN (SELECT host, CAST(count(*) AS BIGINT) AS n_capped
           |  FROM capped GROUP BY host) cc USING (host)
           |LEFT JOIN (SELECT host, CAST(count(*) AS BIGINT) AS n_final,
           |    CAST(sum(len(string_split(text_dedup, ' '))) AS BIGINT) AS tokens_final
           |  FROM fin GROUP BY host) ff USING (host)
           |ORDER BY dd.host""".stripMargin
      }),

    // ingest-time WINNOWED dedup (fifth incremental member): incoming
    // docs sharing ANY selected window fingerprint with the corpus drop
    // — alignment-independent verbatim-run detection at the door;
    // injected borrowers quote an 11-token run from an existing doc
    Query("dedup_window_incremental", (s, dir) => {
        val run = Dedup.windowTokens + Dedup.windowStride - 1
        val Dedup.IngestSplit(existing, fresh) = Dedup.ingestSplit(Transcripts.documents(s, dir))
        val incoming = fresh
          .unionAll(existing.filter(pmod(col("doc_id"), lit(5)) === 0)
            .select((col("doc_id") + 7000000L).as("doc_id"),
              concat(
                array_join(slice(split(col("text"), " "), 1, run), " "),
                lit(" entirely original commentary follows the quotation "),
                (col("doc_id") + 7000000L).cast("string")).as("text")))
        Dedup.windowDedupIncremental(Dedup.windowArtifacts(existing), incoming)
          .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
          .orderBy("doc_id")
      },
      {
        import graft.operators.Dedup.{windowTokens, windowStride}
        val run = windowTokens + windowStride - 1
        def winnow(p: String, src: String) =
          s"""${p}t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM $src
             |  WHERE len(string_split(text, ' ')) >= $windowTokens),
             |${p}wa AS (
             |  SELECT doc_id,
             |    list_transform(range(0, len(toks) - $windowTokens + 1),
             |      i -> md5(array_to_string(toks[i + 1 : i + $windowTokens], ' '))) AS wfps
             |  FROM ${p}t),
             |${p}w AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, greatest(len(wfps) - ${windowStride - 1}, 1) + 1),
             |      i -> list_sort(wfps[i : i + ${windowStride - 1}])[1])) AS wfp
             |  FROM ${p}wa)""".stripMargin
        s"""WITH existing AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
           |incoming AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id + 7000000,
           |    array_to_string(list_slice(string_split(text, ' '), 1, $run), ' ')
           |      || ' entirely original commentary follows the quotation '
           |      || CAST(doc_id + 7000000 AS VARCHAR)
           |  FROM existing WHERE doc_id % 5 = 0),
           |${winnow("e", "existing")},
           |${winnow("i", "incoming")},
           |hits AS (
           |  SELECT DISTINCT i.doc_id FROM iw i
           |  JOIN (SELECT DISTINCT wfp FROM ew) e USING (wfp))
           |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars
           |FROM incoming
           |WHERE doc_id NOT IN (SELECT doc_id FROM hits)
           |ORDER BY doc_id""".stripMargin
      }),

    // ingest-time SPAN dedup (fourth incremental member): incoming docs
    // drop the blocks the existing corpus already holds and reassemble;
    // injected borrowers quote an existing doc's lede + novel tail
    Query("dedup_span_incremental", (s, dir) => {
        val Dedup.IngestSplit(existing, fresh) = Dedup.ingestSplit(Transcripts.documents(s, dir))
        val incoming = fresh
          .unionAll(existing.filter(pmod(col("doc_id"), lit(5)) === 0)
            .select((col("doc_id") + 4000000L).as("doc_id"),
              concat(
                array_join(slice(split(col("text"), " "), 1, Dedup.spanTokens), " "),
                lit(" novel reporting beyond the syndicated lede "),
                (col("doc_id") + 4000000L).cast("string")).as("text")))
        Dedup.spanDedupIncremental(Dedup.spanArtifacts(existing), incoming)
          .orderBy("doc_id")
      },
      {
        val w = Dedup.spanTokens
        def blocks(src: String) =
          s"""SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    array_to_string(list_slice(string_split(text, ' '),
             |      i * $w + 1, i * $w + $w), ' ') AS block
             |  FROM $src, unnest(range(0,
             |    ((len(string_split(text, ' ')) - 1) // $w) + 1)) AS t(i)""".stripMargin
        s"""WITH existing AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
           |incoming AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id + 4000000,
           |    array_to_string(list_slice(string_split(text, ' '), 1, $w), ' ')
           |      || ' novel reporting beyond the syndicated lede '
           |      || CAST(doc_id + 4000000 AS VARCHAR)
           |  FROM existing WHERE doc_id % 5 = 0),
           |art AS (
           |  SELECT DISTINCT md5(block) AS h FROM (
           |  ${blocks("existing")})),
           |b AS (
           |  ${blocks("incoming")}),
           |j AS (
           |  SELECT b.doc_id, b.pos, b.block, (a.h IS NULL) AS kept
           |  FROM b LEFT JOIN art a ON md5(b.block) = a.h)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  coalesce(string_agg(CASE WHEN kept THEN block END, ' ' ORDER BY pos), '')
           |    AS text_dedup
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // STREAMING span ingest: the same rewrite as dedup_span_incremental
    // but incoming docs arrive as an AvailableNow stream checked per
    // micro-batch against the static block artifact (batchId-scoped
    // overwrite dirs; the artifacts ARE the state)
    Query("dedup_span_stream", (s, dir) =>
        Dedup.runStreamingSpanIncremental(s, dir).orderBy("doc_id"),
      {
        val w = Dedup.spanTokens
        def blocks(src: String) =
          s"""SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    array_to_string(list_slice(string_split(text, ' '),
             |      i * $w + 1, i * $w + $w), ' ') AS block
             |  FROM $src, unnest(range(0,
             |    ((len(string_split(text, ' ')) - 1) // $w) + 1)) AS t(i)""".stripMargin
        s"""WITH existing AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
           |incoming AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000 AS doc_id, text FROM existing
           |  WHERE doc_id % 5 = 0),
           |art AS (
           |  SELECT DISTINCT md5(block) AS h FROM (
           |  ${blocks("existing")})),
           |b AS (
           |  ${blocks("incoming")}),
           |j AS (
           |  SELECT b.doc_id, b.pos, b.block, (a.h IS NULL) AS kept
           |  FROM b LEFT JOIN art a ON md5(b.block) = a.h)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  coalesce(string_agg(CASE WHEN kept THEN block END, ' ' ORDER BY pos), '')
           |    AS text_dedup
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // context packing: prefix-sum pack assignment within (language, shard)
    // strata — one shuffle, shard-local contexts by construction
    Query("pack_contexts", (s, dir) =>
        Packing.packContexts(Transcripts.documents(s, dir)).orderBy("doc_id"),
      s"""WITH s AS (
         |  SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${duckLangCounts()}
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    $duckLangCase AS predicted,
         |    CAST(doc_id % ${Packing.packShards} AS INTEGER) AS shard
         |  FROM s),
         |c AS (
         |  SELECT *,
         |    COALESCE(sum(n_tokens) OVER (
         |      PARTITION BY predicted, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
         |  FROM p)
         |SELECT doc_id, predicted, shard, n_tokens,
         |  CAST(prev_cum // ${Packing.packBudget} AS BIGINT) AS pack_id,
         |  CAST(prev_cum % ${Packing.packBudget} AS BIGINT) AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin),

    // benchmark decontamination: drop docs sharing any 3-gram shingle with
    // the held-out eval set (broadcast map-side join, no corpus shuffle)
    Query("decontaminate", (s, dir) => {
        val doc = Transcripts.documents(s, dir)
        Sampling.decontaminate(doc, Sampling.evalHoldout(doc))
          .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
          .orderBy("doc_id")
      },
      s"""WITH ev AS (
         |  SELECT DISTINCT unnest($duckShingles) AS shingle
         |  FROM documents
         |  WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 3),
         |tr AS (
         |  SELECT doc_id, unnest($duckShingles) AS shingle
         |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
         |bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (shingle))
         |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars
         |FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin),

    // contamination SCORING: per-doc fraction of distinct shingles found
    // in the eval set (broadcast map-side join + one groupBy(doc_id));
    // eval members themselves score 1.0, their near-dups score high
    Query("decontaminate_score", (s, dir) => {
        val doc = Transcripts.documents(s, dir)
        Sampling.contaminationScore(doc, Sampling.evalHoldout(doc))
          .orderBy("doc_id")
      },
      {
        val thr = Sampling.contaminationThreshold
        s"""WITH ev AS (
           |  SELECT DISTINCT unnest($duckShingles) AS shingle
           |  FROM documents
           |  WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 3),
           |tr AS (
           |  SELECT doc_id, unnest($duckShingles) AS shingle
           |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |g AS (
           |  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           |    CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_hits
           |  FROM tr LEFT JOIN ev USING (shingle) GROUP BY tr.doc_id),
           |c AS (
           |  SELECT doc_id, n_shingles, n_hits,
           |    round(n_hits * 1.0 / n_shingles, 6) AS contamination
           |  FROM g)
           |SELECT doc_id, n_shingles, n_hits, contamination,
           |  contamination >= $thr AS flagged
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    // incremental (ingestion-time) dedup: drop incoming docs duplicating
    // the existing corpus by content hash OR any minhash band bucket —
    // three equi-joins against the corpus's materialized artifacts
    Query("dedup_incremental", (s, dir) => {
        val docs = Dedup.ingestSplit(Transcripts.documents(s, dir))
        Dedup.incrementalDedup(docs.existing, docs.incoming)
          .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
          .orderBy("doc_id")
      },
      duckIncrementalSql),

    // incremental dedup behind the Bloom pre-filter: identical results to
    // dedup_incremental by construction (no false negatives; candidates
    // exact-confirmed) — most incoming docs bypass every join
    Query("dedup_incremental_bloom", (s, dir) => {
        val docs = Dedup.ingestSplit(Transcripts.documents(s, dir))
        Dedup.incrementalDedupBloom(Dedup.corpusArtifacts(docs.existing), docs.incoming)
          .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
          .orderBy("doc_id")
      },
      // the Bloom pre-filter is result-invisible by construction (no false
      // negatives; candidates exact-confirmed) — same twin as the unscreened
      // operator, so the oracle itself proves the invisibility
      duckIncrementalSql),

    // TWO-EPOCH incremental ingest: epoch-1 survivors are absorbed into
    // the artifacts (updateArtifacts — no corpus rescan), so epoch-2
    // copies of epoch-1 docs (+6000000 injection) drop — the cross-epoch
    // catch single-epoch ingest misses
    Query("dedup_incremental_epoch", (s, dir) => {
        val base = Transcripts.documents(s, dir).select(col("doc_id"), col("text"))
        val existing = base.filter(pmod(col("doc_id"), lit(3)) === 1)
        val epoch1 = base.filter(pmod(col("doc_id"), lit(3)) === 2)
        val epoch2 = base.filter(pmod(col("doc_id"), lit(3)) === 0)
          .unionAll(epoch1.filter(pmod(col("doc_id"), lit(7)) === 0)
            .select((col("doc_id") + 6000000L).as("doc_id"), col("text")))
        val art0 = Dedup.corpusArtifacts(existing)
        val kept1 = Dedup.incrementalDedupWith(art0, epoch1)
        Dedup.incrementalDedupWith(Dedup.updateArtifacts(art0, kept1), epoch2)
          .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
          .orderBy("doc_id")
      },
      duckIncrementalEpochSql),

    // STREAMING incremental dedup: the same semantics as dedup_incremental
    // but with incoming docs as an AvailableNow stream checked against the
    // static corpus artifacts (stateless stream-static joins)
    Query("dedup_incremental_stream", (s, dir) =>
        Dedup.runStreamingIncremental(s, dir).orderBy("doc_id"),
      // identical semantics by design: the stream-static form must reproduce
      // the batch operator's survivors exactly
      duckIncrementalSql),

    Query("dedup_simhash", (s, dir) =>
        Dedup.simhash(Transcripts.documents(s, dir)).orderBy("doc_id"),
      {
        val bitTerms = (0 until Dedup.simhashBits).map { b =>
          s"(CASE WHEN len(list_filter(hs, x -> ((x >> $b) & 1) = 1)) * 2 > len(hs) THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH h AS (
           |  SELECT doc_id,
           |    list_transform(string_split(text, ' '),
           |      t -> CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)) AS hs
           |  FROM documents)
           |SELECT doc_id, CAST($bitTerms AS INTEGER) AS simhash
           |FROM h ORDER BY doc_id""".stripMargin
      }),

    // STREAMING near-dup: one survivor per minhash band-0 bucket
    // (dropDuplicatesWithinWatermark over a stream of the dup-injected
    // corpus; survivors == distinct buckets is SQL-expressible)
    Query("dedup_minhash_stream", (s, dir) => Dedup.runStreamingNearDup(s, dir),
      {
        val band0 = s"md5(${(0 until Dedup.minhashRowsPerBand).map(duckMinhash).mkString(" || '_' || ")})"
        s"""WITH base AS $duckDupBase,
           |g AS (
           |  SELECT doc_id, $duckShingles AS grams
           |  FROM base WHERE len(string_split(text, ' ')) >= 3),
           |h AS (SELECT doc_id, $duckHcat AS hcat FROM g),
           |sig AS (SELECT doc_id, $band0 AS band0 FROM h)
           |SELECT CAST(count(DISTINCT band0) AS BIGINT) AS n_survivors,
           |       CAST(count(DISTINCT band0) AS BIGINT) AS n_buckets
           |FROM sig""".stripMargin
      }),

    Query("dedup_simhash_pairs", (s, dir) =>
        Dedup.simhashPairs(Transcripts.documents(s, dir)).orderBy("a_id", "b_id"),
      {
        val bitTerms = (0 until Dedup.simhashBits).map { b =>
          s"(CASE WHEN len(list_filter(hs, x -> ((x >> $b) & 1) = 1)) * 2 > len(hs) THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
        // OR-of-rotations banding: candidate iff ANY cyclic 8-bit window (at
        // stride 4) of the 16-bit signature agrees — the twin of
        // Dedup.simhashRotBlock. BIGINT cast avoids int32 overflow on << 16.
        val anyWindow = (0 until Dedup.simhashBandCount).map { b =>
          def w(side: String) =
            s"(((CAST($side.simhash AS BIGINT) >> ${4 * b}) | (CAST($side.simhash AS BIGINT) << ${16 - 4 * b})) & 255)"
          s"${w("a")} = ${w("b")}"
        }.mkString(" OR ")
        s"""WITH h AS (
           |  SELECT doc_id,
           |    list_transform(string_split(text, ' '),
           |      t -> CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)) AS hs
           |  FROM $duckDupBase),
           |sig AS (SELECT doc_id, CAST($bitTerms AS INTEGER) AS simhash FROM h)
           |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM sig a JOIN sig b ON ($anyWindow) AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY a_id, b_id""".stripMargin
      }),

    Query("dedup_embedding", (s, dir) =>
        s.read.parquet(s"$dir/embeddings.parquet")
          .transform(Dedup.embeddingNearDup)
          .orderBy("a_id", "b_id"),
      {
        // content-derived LSH bands over the double[64] emb — the constant
        // ±1 sign matrix from Dedup.nearDupSign inlined as literal lists
        import graft.operators.Dedup.{nearDupBands, nearDupPlanesPerBand, nearDupSign}
        def duckPlaneDotD(j: Int): String = {
          val signs = (1 to 64).map(n => nearDupSign(j, n)).mkString("[", ", ", "]")
          s"list_sum(list_transform(range(1, 65), n -> emb[n] * ($signs)[n]))"
        }
        val bandCols = (0 until nearDupBands).map { b =>
          val bits = (0 until nearDupPlanesPerBand).map { r =>
            s"(CASE WHEN (${duckPlaneDotD(b * nearDupPlanesPerBand + r)}) > 0 THEN ${1 << r} ELSE 0 END)"
          }.mkString(" + ")
          s"CAST($bits AS INTEGER) AS band$b"
        }.mkString(",\n  ")
        val anyBand = (0 until nearDupBands)
          .map(b => s"a.band$b = b.band$b").mkString(" OR ")
        val dot = "list_sum(list_transform(range(1, 65), n -> a.emb[n] * b.emb[n]))"
        s"""WITH base AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 10000 AS vec_id,
           |    list_transform(range(1, 65),
           |      i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.5
           |                ELSE CAST(embedding[i] AS DOUBLE) END) AS emb
           |  FROM embeddings),
           |k AS (SELECT vec_id, emb,
           |  list_sum(list_transform(range(1, 65), n -> emb[n] * emb[n])) AS na,
           |  $bandCols FROM base)
           |SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
           |  round($dot / sqrt(a.na * b.na), 6) AS cos
           |FROM k a JOIN k b ON ($anyBand) AND b.vec_id > a.vec_id
           |WHERE round($dot / sqrt(a.na * b.na), 6) >= 0.8
           |ORDER BY a_id, b_id""".stripMargin
      }),

    Query("dedup_semantic", (s, dir) =>
        s.read.parquet(s"$dir/embeddings.parquet")
          .transform(Dedup.semanticDedup)
          .orderBy("vec_id"),
      {
        // SemDeDup twin: the injected-dup base (as dedup_embedding), the
        // deterministic first-K quantizer (as ann_ivf_cells), in-cell pairs,
        // and the keep-the-boundary-example drop rule. na/nb precomputed per
        // row like the Spark side so sqrt(na * nb) groups identically.
        val k = Similarity.ivfCells
        def dotD(a: String, b: String) =
          s"list_sum(list_transform(range(1, 65), n -> $a[n] * $b[n]))"
        s"""WITH base AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 10000 AS vec_id,
           |    list_transform(range(1, 65),
           |      i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.5
           |                ELSE CAST(embedding[i] AS DOUBLE) END) AS emb
           |  FROM embeddings),
           |v AS (SELECT vec_id, emb, ${dotD("emb", "emb")} AS na FROM base),
           |cent AS (
           |  SELECT vec_id AS centroid_id, emb AS ce, na AS nb FROM v
           |  WHERE vec_id < $k),
           |sc AS (
           |  SELECT e.vec_id, e.emb, e.na, c.centroid_id,
           |    round(${dotD("e.emb", "c.ce")} / sqrt(e.na * c.nb), 6) AS ccos
           |  FROM v e, cent c),
           |a AS (
           |  SELECT vec_id, emb, na, centroid_id, ccos,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           |  FROM sc),
           |asg AS (
           |  SELECT vec_id, emb, na, centroid_id AS cell, ccos AS centroid_cos
           |  FROM a WHERE rn = 1),
           |p AS (
           |  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
           |    x.centroid_cos AS ac, y.centroid_cos AS bc,
           |    round(${dotD("x.emb", "y.emb")} / sqrt(x.na * y.na), 6) AS cos
           |  FROM asg x JOIN asg y ON x.cell = y.cell AND y.vec_id > x.vec_id),
           |drp AS (
           |  SELECT DISTINCT CASE WHEN ac > bc THEN a_id ELSE b_id END AS vec_id
           |  FROM p WHERE cos >= 0.8)
           |SELECT g.vec_id, g.cell, g.centroid_cos,
           |  (d.vec_id IS NOT NULL) AS dropped
           |FROM asg g LEFT JOIN drp d ON g.vec_id = d.vec_id
           |ORDER BY g.vec_id""".stripMargin
      }),

    // ingest-time SEMANTIC dedup: incoming embeddings checked against the
    // existing corpus's cell artifact (near-dup variants of every existing
    // vector must drop; negated novel vectors ride along)
    Query("dedup_semantic_incremental", (s, dir) => {
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        val existing = e.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
        val nearDup = e.select((col("vec_id") + 10000L).as("vec_id"),
          expr("""transform(sequence(1, 64),
                  |  i -> IF(i = 1, CAST(element_at(embedding, i) AS DOUBLE) + 0.5D,
                  |          CAST(element_at(embedding, i) AS DOUBLE)))""".stripMargin)
            .as("embedding"))
        val novel = e.filter(pmod(col("vec_id"), lit(5)) === 0)
          .select((col("vec_id") + 20000L).as("vec_id"),
            expr("transform(embedding, x -> -CAST(x AS DOUBLE))").as("embedding"))
        Dedup.semanticDedupIncremental(existing, nearDup.unionAll(novel))
          .orderBy("vec_id")
      },
      {
        // the incremental twin: quantizer = first-K of the EXISTING side
        // only; incoming assigned against the same centroids; a hit is any
        // existing member of the incoming vector's cell with cos >= 0.8
        val k = Similarity.ivfCells
        def dotD(a: String, b: String) =
          s"list_sum(list_transform(range(1, 65), n -> $a[n] * $b[n]))"
        s"""WITH e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |inc AS (
           |  SELECT vec_id + 10000 AS vec_id,
           |    list_transform(range(1, 65),
           |      i -> CASE WHEN i = 1 THEN emb[i] + 0.5 ELSE emb[i] END) AS emb
           |  FROM e
           |  UNION ALL
           |  SELECT vec_id + 20000 AS vec_id,
           |    list_transform(range(1, 65), i -> -emb[i]) AS emb
           |  FROM e WHERE vec_id % 5 = 0),
           |v AS (SELECT vec_id, emb, ${dotD("emb", "emb")} AS na FROM e),
           |cent AS (
           |  SELECT vec_id AS centroid_id, emb AS ce, na AS nb FROM v
           |  WHERE vec_id < $k),
           |sce AS (
           |  SELECT x.vec_id, x.emb, x.na, c.centroid_id,
           |    round(${dotD("x.emb", "c.ce")} / sqrt(x.na * c.nb), 6) AS ccos
           |  FROM v x, cent c),
           |ae AS (
           |  SELECT vec_id, emb, na, centroid_id, ccos,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           |  FROM sce),
           |asge AS (
           |  SELECT vec_id, emb, na, centroid_id AS cell FROM ae WHERE rn = 1),
           |vi AS (SELECT vec_id, emb, ${dotD("emb", "emb")} AS na FROM inc),
           |sci AS (
           |  SELECT x.vec_id, x.emb, x.na, c.centroid_id,
           |    round(${dotD("x.emb", "c.ce")} / sqrt(x.na * c.nb), 6) AS ccos
           |  FROM vi x, cent c),
           |ai AS (
           |  SELECT vec_id, emb, na, centroid_id, ccos,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           |  FROM sci),
           |asgi AS (
           |  SELECT vec_id, emb, na, centroid_id AS cell, ccos AS centroid_cos
           |  FROM ai WHERE rn = 1),
           |hits AS (
           |  SELECT DISTINCT i.vec_id FROM asgi i
           |  JOIN asge g ON i.cell = g.cell
           |  WHERE round(${dotD("i.emb", "g.emb")} / sqrt(i.na * g.na), 6) >= 0.8)
           |SELECT i.vec_id, i.cell, i.centroid_cos,
           |  (h.vec_id IS NOT NULL) AS dropped
           |FROM asgi i LEFT JOIN hits h ON h.vec_id = i.vec_id
           |ORDER BY i.vec_id""".stripMargin
      }),

    // SemDeDup with TRAINED k-means centroids (2 fixed-point Lloyd
    // iterations over the same dup-injected base) as the quantizer
    Query("dedup_semantic_trained", (s, dir) =>
        s.read.parquet(s"$dir/embeddings.parquet")
          .transform(Dedup.semanticDedupTrained)
          .orderBy("vec_id"),
      {
        // the dedup_semantic twin with the quantizer swapped for TRAINED
        // centroids: two duckKmeansIters Lloyd iterations over the SAME
        // injected base, then the identical assignment/pair/drop pipeline
        // reading cent2 (nb recomputed from the trained list exactly as the
        // Spark side's driver-side fold)
        def dotD(a: String, b: String) =
          s"list_sum(list_transform(range(1, 65), n -> $a[n] * $b[n]))"
        s"""WITH base AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 10000 AS vec_id,
           |    list_transform(range(1, 65),
           |      i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.5
           |                ELSE CAST(embedding[i] AS DOUBLE) END) AS emb
           |  FROM embeddings),
           |${duckKmeansIters("base", "emb", 2)},
           |v AS (SELECT vec_id, emb, ${dotD("emb", "emb")} AS na FROM base),
           |centf AS (
           |  SELECT cell AS centroid_id, ce, ${dotD("ce", "ce")} AS nb FROM cent2),
           |sc AS (
           |  SELECT e.vec_id, e.emb, e.na, c.centroid_id,
           |    round(${dotD("e.emb", "c.ce")} / sqrt(e.na * c.nb), 6) AS ccos
           |  FROM v e, centf c),
           |a AS (
           |  SELECT vec_id, emb, na, centroid_id, ccos,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           |  FROM sc),
           |asg AS (
           |  SELECT vec_id, emb, na, centroid_id AS cell, ccos AS centroid_cos
           |  FROM a WHERE rn = 1),
           |p AS (
           |  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
           |    x.centroid_cos AS ac, y.centroid_cos AS bc,
           |    round(${dotD("x.emb", "y.emb")} / sqrt(x.na * y.na), 6) AS cos
           |  FROM asg x JOIN asg y ON x.cell = y.cell AND y.vec_id > x.vec_id),
           |drp AS (
           |  SELECT DISTINCT CASE WHEN ac > bc THEN a_id ELSE b_id END AS vec_id
           |  FROM p WHERE cos >= 0.8)
           |SELECT g.vec_id, g.cell, g.centroid_cos,
           |  (d.vec_id IS NOT NULL) AS dropped
           |FROM asg g LEFT JOIN drp d ON g.vec_id = d.vec_id
           |ORDER BY g.vec_id""".stripMargin
      }),

    Query("ann_topk", (s, dir) =>
        Similarity.bruteForceTopK(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("query_id", "rank"),
      s"""WITH s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, cos
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("ann_lsh_topk", (s, dir) =>
        Similarity.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("query_id", "rank"),
      {
        val bits = (0 until Similarity.planes).map { j =>
          s"(CASE WHEN (${duckPlaneDot(j)}) > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH b AS (
           |  SELECT vec_id, embedding, CAST($bits AS INTEGER) AS bucket FROM embeddings),
           |s AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
           |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
           |  WHERE q.vec_id < 10),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, cos
           |FROM r WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin
      }),

    Query("ann_lsh_buckets", (s, dir) =>
        Similarity.lshBuckets(s.read.parquet(s"$dir/embeddings.parquet"))
          .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
          .orderBy("bucket"),
      {
        val bits = (0 until Similarity.planes).map { j =>
          s"(CASE WHEN (${duckPlaneDot(j)}) > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""SELECT CAST($bits AS INTEGER) AS bucket, count(*) AS n_vecs
           |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin
      }),

    Query("ann_ivf_cells", (s, dir) =>
        Similarity.ivfAssign(s.read.parquet(s"$dir/embeddings.parquet"))
          .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
          .orderBy("cell"),
      s"""WITH cent AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
         |  WHERE vec_id < ${Similarity.ivfCells}),
         |sc AS (
         |  SELECT e.vec_id, c.centroid_id,
         |    round(${duckCosine("e.embedding", "c.ce")}, 6) AS ccos
         |  FROM embeddings e, cent c),
         |a AS (
         |  SELECT vec_id, centroid_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
         |  FROM sc)
         |SELECT centroid_id AS cell, count(*) AS n_vecs
         |FROM a WHERE rn = 1 GROUP BY 1 ORDER BY cell""".stripMargin),

    Query("ann_kmeans_step", (s, dir) =>
        Similarity.kmeansStep(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("cell", "dim"),
      // one Lloyd iteration: the ann_ivf_cells assignment, then fixed-point
      // (floor(x * 2^20) BIGINT) centroid means — integer sums are
      // order-independent, so Spark's shuffle-order float-sum hazard never
      // arises and the twin is exact with no rounding
      s"""WITH cent AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
         |  WHERE vec_id < ${Similarity.ivfCells}),
         |sc AS (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |    round(${duckCosine("e.embedding", "c.ce")}, 6) AS ccos
         |  FROM embeddings e, cent c),
         |a AS (
         |  SELECT vec_id, embedding, centroid_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
         |  FROM sc),
         |asg AS (SELECT vec_id, embedding, centroid_id AS cell FROM a WHERE rn = 1),
         |q AS (
         |  SELECT cell, d AS dim,
         |    CAST(floor(CAST(embedding[d] AS DOUBLE) * ${Similarity.kmeansScale}) AS BIGINT) AS qd
         |  FROM asg, range(1, 65) t(d))
         |SELECT cell, CAST(dim AS INTEGER) AS dim, count(*) AS n_vecs,
         |  CAST(sum(qd) AS DOUBLE) / (count(*) * ${Similarity.kmeansScale}.0) AS mean
         |FROM q GROUP BY cell, dim ORDER BY cell, dim""".stripMargin),

    // the trained-centroid table after 2 fixed-point Lloyd iterations —
    // the loop kmeansStep exists for (empty cells keep their previous
    // centroid; bit-reproducible under any partitioning)
    Query("ann_kmeans_train", (s, dir) =>
        Similarity.kmeansTrain(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("cell", "dim"),
      // two chained Lloyd iterations (duckKmeansIters) -> the trained
      // centroid table in long format; bit-exact because every iteration's
      // centroid means are exact-integer-sum divisions on both engines
      s"""WITH ${duckKmeansIters("embeddings", "embedding", 2)}
         |SELECT cell, CAST(d AS INTEGER) AS dim, ce[d] AS mean
         |FROM cent2, range(1, 65) t(d) ORDER BY cell, dim""".stripMargin),

    Query("ann_ivf_topk", (s, dir) =>
        Similarity.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("query_id", "rank"),
      s"""WITH cent AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
         |  WHERE vec_id < ${Similarity.ivfCells}),
         |sc AS (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |    round(${duckCosine("e.embedding", "c.ce")}, 6) AS ccos
         |  FROM embeddings e, cent c),
         |a AS (
         |  SELECT vec_id, embedding, centroid_id AS cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
         |  FROM sc),
         |asg AS (SELECT vec_id, embedding, cell FROM a WHERE rn = 1),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
         |  FROM asg q JOIN asg c ON q.cell = c.cell AND c.vec_id != q.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, cos
         |FROM r WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin),

    Query("ann_ivf_topk_probe2", (s, dir) =>
        Similarity.ivfTopKProbe2(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("query_id", "rank"),
      s"""WITH cent AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
         |  WHERE vec_id < ${Similarity.ivfCells}),
         |sc AS (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |    round(${duckCosine("e.embedding", "c.ce")}, 6) AS ccos
         |  FROM embeddings e, cent c),
         |a AS (
         |  SELECT vec_id, embedding, centroid_id AS cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
         |  FROM sc),
         |asg AS (SELECT vec_id, embedding, cell FROM a WHERE rn = 1),
         |probe AS (SELECT vec_id, embedding, cell FROM a WHERE rn <= 2),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
         |  FROM probe q JOIN asg c ON q.cell = c.cell AND c.vec_id != q.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, cos
         |FROM r WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin),

    Query("ann_recall", (s, dir) =>
        Similarity.annRecall(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("method", "query_id"),
      {
        // recall@3 of every ANN method vs the exact brute-force top-3 — the
        // same CTE bodies as the ann_* oracles above, composed once
        val lshBits = (0 until Similarity.planes).map { j =>
          s"(CASE WHEN (${duckPlaneDot(j)}) > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        def recallSelect(method: String, annCte: String) =
          s"""SELECT '$method' AS method, t.query_id,
             |  CAST(count(*) AS BIGINT) AS n_true,
             |  CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  round(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             |        / count(*), 4) AS recall
             |FROM truth t LEFT JOIN $annCte m
             |  ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id
             |GROUP BY t.query_id""".stripMargin
        s"""WITH bs AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
           |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           |  WHERE q.vec_id < 10),
           |btr AS (SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM bs),
           |truth AS (SELECT query_id, neighbor_id FROM btr WHERE rn <= 3),
           |lb AS (
           |  SELECT vec_id, embedding, CAST($lshBits AS INTEGER) AS bucket FROM embeddings),
           |ls AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
           |  FROM lb q JOIN lb c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
           |  WHERE q.vec_id < 10),
           |lsr AS (SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM ls),
           |lsh3 AS (SELECT query_id, neighbor_id FROM lsr WHERE rn <= 3),
           |cent AS (
           |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
           |  WHERE vec_id < ${Similarity.ivfCells}),
           |sc AS (
           |  SELECT e.vec_id, e.embedding, c.centroid_id,
           |    round(${duckCosine("e.embedding", "c.ce")}, 6) AS ccos
           |  FROM embeddings e, cent c),
           |a AS (
           |  SELECT vec_id, embedding, centroid_id AS cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           |  FROM sc),
           |asg AS (SELECT vec_id, embedding, cell FROM a WHERE rn = 1),
           |probe AS (SELECT vec_id, embedding, cell FROM a WHERE rn <= 2),
           |ivs AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
           |  FROM asg q JOIN asg c ON q.cell = c.cell AND c.vec_id != q.vec_id
           |  WHERE q.vec_id < 10),
           |ivr AS (SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM ivs),
           |ivf3 AS (SELECT query_id, neighbor_id FROM ivr WHERE rn <= 3),
           |p2s AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    round(${duckCosine("q.embedding", "c.embedding")}, 6) AS cos
           |  FROM probe q JOIN asg c ON q.cell = c.cell AND c.vec_id != q.vec_id
           |  WHERE q.vec_id < 10),
           |p2r AS (SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM p2s),
           |probe3 AS (SELECT query_id, neighbor_id FROM p2r WHERE rn <= 3)
           |${recallSelect("lsh", "lsh3")}
           |UNION ALL
           |${recallSelect("ivf", "ivf3")}
           |UNION ALL
           |${recallSelect("ivf_probe2", "probe3")}
           |ORDER BY method, query_id""".stripMargin
      }),

    // product-quantization encoding: 8 subspaces x 16 codes -> one packed
    // BIGINT per vector (the 8-byte artifact a 100 TB corpus persists);
    // zero-Exchange narrow map against the plan-literal codebook
    Query("ann_pq_encode", (s, dir) =>
        Similarity.pqEncode(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("vec_id"),
      s"""WITH $duckPqCtes
         |SELECT vec_id,
         |  string_agg(CAST(code AS VARCHAR), '-' ORDER BY j) AS code,
         |  CAST(sum(code * (CAST(1 AS BIGINT) << (4 * j))) AS BIGINT) AS code64
         |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // asymmetric-distance (ADC) top-k over the PQ codes: per-query 8x16
    // LUT precomputed on the broadcast side, 8 lookups + 7 adds per
    // database vector
    Query("ann_pq_topk", (s, dir) =>
        Similarity.pqTopK(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("query_id", "rank"),
      s"""WITH $duckPqCtes,
         |lut AS (
         |  SELECT vec_id AS query_id, j, code, dist FROM d WHERE vec_id < 10),
         |contrib AS (
         |  SELECT l.query_id, c.vec_id AS neighbor_id, l.dist, c.j
         |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
         |  WHERE c.vec_id != l.query_id),
         |ad AS (
         |  SELECT query_id, neighbor_id,
         |    list_sum(list(dist ORDER BY j)) AS adist
         |  FROM contrib GROUP BY query_id, neighbor_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM ad)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, adist
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),

    // recall@5 of ADC against the exact-L2 ground truth (the metric PQ
    // approximates) — the tuning number for subspace/code counts
    Query("ann_pq_recall", (s, dir) =>
        Similarity.pqRecall(s.read.parquet(s"$dir/embeddings.parquet"))
          .orderBy("query_id"),
      {
        def dotE(a: String, b: String) =
          s"list_sum(list_transform(range(1, ${Similarity.dims + 1}), i -> $a[i] * $b[i]))"
        s"""WITH $duckPqCtes,
           |lut AS (
           |  SELECT vec_id AS query_id, j, code, dist FROM d WHERE vec_id < 10),
           |contrib AS (
           |  SELECT l.query_id, c.vec_id AS neighbor_id, l.dist, c.j
           |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
           |  WHERE c.vec_id != l.query_id),
           |ad AS (
           |  SELECT query_id, neighbor_id, list_sum(list(dist ORDER BY j)) AS adist
           |  FROM contrib GROUP BY query_id, neighbor_id),
           |pq AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
           |    FROM ad) WHERE rn <= 5),
           |l2s AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ((${dotE("q.emb", "q.emb")} - 2 * ${dotE("q.emb", "c.emb")})
           |      + ${dotE("c.emb", "c.emb")}) AS l2
           |  FROM e q JOIN e c ON c.vec_id != q.vec_id
           |  WHERE q.vec_id < 10),
           |truth AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY query_id ORDER BY l2, neighbor_id) AS rn
           |    FROM l2s) WHERE rn <= 5),
           |g AS (
           |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_true,
           |    CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_hit
           |  FROM truth t LEFT JOIN pq p
           |    ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
           |  GROUP BY t.query_id)
           |SELECT 'pq_adc' AS method, query_id, n_true, n_hit,
           |  round(n_hit * 1.0 / n_true, 4) AS recall
           |FROM g ORDER BY query_id""".stripMargin
      }),

    // conversation-level embedding pooling: fixed-point group means over
    // each conv's turn vectors (one partial-agg shuffle of BIGINT sums;
    // bit-reproducible under any partitioning)
    Query("conv_embed", (s, dir) =>
        Similarity.pooledEmbeddings(
            s.read.parquet(s"$dir/embeddings.parquet"),
            pmod(col("vec_id"), lit(Transcripts.Conversations.toLong)))
          .select(col("vec_id").as("conv_idx"), col("n_vecs"),
            posexplode(col("embedding")).as(Seq("d0", "mean")))
          .select(col("conv_idx"), (col("d0") + 1).cast("int").as("dim"),
            col("n_vecs"), col("mean"))
          .orderBy("conv_idx", "dim"),
      {
        val scale = Similarity.kmeansScale
        s"""WITH $duckPooledCtes
           |SELECT vec_id AS conv_idx, dim, n AS n_vecs, s / (n * $scale.0) AS mean
           |FROM pd ORDER BY conv_idx, dim""".stripMargin
      }),

    // conversation-level SEMANTIC dedup over the pooled vectors: the
    // turn->conversation lift composed with SemDeDup (real group-level
    // redundancy, no injected fixtures)
    Query("conv_semantic", (s, dir) =>
        Dedup.semanticDedupOn(
            Similarity.pooledEmbeddings(
              s.read.parquet(s"$dir/embeddings.parquet"),
              pmod(col("vec_id"), lit(Transcripts.Conversations.toLong)))
            .select(col("vec_id"), col("embedding")))
          .orderBy("vec_id"),
      {
        val k = Similarity.ivfCells
        def dotD(a: String, b: String) =
          s"list_sum(list_transform(range(1, ${Similarity.dims + 1}), n -> $a[n] * $b[n]))"
        s"""WITH $duckPooledCtes,
           |v AS (SELECT vec_id, emb, ${dotD("emb", "emb")} AS na FROM pool),
           |cent AS (
           |  SELECT vec_id AS centroid_id, emb AS ce, na AS nb FROM v
           |  WHERE vec_id < $k),
           |sc AS (
           |  SELECT e.vec_id, e.emb, e.na, c.centroid_id,
           |    round(${dotD("e.emb", "c.ce")} / sqrt(e.na * c.nb), 6) AS ccos
           |  FROM v e, cent c),
           |a AS (
           |  SELECT vec_id, emb, na, centroid_id, ccos,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           |  FROM sc),
           |asg AS (
           |  SELECT vec_id, emb, na, centroid_id AS cell, ccos AS centroid_cos
           |  FROM a WHERE rn = 1),
           |p AS (
           |  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
           |    x.centroid_cos AS ac, y.centroid_cos AS bc,
           |    round(${dotD("x.emb", "y.emb")} / sqrt(x.na * y.na), 6) AS cos
           |  FROM asg x JOIN asg y ON x.cell = y.cell AND y.vec_id > x.vec_id),
           |drp AS (
           |  SELECT DISTINCT CASE WHEN ac > bc THEN a_id ELSE b_id END AS vec_id
           |  FROM p WHERE cos >= 0.8)
           |SELECT g.vec_id, g.cell, g.centroid_cos,
           |  (d.vec_id IS NOT NULL) AS dropped
           |FROM asg g LEFT JOIN drp d ON g.vec_id = d.vec_id
           |ORDER BY g.vec_id""".stripMargin
      }),

    // Composed end-to-end training-data pipeline over the dup-injected
    // corpus: exact dedup (keep smallest id per content hash) -> NEAR-dup
    // removal (the flagship three-stage dedup: minhash-LSH candidates ->
    // exact-Jaccard verify -> transitive CLUSTER resolution, dropping every
    // non-min member of each component — a pair-based drop-the-larger-id
    // misses members that only ever appear as the smaller id of their
    // pairs) -> quality filter (uniq-token ratio, length) -> language ID ->
    // per-language corpus stats. Plan shape: one hash-shuffle for the dedup
    // groupBy, the banded equi-join family for near-dups, O(diameter)
    // label-propagation rounds for clusters, one anti-join, one equi-join
    // back for survivor payloads, one partial-agg groupBy — every stage is
    // the 100 TB shape of its standalone operator.
    Query("training_pipeline_e2e", (s, dir) => {
        val doc = Transcripts.documents(s, dir)
        val base = Dedup.withInjectedDups(doc)
        val keepers = base
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val nearDupLosers = Dedup.dupClusters(doc)
          .filter(col("doc_id") =!= col("cluster_id"))
          .select("doc_id")
        val t = TextAnalysis.tokens(col("text"))
        base.join(keepers, Seq("doc_id"))
          .join(nearDupLosers, Seq("doc_id"), "left_anti")
          .withColumn("n_tokens", size(t).cast("int"))
          .withColumn("uniq_ratio",
            size(array_distinct(t)).cast("double") / size(t).cast("double"))
          .withColumn("predicted", TextAnalysis.langPredicted)
          .filter(col("uniq_ratio") >= 0.45 && col("n_tokens") >= 30)
          .groupBy("predicted")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("total_tokens"),
            sum(length(col("text"))).cast("long").as("total_chars"))
          .orderBy("predicted")
      },
      s"""WITH RECURSIVE $duckVerifiedPairCtes,
         |$duckClusterCtes,
         |k AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM base GROUP BY 1),
         |loser AS (SELECT id AS doc_id FROM clusters WHERE id <> cluster_id),
         |j AS (SELECT b.doc_id, b.text FROM base b JOIN k ON b.doc_id = k.doc_id
         |      WHERE b.doc_id NOT IN (SELECT doc_id FROM loser)),
         |s AS (
         |  SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |    len(list_distinct(string_split(text, ' '))) * 1.0
         |      / len(string_split(text, ' ')) AS uniq_ratio,
         |    ${duckLangCounts()}
         |  FROM j),
         |p AS (
         |  SELECT *,
         |    $duckLangCase AS predicted
         |  FROM s)
         |SELECT predicted, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars
         |FROM p WHERE uniq_ratio >= 0.45 AND n_tokens >= 30
         |GROUP BY 1 ORDER BY predicted""".stripMargin),

    // Composed end-to-end DATA-PREP pipeline over the new-family operators:
    // benchmark decontamination -> train-split (keep the train fold) ->
    // token-budget mixture selection -> fixed-length chunking -> the
    // per-language selection report. Plan shape: one broadcast join
    // (decontam), narrow split+budget-hash maps, ONE window shuffle
    // (budget), narrow chunking, one partial-agg groupBy — every stage the
    // 100 TB shape of its standalone operator.
    Query("data_prep_e2e", (s, dir) => {
        val doc = Transcripts.documents(s, dir)
        // the decontaminated corpus feeds THREE stages (split, budget,
        // chunking): materialize it once (the minhashJaccard shingle-table
        // precedent) instead of re-running the decontam subtree per consumer
        // — at 100 TB this is the persisted intermediate corpus table
        val clean = Sampling.decontaminate(doc, Sampling.evalHoldout(doc))
          .localCheckpoint()
        val train = Sampling.trainSplit(clean)
          .filter(col("split") === "train").select("doc_id")
        val selected = Sampling.mixtureBudget(clean.join(train, Seq("doc_id")))
        val chunks = Packing
          .chunkDocuments(clean.join(selected.select("doc_id"), Seq("doc_id")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("doc_chunks"),
            sum("n_chunk_tokens").as("doc_chunk_tokens"))
        selected.join(chunks, Seq("doc_id"))
          .groupBy("predicted")
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum("n_tokens").cast("long").as("sel_tokens"),
            sum("doc_chunks").cast("long").as("n_chunks"),
            sum("doc_chunk_tokens").cast("long").as("chunk_tokens"))
          .orderBy("predicted")
      },
      {
        import graft.operators.Packing.{chunkTokens, chunkStride}
        // per-doc chunk totals use the closed forms the chunk-coverage
        // ScalaCheck law proves: n_chunks as in text_chunks, and
        // sum(chunk lengths) = n + (n_chunks - 1) * (chunkTokens - stride)
        s"""WITH ev AS (
           |  SELECT DISTINCT unnest($duckShingles) AS shingle
           |  FROM documents
           |  WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 3),
           |tr AS (
           |  SELECT doc_id, unnest($duckShingles) AS shingle
           |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (shingle)),
           |clean AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
           |s AS (
           |  SELECT doc_id, text,
           |    ${duckLangCounts()}
           |  FROM clean),
           |p AS (
           |  SELECT doc_id, text,
           |    $duckLangCase AS predicted
           |  FROM s),
           |train AS (
           |  SELECT doc_id, text, predicted FROM p
           |  WHERE CAST('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |      * 1.0 / 4294967296 < ${Sampling.splitTrain}),
           |h AS (
           |  SELECT doc_id, predicted,
           |    CAST(doc_id % ${Sampling.budgetShards} AS INTEGER) AS shard,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |    CAST('0x' || substr(md5('graft-budget:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |      * 1.0 / 4294967296 AS u
           |  FROM train),
           |c AS (
           |  SELECT *,
           |    COALESCE(sum(n_tokens) OVER (
           |      PARTITION BY predicted, shard ORDER BY u, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           |  FROM h),
           |sel AS (SELECT * FROM c WHERE cum_before < ${Sampling.budgetTokens}),
           |k AS (
           |  SELECT doc_id, predicted, n_tokens,
           |    CASE WHEN n_tokens <= $chunkTokens THEN 1
           |         ELSE (n_tokens - $chunkTokens + $chunkStride - 1) // $chunkStride + 1
           |    END AS n_chunks
           |  FROM sel)
           |SELECT predicted,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sel_tokens,
           |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
           |  CAST(sum(n_tokens + (n_chunks - 1) * ${chunkTokens - chunkStride}) AS BIGINT) AS chunk_tokens
           |FROM k GROUP BY 1 ORDER BY predicted""".stripMargin
      }),

    Query("multimodal_meta", (s, dir) => {
        val media = Multimodal.mediaTable(s, Transcripts.documents(s, dir))
        Multimodal.decodeMeta(s, media).toDF().orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(length(text) + 4 AS INTEGER) AS n_bytes,
        |  CAST((length(text) + 4) % 640 + 16 AS INTEGER) AS width,
        |  CAST((length(text) + 4) % 480 + 16 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE (length(text) + 4) * 3 END AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("multimodal_resize", (s, dir) => {
        val media = Multimodal.mediaTable(s, Transcripts.documents(s, dir))
        Multimodal.resize(s, media).toDF()
          .select(col("doc_id"), col("kind"), col("n_bytes"), col("resized_bytes"),
            col("resized").cast("string").as("resized_text"))
          .orderBy("doc_id")
      },
      {
        val payload =
          "(CASE doc_id % 3 WHEN 0 THEN 'IMG0' WHEN 1 THEN 'AUD0' ELSE 'VID0' END || text)"
        s"""WITH m AS (
           |  SELECT doc_id,
           |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           |    $payload AS payload,
           |    length(text) + 4 AS n,
           |    greatest(1, (length(text) + 4) // 64) AS k
           |  FROM documents)
           |SELECT doc_id, kind,
           |  CAST(n AS INTEGER) AS n_bytes,
           |  CAST((n + k - 1) // k AS INTEGER) AS resized_bytes,
           |  array_to_string(
           |    list_transform(range(0, (n + k - 1) // k),
           |      i -> substr(payload, CAST(i * k + 1 AS INTEGER), 1)), '') AS resized_text
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    Query("multimodal_features", (s, dir) => {
        val media = Multimodal.mediaTable(s, Transcripts.documents(s, dir))
        Multimodal.featureExtract(s, media).toDF().orderBy("doc_id")
      },
      {
        val payload =
          "(CASE doc_id % 3 WHEN 0 THEN 'IMG0' WHEN 1 THEN 'AUD0' ELSE 'VID0' END || text)"
        s"""WITH m AS (
           |  SELECT doc_id,
           |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           |    $payload AS payload
           |  FROM documents)
           |SELECT doc_id, kind,
           |  CAST(length(payload) AS INTEGER) AS f_len,
           |  CAST(len(regexp_extract_all(payload, '[A-Za-z]')) AS INTEGER) AS f_alpha,
           |  CAST(len(regexp_extract_all(payload, '[0-9]')) AS INTEGER) AS f_digit,
           |  CAST(len(regexp_extract_all(payload, ' ')) AS INTEGER) AS f_space,
           |  CAST(list_sum(list_transform(range(1, length(payload) + 1),
           |    i -> ord(substr(payload, CAST(i AS INTEGER), 1)))) % 1000003 AS INTEGER) AS f_bytesum
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    Query("multimodal_frames", (s, dir) => {
        val media = Multimodal.mediaTable(s, Transcripts.documents(s, dir))
        Multimodal.frameSample(s, media)
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_frames"),
            sum(length(col("frame"))).cast("long").as("bytes_sampled"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(4 * ((length(text) + 4) // 4) AS BIGINT) AS bytes_sampled
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
