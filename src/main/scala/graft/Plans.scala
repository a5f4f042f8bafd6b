package graft

import graft.operators.{Dedup, Packing, Sampling, Similarity, TextAnalysis}
import graft.spark.{ExtractPipeline, Transcripts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Plan-audit dump: writes `PLANS.md` (in the working directory, not
  * committed) with the FORMATTED physical plans of the load-bearing
  * queries, so the shapes the specs assert (one Exchange in the pipeline,
  * zero Exchange in IVF assignment, pushed filters, pruned scans,
  * whole-stage codegen spans around the native expressions) can be read
  * without a debugger. Generate on demand: `sbt "runMain graft.Plans"`;
  * per-query dumps come from `sbt "runMain graft.BenchExtra --plans <dir>"`.
  */
object Plans {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def fmt(df: DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

    val t = Transcripts.fromDocuments(spark, sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val doc = Transcripts.documents(spark, sfDir)

    val sections: Seq[(String, String, String)] = Seq(
      ("Flagship extraction (salted)",
        "scan with pruned columns -> ONE Exchange (the salted repartition) -> fused typed map",
        fmt(ExtractPipeline.extract(spark, t).toDF())),
      ("IVF cell assignment",
        "map-side argmax over inlined centroid literals: ZERO Exchange, no Window",
        fmt(Similarity.ivfAssign(emb))),
      ("MinHash LSH candidate pairs",
        "native minhash16 signature -> explode bands -> ONE shuffle (groupBy band) -> in-bucket array pairs -> distinct",
        fmt(Dedup.minhashBands(doc))),
      ("Embedding near-dup (banded content LSH)",
        "ONE-pass banding map (native vec_dot plane dots) -> ONE shuffle (groupBy band) -> in-bucket array pairs -> codegen'd per-pair dot -> distinct; degenerate buckets capped; single scan of the input",
        fmt(Dedup.embeddingNearDup(emb))),
      ("Semantic dedup (SemDeDup, cell-scoped)",
        "zero-Exchange centroid-scoring map (centroids collected once) -> ONE shuffle (groupBy cell); per-vector rows AND in-cell streamed dup pairs both read the aggregated cells table (exchange reuse at runtime); drop rule keeps the boundary example",
        fmt(Dedup.semanticDedup(emb))),
      ("k-means Lloyd step (fixed-point accumulation)",
        "narrow assignment map (collected centroids inlined) -> ONE groupBy(cell) with 64+1 map-side-combined BIGINT sums (shuffle = O(cells) rows) -> narrow posexplode to long format; integer sums make the centroids bit-reproducible under any partitioning",
        fmt(Similarity.kmeansStep(emb))),
      ("Blocklist filter + hashed-feature classifier",
        "both pure no-Exchange narrow maps: blocklists/weight table ship as plan literals, so term counting, source blocking, and the hash-lookup-sum-threshold score compose at scan speed with every other per-doc filter",
        fmt(TextAnalysis.blocklist(doc)) + "\n" +
          fmt(TextAnalysis.classifierScore(doc))),
      ("Quality funnel (first-rejecting-stage attribution)",
        "ONE corpus scan computing all four narrow signals -> groupBy(death stage) partial agg (O(stages) rows) -> left join vs the 5-row literal stage table -> cumulative window over 5 rows, never the corpus",
        fmt(TextAnalysis.qualityFunnel(doc))),
      ("Priority-aware cluster retention",
        "cluster fixpoint output + one priority join + row_number window keyed by cluster_id (clusters are capped quasi-cliques, no skewed partition)",
        fmt(Dedup.clusterKeep(doc))),
      ("BPE first-merge pair statistics",
        "map-side explode into an alphabet^2 key space -> partial agg collapses O(chars) rows BEFORE the shuffle -> rank window on the collapsed count table",
        fmt(TextAnalysis.bpePairStats(doc))),
      ("Per-conversation transcript datasheet",
        "ONE partial-agg groupBy keyed by conv_id; map-side combine collapses each scan split to its distinct conversations before the shuffle",
        fmt(Transcripts.convStats(t))),
      ("O22 histograms",
        "one partial-agg groupBy; unpivot explodes over (status, engine) groups only",
        fmt(ExtractPipeline.histograms(ExtractPipeline.extract(spark, t)))),
      ("N-gram Jaccard (±2 window)",
        "candidate keys exploded (doc_id+1, doc_id+2) -> shuffle EQUI-join; no BroadcastNestedLoopJoin anywhere",
        fmt(Dedup.ngramJaccard(doc))),
      ("SimHash near-dup pairs (OR-of-rotations banding)",
        "narrow signature map -> explode 4 rotation windows -> ONE shuffle (groupBy band) -> in-block array pairs -> distinct; degenerate blocks capped",
        fmt(Dedup.simhashPairs(doc))),
      ("Stratified mixture sample",
        "pure NARROW filter (salted-hash Bernoulli per language): zero Exchange, scan-speed composable",
        fmt(Sampling.stratifiedSample(doc))),
      ("Context packing (sharded prefix-sum)",
        "ONE Exchange (the (language, shard) window partition) -> running-sum window -> integer pack math; contexts shard-local by construction",
        fmt(Packing.packContexts(doc))),
      ("Benchmark decontamination",
        "eval shingle set broadcast -> detection is a map-side BroadcastHashJoin over the corpus's exploded shingles (no corpus shuffle); the data-dependent contaminated-id set anti-joins back WITHOUT a forced hint",
        fmt(Sampling.decontaminate(doc, Sampling.evalHoldout(doc)))),
      ("Dup-cluster propagation (one round)",
        "per round: ONE equi-join (edges x labels) + ONE partial-agg groupBy carrying the changed-count as an observed metric — one action per round, rounds = component diameter; shown here for a synthetic 2-edge graph (the iterative runner eagerly checkpoints between rounds)",
        {
          import spark.implicits._
          val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
          val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
            .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
            .distinct()
          val labels = edges.select(col("src").as("id")).distinct()
            .withColumn("label", col("id"))
          fmt(Dedup.clusterStep(edges, labels))
        }),
      ("Fractional upweighting (mixture replication)",
        "pure NARROW stage: per-row weight lookup -> Bernoulli -> explode(sequence); zero Exchange",
        fmt(Sampling.upweight(doc))),
      ("Windowed-fingerprint dedup (winnowed, exact-substring tradition)",
        "one-pass stride-1 window fingerprints winnowed to per-span minima (toks and wfps arrays each materialized once per row) -> ONE shuffle (groupBy wfp) -> streamed in-bucket pairs; capped + observable",
        fmt(Dedup.windowDupPairs(doc))),
      ("PII scrubbing",
        "pure NARROW map (codegen'd regexes over the injected corpus): zero Exchange",
        fmt(TextAnalysis.scrubPii(doc))),
      ("Repetition signal (Gopher rules)",
        "pure NARROW map: total 3-grams is arithmetic, only the distinct shingle set (native shingles3 kernel) materializes; zero Exchange",
        fmt(TextAnalysis.repetition(doc))),
      ("Fixed-length chunking with overlap",
        "pure NARROW stage: token array + per-chunk fingerprint array materialized once per row -> one posexplode; zero Exchange",
        fmt(Packing.chunkDocuments(doc))),
      ("Train/val/test hash split",
        "pure NARROW map (salted-hash thresholds): zero Exchange, stable under corpus growth",
        fmt(Sampling.trainSplit(doc))),
      ("Token-budget mixture selection",
        "ONE Exchange (the (language, shard) window partition) -> running-sum window in salted-hash priority order -> budget filter; budgets shard-local by construction",
        fmt(Sampling.mixtureBudget(doc))),
      ("Corpus-frequency LM scoring",
        "vocab: ONE map-side-combined word-count shuffle + driver top-K; scoring: BROADCAST hash join of the fixed-size vocab -> one partial-agg groupBy(doc_id)",
        fmt(TextAnalysis.lmScore(doc))),
      ("Corpus datasheet (per source x language)",
        "ONE map-side-combined groupBy; integer signals only",
        fmt(TextAnalysis.corpusStats(doc))),
      ("Incremental (ingestion-time) dedup",
        "the EXISTING corpus's artifacts (content hash + guarded band keys) are built in ONE scan and eagerly checkpointed (Scan ExistingRDD below — production: prebuilt catalog tables via incrementalDedupWith); incoming computes its signature once; three shuffled equi-joins (hash, bands, id anti-join), no cartesian",
        {
          val base = doc.select(col("doc_id"), col("text"))
          fmt(Dedup.incrementalDedup(
            base.filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
              org.apache.spark.sql.functions.lit(3L)) =!= 0),
            base.filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
              org.apache.spark.sql.functions.lit(3L)) === 0)))
        }),
      ("Incremental dedup against PREBUILT artifacts (the streaming static sides)",
        "incrementalDedupWith over an existing artifact table — the exact static-side shape dedup_incremental_stream joins per micro-batch (stream-static, stateless); artifact reads are LogicalRDD scans, only the incoming side evaluates minhash16",
        {
          val base = doc.select(col("doc_id"), col("text"))
          val art = Dedup.corpusArtifacts(
            base.filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
              org.apache.spark.sql.functions.lit(3L)) =!= 0))
          fmt(Dedup.incrementalDedupWith(art,
            base.filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
              org.apache.spark.sql.functions.lit(3L)) === 0)))
        }),
      ("URL canonicalization + URL-level dedup",
        "url_canonical is a pure codegen'd native expression (zero Exchange in the projection); URL dedup is ONE hash shuffle on the canonical key with map-side partial agg",
        {
          import org.apache.spark.sql.functions.{concat, expr, lit, count, min, pmod, when}
          val url = concat(lit("https://EXAMPLE.com/page/"),
            expr("CAST(doc_id DIV 2 AS LONG)"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("/"))
              .otherwise(lit("?utm_source=x")))
          fmt(doc.select(col("doc_id"),
              graft.spark.HashFunctions.urlCanonical(url).as("canonical"))
            .groupBy("canonical")
            .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keep_doc_id")))
        }),
      ("Deterministic corpus shuffle (terasort shape)",
        "salt-keyed hash rank -> ONE range/hash Exchange -> shard-local rank window; epoch changes reshuffle by changing only the salt",
        fmt(Sampling.shuffleOrder(doc))),
      ("Bloom-screened incremental dedup (probe projection)",
        "ONE might_contain over an array of guarded probe values (exists HOF): one filter literal in the plan regardless of probe count — the screen a 100 TB ingest runs before any join reaches the shuffle (dossier uses a 64-item filter so the literal stays readable; the operator's default is corpus-sized)",
        {
          val base = doc.select(col("doc_id"), col("text"))
          val art = Dedup.corpusArtifacts(
            base.filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
              org.apache.spark.sql.functions.lit(3L)) =!= 0))
          fmt(Dedup.hashAndBands(base, Seq(col("doc_id")))
            .withColumn("bloom_cand",
              Dedup.bloomCandidate(Dedup.corpusBloom(art, expectedItems = 64))))
        }),
      ("Trained classifier scoring (distilled weights as plan literals)",
        "training is ONE tiny-key groupBy (explode tokens -> <=64 buckets, map-side partial agg) + a 64-row collect; scoring inlines the trained weights and stays the untrained classifier's zero-Exchange narrow map",
        fmt(TextAnalysis.classifierScoreTrained(doc,
          TextAnalysis.trainClassifier(doc)))),
      ("Runaway-loop capping (conv_cap)",
        "the tiny per-conv verdict table BROADCASTS back onto the turns (no corpus shuffle for the join); the corpus pays exactly ONE Exchange — the conv_id partitioning the row_number window needs; only runaway convs lose rows",
        fmt(Transcripts.convCap(Transcripts.withInjectedConvAnomalies(t)))),
      ("Semantic ingest dedup (incoming vs existing cell artifact)",
        "incoming batch: ONE zero-Exchange scoring map (checkpointed -> ExistingRDD reuse for join + report); existing side reads its materialized artifact; one cell equi-join + codegen'd per-pair dot + distinct anti-join; oversized cells excluded observably",
        {
          val base = emb.select(col("vec_id"),
            org.apache.spark.sql.functions.expr(
              "transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
          fmt(Dedup.semanticDedupIncremental(base,
            base.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))))
        }),
      ("Conversation embedding pooling + group-level SemDeDup (conv_embed / conv_semantic)",
        "pooling: ONE partial-agg groupBy whose shuffle carries (conv, 64 BIGINT fixed-point sums, count) — never member vectors; integer sums = bit-reproducible means under any partitioning; the pooled table feeds the unchanged SemDeDup plan family",
        fmt(Similarity.pooledEmbeddings(emb,
          org.apache.spark.sql.functions.pmod(col("vec_id"),
            org.apache.spark.sql.functions.lit(Transcripts.Conversations.toLong))))),
      ("Chat-protocol validation (conv_protocol)",
        "one lag Window on (conv_id, turn_idx) feeding a groupBy on the SAME conv_id partitioning — the Exchange is paid once (reuse); open/close/doubled-turn rules are expressions over the windowed rows",
        fmt(Transcripts.convProtocol(Transcripts.rawTurns(spark, sfDir)))),
      ("SFT batch prep end to end (conv_sft_e2e)",
        "render's ONE groupBy(conv_id) -> salted shard hash -> per-shard prefix-sum window (each shard's sort fits one task; raise sftShards at scale, nothing else changes): TWO Exchanges total, no global order ever materializes",
        fmt(Transcripts.convSftPack(Transcripts.rawTurns(spark, sfDir)))),
      ("Chat-template render + loss-mask spans (conv_render / conv_spans)",
        "render: ONE partial-agg groupBy(conv_id) (ObjectHashAggregate, partial_collect_list map-side); the ordered concat is an expression over the aggregate, per-group state O(conv turns); spans: one running-sum Window on the SAME conv_id partitioning — composed render+spans reuses the Exchange",
        fmt(Transcripts.convRender(Transcripts.rawTurns(spark, sfDir))) + "\n" +
          fmt(Transcripts.convSpans(Transcripts.rawTurns(spark, sfDir)))),
      ("Product quantization: encode + ADC top-k (ann_pq_*)",
        "encode: ZERO-Exchange narrow map — 8x16 distance table against the plan-literal codebook (136 native vecDot kernels/row, one codegen'd projection) -> argmin nibbles; ADC: per-query 8x16 LUT precomputed on the tiny broadcast side, each database vector costs 8 lookups + 7 adds over its codes — raw vectors never rescanned",
        fmt(Similarity.pqEncode(emb)) + "\n" + fmt(Similarity.pqTopK(emb))),
      ("Contamination scoring (decontaminate_score)",
        "ONE corpus scan: narrow shingle explode -> broadcast eval-set LEFT join decides hits map-side -> one partial-agg groupBy(doc_id); the only other Exchange is the tiny eval distinct",
        fmt(Sampling.contaminationScore(doc, Sampling.evalHoldout(doc)))),
      ("BPE encoding with trained merges (text_bpe_apply)",
        "the trained merge list rides the plan as chained replace literals (round order, cascading) — a pure ZERO-Exchange narrow map over the corpus; training's own cost is one tiny-key shuffle + a 1-row collect per round, upstream",
        fmt(TextAnalysis.bpeApply(doc))),
      ("Crawl-frontier ingest (url_frontier_e2e)",
        "canonicalize + bloom probe are ONE narrow map (the filter rides as a single binary literal); no-hit urls bypass the join entirely; candidates run the exact canonical-key equi-join; the host cap is the broadcast rate-table decision — the frontier batch never hash-shuffles",
        {
          import graft.operators.Frontier
          val urls = doc.select(col("doc_id").as("url_id"),
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit("https://"), col("source"),
              org.apache.spark.sql.functions.lit(".example.com/page/"),
              col("doc_id")).as("url"))
          fmt(Frontier.frontierIngest(
            Frontier.frontierArtifact(urls.select(col("url"))), urls))
        }),
      ("Web-curation pipeline end to end (web_prep_e2e)",
        "domain cap decides map-side off the broadcast rate table (corpus unshuffled) -> span dedup's three equi-keyed shuffles over the CAPPED subset only -> narrow length gate -> per-host report joins three tiny host-level aggregates",
        {
          val host = org.apache.spark.sql.functions.concat(col("source"),
            org.apache.spark.sql.functions.lit(".example.com"))
          val d = doc.select(col("doc_id"), host.as("host"), col("text"))
          val capped = Sampling.domainCap(d.select(col("doc_id"), col("host")))
            .filter(col("kept")).select("doc_id", "host")
            .join(d.select(col("doc_id"), col("text")), Seq("doc_id"))
          fmt(Dedup.spanDedup(capped.select(col("doc_id"), col("text"))))
        }),
      ("Winnowed ingest dedup (incoming vs fingerprint artifact, dedup_window_incremental)",
        "narrow winnowed-fingerprint map on the incoming batch -> ONE left-semi equi-join against the checkpointed artifact -> anti-join back; the winnowing guarantee (>= W+S-1-token runs caught at ANY alignment) carries into the ingest form",
        {
          val base = doc.select(col("doc_id"), col("text"))
          fmt(Dedup.windowDedupIncremental(Dedup.windowArtifacts(base), base))
        }),
      ("Two-epoch incremental ingest (artifact append, dedup_incremental_epoch)",
        "epoch-1 survivors' hashAndBands rows UNION onto the artifact table (one narrow pass over the BATCH — the existing corpus is never rescanned); epoch 2 runs the same equi-joins against the merged artifacts, catching cross-epoch duplicates",
        {
          val base = doc.select(col("doc_id"), col("text"))
          val art0 = Dedup.corpusArtifacts(base)
          fmt(Dedup.incrementalDedupWith(
            Dedup.updateArtifacts(art0, base.limit(10)), base))
        }),
      ("Span ingest dedup (incoming vs block artifact, dedup_span_incremental)",
        "incoming docs explode narrowly; ONE left equi-join against the checkpointed 16-byte-per-block artifact (the corpus text never rescans); one groupBy(doc_id) ordered reassembly — syndicated boilerplate stripped at the door",
        {
          val base = doc.select(col("doc_id"), col("text"))
          fmt(Dedup.spanDedupIncremental(Dedup.spanArtifacts(base), base))
        }),
      ("Containment dedup (posting-list join, dedup_containment)",
        "ONE shingle pass (checkpoint feeds postings AND sizes) -> groupBy(shingle) posting lists with the OBSERVABLE stop-gram df cap -> streamed in-bucket pairs (no flatten) -> groupBy(a,b) shared counts -> two size equi-joins; pair work bounded by sum of rare-bucket^2, the band-family bound",
        fmt(Dedup.containmentPairs(doc.select(col("doc_id"), col("text"))))),
      ("Span dedup with text rewrite (dedup_span)",
        "narrow posexplode into 10-token blocks -> keeper = skew-safe partial MIN-STRUCT groupBy on the block hash (a row_number window would serialize a boilerplate block's 10^9 instances into one task) -> hash equi-join back (AQE skew-handled) -> one groupBy(doc_id) ordered reassembly",
        fmt(Dedup.spanDedup(doc.select(col("doc_id"), col("text"))))),
      ("Exact-N per-stratum sampling (sample_exact_n)",
        "two-phase: rate PREFILTER decided map-side off the broadcast per-stratum count table (corpus unshuffled) -> only the ~safety*N-per-stratum sliver pays the rank Window — a bare row_number over a 10^12-row stratum would serialize into one task",
        fmt(Sampling.exactNSample(doc))),
      ("Per-domain cap (rate form, skew-free)",
        "the ONLY hash shuffle is the tiny (host, partial count) agg; the O(domains) rate table BROADCASTS back; kept decided map-side from the salted hash — no per-domain window, so a mega-domain never lands in one task",
        fmt(Sampling.domainCap(doc.select(col("doc_id"),
          org.apache.spark.sql.functions.concat(col("source"),
            org.apache.spark.sql.functions.lit(".example.com")).as("host"))))),
      ("Exact media dedup (binary column, codec-free)",
        "md5 of the payload bytes computed MAP-SIDE inside the partial HashAggregate: the one Exchange carries (kind, 32-hex digest, partial count) rows — the media bytes never shuffle",
        fmt(graft.operators.Multimodal.mediaDedup(
          graft.operators.Multimodal.mediaTable(spark,
            doc.select(col("doc_id"), col("text")))))),
      ("Conversation-level curation (conv_filter)",
        "ONE partial-agg groupBy(conv_id) builds the per-conversation keep-set (single-turn + tool-share rules, stratum payload), then one equi-join back to the turns — no window, no second corpus shuffle",
        fmt(Transcripts.convFilter(Transcripts.withInjectedConvAnomalies(t)))),
      ("Trained-quantizer SemDeDup (k-means-trained centroids)",
        "identical plan family to the first-K SemDeDup — training happens UPSTREAM as iterated kmeansStepWith rounds (each: zero-Exchange assignment map + O(cells) shuffle + a cells-x-dims driver fetch); the trained table inlines as plan literals, so scoring/pairing shapes are unchanged",
        fmt(Dedup.semanticDedupTrained(emb))),
      ("Composed data-prep pipeline (decontaminate -> split -> budget -> chunk -> report)",
        "the decontaminated corpus is materialized ONCE (localCheckpoint -> LogicalRDD; three consumers, zero decontam re-runs), then: narrow hash maps (split + budget priority), ONE window Exchange (sharded budget), narrow chunking, one partial-agg groupBy per report stage — each stage its standalone operator's scale shape",
        {
          val clean = Sampling.decontaminate(doc, Sampling.evalHoldout(doc))
            .localCheckpoint()
          val train = Sampling.trainSplit(clean)
            .filter(col("split") === "train").select("doc_id")
          val selected = Sampling.mixtureBudget(clean.join(train, Seq("doc_id")))
          import org.apache.spark.sql.functions.{count, lit, sum}
          val chunks = Packing
            .chunkDocuments(clean.join(selected.select("doc_id"), Seq("doc_id")))
            .groupBy("doc_id")
            .agg(count(lit(1)).as("doc_chunks"),
              sum("n_chunk_tokens").as("doc_chunk_tokens"))
          fmt(selected.join(chunks, Seq("doc_id"))
            .groupBy("predicted")
            .agg(count(lit(1)).as("n_docs"), sum("doc_chunks").as("n_chunks")))
        })
    )

    val md = new StringBuilder
    md.append("# PLANS — formatted physical plans of the load-bearing queries\n\n")
    md.append(s"Generated by `graft.Plans` over `$sfDir`. The plan-shape\n")
    md.append("invariants below are also pinned by PipelineSpec plan tests.\n")
    sections.foreach { case (title, claim, plan) =>
      md.append(s"\n## $title\n\n$claim\n\n```\n${plan.trim}\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), md.toString)
    // scalastyle:off println
    println(s"[plans] wrote PLANS.md (${sections.size} sections)")
    // scalastyle:on println
    spark.stop()
  }
}
