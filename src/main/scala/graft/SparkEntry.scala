package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, LabelPropagation, TriangleCount}
import graft.ann.Ann
import graft.dedup.Dedup
import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
import graft.model.PagerankOptions
import graft.multimodal.Multimodal
import graft.pagerank.{CsrDynamic, CsrPageRank, PageRank}
import graft.streaming.IncrementalPageRank
import graft.text.TextOps

/** Driver contract — queries + DuckDB oracle SQL (SURVEY.md §5, §7).
  *
  * Graph queries run over a deterministic edge table derived from the
  * driver's lineitem/orders parquet (SQL-expressible in DuckDB for the exact
  * oracle), and over the synthetic web fixture (non-SQL-expressible ranks are
  * covered by the in-memory Scala oracle in ScalaTest instead).
  */
object SparkEntry {

  /** Shared derived graph: deterministic, sparse (avg degree ~2), DuckDB-
    * expressible. 4k+ vertices over a 5000-id space. */
  private def derivedEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_linenumber") === 1)
      .select((col("l_orderkey") % 5000).as("src"),
        (col("l_partkey") % 5000).as("dst"))
      .distinct()

  private val edgesCte =
    "SELECT DISTINCT l_orderkey % 5000 AS src, l_partkey % 5000 AS dst " +
      "FROM lineitem WHERE l_linenumber = 1"

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def emb(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
        col("label"))
    // A small embeddings corpus is one parquet file → one scan task, so the
    // O(|corpus|·dim) cosine/signature work of every ANN query ran on a
    // single core (guide §2.5 input under-splitting). Spread it only when
    // the scan under-splits; at scale this is a no-op. Result-invariant:
    // Ann.topK's per-partition exact heaps + deterministic global merge do
    // not depend on partitioning, and the LSH bucket signature is per-row.
    if (e.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
      e.repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    else e
  }

  /** Deterministic base/batch split of the derived graph for the dynamic-
    * variant queries: x = edges minus a slice (+ self-loops on the full
    * vertex set), y = all edges (+ self-loops), insertions = the slice.
    * The vertex universe is identical in x and y (reference eager-universe
    * contract, /root/reference/inc/snap.hxx:133). */
  private def dynamicSplit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = derivedEdges(s, dir)
    val verts = EdgeOps.vertices(e)
    val ins = e.where((col("src") + col("dst")) % 17 === 0)
    val x = EdgeOps.withSelfLoops(
      e.join(ins, Seq("src", "dst"), "left_anti"), verts)
    val y = EdgeOps.withSelfLoops(e, verts)
    (x, y, ins)
  }

  private def tightDynOpts: PagerankOptions =
    PagerankOptions(frontierTolerance = 1e-12, pruneTolerance = 1e-12)

  /** Web fixture graph (pages → links → ids), small scale for Verify. */
  private def webGraph(s: SparkSession, pageCount: Long): (DataFrame, DataFrame) = {
    val pages = WebGraphFixture.pages(s, pageCount).toDF()
    val (dict, staged) = EdgeOps.stage(pages)
    (dict, staged)
  }

  /** Flagship: static PageRank over links extracted from the synthetic pages
    * table (driver smoke-checks rows > 0 on sf0.001 — sfDir is unused; the
    * fixture is self-synthesized per the north rule). */
  def entry(spark: SparkSession): DataFrame = {
    val (dict, staged) = webGraph(spark, 200L)
    val y = EdgeOps.withSelfLoops(EdgeOps.simple(staged), dict.select("id"))
    new PageRank(spark).static(y).ranks
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------- graph (SQL)
    "q_degree_distribution" -> ((s, dir) =>
      derivedEdges(s, dir).groupBy("src").agg(count(lit(1)).as("out_deg"))
        .groupBy("out_deg").agg(count(lit(1)).as("n_vertices"))
        .orderBy("out_deg")),

    "q_graph_summary" -> ((s, dir) => {
      val e = derivedEdges(s, dir)
      val e2 = EdgeOps.withSelfLoops(e, EdgeOps.vertices(e))
      e2.agg(
        count(lit(1)).as("n_edges"),
        count(when(col("src") === col("dst"), 1)).as("n_self"),
        countDistinct(col("src")).as("n_vertices"))
    }),

    "q_symmetrize_count" -> ((s, dir) =>
      EdgeOps.symmetrize(derivedEdges(s, dir))
        .agg(count(lit(1)).as("n_edges"))),

    // Degree annotation via a window over the SAME scan instead of
    // EdgeOps.linksWithDeg's self-join (which planned lineitem scan +
    // distinct TWICE — 6 Exchanges; this shape is 1 scan / 3): count() over
    // partitionBy(src) on the deduped edges is exactly outDeg, and the
    // window's clustering key equals the old join key, so skew behavior is
    // unchanged. Same result, oracle-checked.
    "q_indegree" -> ((s, dir) =>
      derivedEdges(s, dir)
        .withColumn("outDeg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
        .groupBy("dst")
        .agg(count(lit(1)).as("in_deg"), sum("outDeg").as("sum_src_outdeg"))
        .orderBy("dst")),

    "q_triangle_count" -> ((s, dir) => {
      val n = TriangleCount.global(s, EdgeOps.symmetrize(derivedEdges(s, dir)))
      import s.implicits._
      Seq(n).toDF("triangles")
    }),

    "q_pagerank_iter3" -> ((s, dir) => {
      val e = derivedEdges(s, dir)
      val y = EdgeOps.withSelfLoops(e, EdgeOps.vertices(e))
      val pr = new PageRank(s, PagerankOptions(tolerance = 0.0, maxIterations = 3))
      pr.static(y).ranks.select(col("id"),
        round(col("rank"), 6).as("rank3")).orderBy("id")
    }),

    // The insertions (orders with o_orderkey % 7 = 0) and deletions (~9% of
    // the base) are sized to the table, not to a stream batch: they go to
    // the driver (EdgeOps' batch-fits-on-the-driver contract), which holds
    // at the sf0.01 scale this query is exercised at.
    "q_batch_apply" -> ((s, dir) => {
      val base = derivedEdges(s, dir)
      val ins = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") % 5000).as("src"),
          (col("o_custkey") % 5000).as("dst")).distinct()
      val del = base.where(col("src") % 11 === 0)
      EdgeOps.applyBatch(base, ins, del)
        .agg(count(lit(1)).as("n_edges"),
          countDistinct(col("src")).as("n_src"),
          countDistinct(col("dst")).as("n_dst"))
    }),

    // Batch tidying B4-B7 (filter by existence + dedupe + sort,
    // /root/reference/inc/batch.hxx:153-208): tidied insertions are the
    // batch rows NOT in the base, tidied deletions those that ARE. The
    // batch (every order) goes to the driver, as q_batch_apply's does;
    // exercised at sf0.01 only.
    "q_tidy_batch" -> ((s, dir) => {
      val base = derivedEdges(s, dir)
      val batch = s.read.parquet(s"$dir/orders.parquet")
        .select((col("o_orderkey") % 5000).as("src"),
          (col("o_custkey") % 5000).as("dst"))
      EdgeOps.tidyInsertions(batch, base).withColumn("kind", lit("ins"))
        .union(EdgeOps.tidyDeletions(batch, base).withColumn("kind", lit("del")))
        .orderBy("kind", "src", "dst")
    }),

    // C4 removeVertex as a bulk set (/root/reference/inc/Graph.hxx:364-369).
    "q_remove_vertices" -> ((s, dir) => {
      val e = derivedEdges(s, dir)
      val victims = EdgeOps.vertices(e).where(col("id") % 37 === 0)
      EdgeOps.removeVertices(e, victims).orderBy("src", "dst")
    }),

    // ------------------------------------------ graph (DuckDB-oracled too)
    "q_connected_components" -> ((s, dir) =>
      ConnectedComponents.run(s, EdgeOps.symmetrize(derivedEdges(s, dir)))
        .orderBy("id")),

    "q_label_propagation" -> ((s, dir) =>
      LabelPropagation.run(s, EdgeOps.symmetrize(derivedEdges(s, dir)), rounds = 4)
        .orderBy("id")),

    // The convergence loop incl. the L∞ 1e-10 stop rule (q_pagerank_iter3
    // only covers a fixed-iteration run with the stop bypassed); oracle =
    // 100 unrolled power-iteration rounds in DuckDB, both rounded to 6 dp.
    "q_pagerank_converged" -> ((s, dir) => {
      val e = derivedEdges(s, dir)
      val y = EdgeOps.withSelfLoops(e, EdgeOps.vertices(e))
      new PageRank(s).static(y).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    // Same fixpoint through the partition-local CSR fast path — puts the
    // CSR engine itself under the DuckDB hard signal.
    "q_pagerank_csr_converged" -> ((s, dir) => {
      val e = derivedEdges(s, dir)
      val y = EdgeOps.withSelfLoops(e, EdgeOps.vertices(e))
      new CsrPageRank(s).static(y).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    // Warm-start dynamic loop under the hard signal: base graph = edges
    // minus a deterministic slice, batch = that slice; Naive-dynamic
    // (V2: warm init, full sweep) re-converges on y to the SAME fixpoint as
    // the 100-round oracle over the full edge set — verifying the
    // batch-apply + warm-start + convergence path with no DF truncation
    // caveat (DF itself is covered by ScalaTest vs the in-memory oracle).
    // Like every dynamic variant it runs on the CsrDynamic engine.
    "q_pagerank_naive_dynamic" -> ((s, dir) => {
      val (x, y, _) = dynamicSplit(s, dir)
      val pr = new PageRank(s)
      val prev = pr.static(x).ranks
      pr.naiveDynamic(y, prev).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    // DF / DT / DF-P under the DuckDB hard signal (same base/batch split as
    // q_pagerank_naive_dynamic): frontier/prune tolerances tightened to
    // 1e-12 so the frontier-truncation error (≈ tol·rank/(1−P)) sits orders
    // below the 5e-7 rounding margin — every variant re-converges to the
    // SAME fixpoint as the 200-round power-iteration oracle. These three rows
    // run the same CsrDynamic engine as the csr_* rows below, through the
    // public PageRank API.
    "q_pagerank_dynamic_frontier" -> ((s, dir) => {
      val (x, y, ins) = dynamicSplit(s, dir)
      val pr = new PageRank(s, tightDynOpts)
      val prev = pr.static(x).ranks
      pr.dynamicFrontier(x, y, ins, ins.limit(0), prev).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    "q_pagerank_dynamic_traversal" -> ((s, dir) => {
      val (x, y, ins) = dynamicSplit(s, dir)
      val pr = new PageRank(s, tightDynOpts)
      val prev = pr.static(x).ranks
      pr.dynamicTraversal(x, y, ins, ins.limit(0), prev).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    "q_pagerank_dfp" -> ((s, dir) => {
      val (x, y, ins) = dynamicSplit(s, dir)
      val pr = new PageRank(s, tightDynOpts)
      val prev = pr.static(x).ranks
      pr.dynamicFrontierPrune(x, y, ins, ins.limit(0), prev).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    // The same dynamic runs warm-started from the CSR static ranks instead
    // of the DataFrame ones — the all-CSR pipeline under the hard signal.
    "q_pagerank_csr_frontier" -> ((s, dir) => {
      val (x, y, ins) = dynamicSplit(s, dir)
      val pr = new PageRank(s, tightDynOpts)
      val prev = new CsrPageRank(s, tightDynOpts).static(x).ranks
      pr.dynamicFrontier(x, y, ins, ins.limit(0), prev).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    "q_pagerank_csr_traversal" -> ((s, dir) => {
      val (x, y, ins) = dynamicSplit(s, dir)
      val pr = new PageRank(s, tightDynOpts)
      val prev = new CsrPageRank(s, tightDynOpts).static(x).ranks
      pr.dynamicTraversal(x, y, ins, ins.limit(0), prev).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    "q_pagerank_csr_dfp" -> ((s, dir) => {
      val (x, y, ins) = dynamicSplit(s, dir)
      val pr = new PageRank(s, tightDynOpts)
      val prev = new CsrPageRank(s, tightDynOpts).static(x).ranks
      pr.dynamicFrontierPrune(x, y, ins, ins.limit(0), prev).ranks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    // The carried-state form of the CSR engine: the batch is applied via
    // CsrDynamic.applyBatch's in-place CSR SPLICE (no re-freeze of y) and
    // re-converges from the carried (rank, S) state — the splice path
    // itself (S-retraction/addition + DF marking emitted by spliceBlock)
    // under the hard signal. Same fixpoint as the 200-round oracle.
    "q_pagerank_csr_splice" -> ((s, dir) => {
      val (x, _, ins) = dynamicSplit(s, dir)
      val opts = tightDynOpts
      val dyn = new CsrDynamic(s, opts)
      val g = new CsrPageRank(s, opts).build(x)
      val (_, st0) = dyn.staticWithState(g)
      val (_, run, _) = dyn.applyBatch(g, st0, ins, ins.limit(0), prune = false)
      run.ranks.select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    // Splice DELETION path + prune kernel from carried state: base = full
    // graph, batch deletes the deterministic slice (self-loops never
    // deleted); fixpoint = PageRank over (e EXCEPT slice) with the
    // UNCHANGED vertex universe.
    "q_pagerank_csr_splice_del" -> ((s, dir) => {
      val e = derivedEdges(s, dir)
      val del = e.where((col("src") + col("dst")) % 17 === 0 &&
        col("src") =!= col("dst"))
      val x = EdgeOps.withSelfLoops(e, EdgeOps.vertices(e))
      val opts = tightDynOpts
      val dyn = new CsrDynamic(s, opts)
      val g = new CsrPageRank(s, opts).build(x)
      val (_, st0) = dyn.staticWithState(g)
      val (_, run, _) = dyn.applyBatch(g, st0, del.limit(0), del, prune = true)
      run.ranks.select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    // The streaming front end (S1/K1 subsystem) under the hard signal: the
    // full derived graph replayed through IncrementalPageRank.applyBatch as
    // FOUR deterministic micro-batches — bootstrap (static over the fixed
    // universe), a plain insertion batch, a mixed op-typed batch (inserts +
    // deletions, exercising split()'s op routing on the carried-CSR path),
    // and a batch re-inserting the deleted slice. The final edge set is
    // exactly the full graph, so the stream re-converges to the SAME
    // fixpoint as the 200-round DuckDB oracle (convergedPrSql).
    "q_pagerank_stream" -> ((s, dir) => {
      val e = derivedEdges(s, dir)
      val verts = EdgeOps.vertices(e)
      val sliceA = e.where((col("src") + col("dst")) % 17 === 0)
      val sliceB = e.where((col("src") + col("dst")) % 17 =!= 0 &&
        (col("src") + col("dst")) % 13 === 0)
      val delA = sliceA.where(col("src") % 2 === 0 && col("src") =!= col("dst"))
      val base = e.join(sliceA, Seq("src", "dst"), "left_anti")
        .join(sliceB, Seq("src", "dst"), "left_anti")
      val ipr = new IncrementalPageRank(s, verts, tightDynOpts)
      ipr.applyBatch(base)
      ipr.applyBatch(sliceA)
      ipr.applyBatch(
        sliceB.withColumn("op", lit("ins"))
          .union(delA.withColumn("op", lit("del"))))
      ipr.applyBatch(delA.withColumn("op", lit("ins")))
      ipr.currentRanks
        .select(col("id"), round(col("rank"), 6).as("rank")).orderBy("id")
    }),

    "q_pagerank_web_static" -> ((s, dir) => {
      val (dict, staged) = webGraph(s, 400L)
      val y = EdgeOps.withSelfLoops(EdgeOps.simple(staged), dict.select("id"))
      new PageRank(s).static(y).ranks
        .select(col("id"), round(col("rank"), 9).as("rank")).orderBy("id")
    }),

    "q_pagerank_web_dynamic_frontier" -> ((s, dir) => {
      val (dict, staged) = webGraph(s, 400L)
      val m = staged.count()
      val base90 = (0.9 * m).toLong
      val verts = dict.select("id")
      val x = EdgeOps.withSelfLoops(
        EdgeOps.simple(staged.where(col("seq") < base90)), verts)
      val ins = staged.where(col("seq") >= base90).select("src", "dst")
      val y = EdgeOps.applyBatch(x, ins, staged.limit(0).select("src", "dst"))
      val pr = new PageRank(s)
      val prev = pr.static(x).ranks
      pr.dynamicFrontier(x, y, ins, ins.limit(0), prev).ranks
        .select(col("id"), round(col("rank"), 9).as("rank")).orderBy("id")
    }),

    // --------------------------------------------------------- text / dedup
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy("keep_id")),

    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.tokensWs(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),

    "q_text_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        (TextOps.qualityScore(col("text")) + lit(0.0)).as("quality"))
        .orderBy("doc_id")),

    "q_lang_pred" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred")).orderBy("doc_id")),

    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fingerprint")).orderBy("doc_id")),

    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), n = 5, k = 32, bands = 8, threshold = 0.5)
        .orderBy("a", "b")),

    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 6).orderBy("a", "b")),

    // doc_id < 100 caps the quadratic exact verifier for harness cost — the
    // cap is mirrored verbatim in the DuckDB oracle SQL below.
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir).where(col("doc_id") < 100), n = 5,
        threshold = 0.2).orderBy("a", "b")),

    // ----------------------------------------------------------- embeddings
    "q_ann_bruteforce" -> ((s, dir) => {
      // ranks on the ROUNDED cosine (like the DuckDB oracle) so fp noise in
      // the last ulp can't flip near-tied neighbors between engines; +0.0
      // normalizes -0.0.
      val queries = emb(s, dir).where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val scored = emb(s, dir).crossJoin(broadcast(queries))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (round(Ann.cosine(col("embedding"), col("qvec")), 6) + lit(0.0)).as("cos_r"))
      // bounded per-partition top-k (no per-qid global window) — Ann.topK
      Ann.topK(scored, 5, "cos_r")
        .select(col("qid"), col("vec_id"), col("cos_r"),
          col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val queries = emb(s, dir).where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.lshTopK(emb(s, dir), queries, 5, nBits = 3, nTables = 8)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos_r"),
          col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),

    "q_embedding_neardup" -> ((s, dir) =>
      // driver embeddings are near-random (pair cosine tops out ~0.4) —
      // 0.3 is the "near-duplicate" band for this corpus
      Ann.nearDupPairs(emb(s, dir), threshold = 0.3, nBits = 3, nTables = 8)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos_r"))
        .orderBy("a", "b")),

    // ----------------------------------------------------------- multimodal
    "q_multimodal_features" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(docs(s, dir))
      Multimodal.imageFeatures(s, media, featureDim = 8).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          round(col("meanLuma"), 6).as("mean_luma"))
        .orderBy("doc_id")
    }),

    // Typed multimodal metadata columns (kind routing + width/height/
    // duration derivation) — the non-stub half of the media pipeline,
    // exactly DuckDB-expressible.
    "q_media_metadata" -> ((s, dir) =>
      Multimodal.mediaFromDocuments(docs(s, dir))
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("durationMs").as("duration_ms"))
        .orderBy("doc_id")),

    "q_video_frames" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(docs(s, dir))
      Multimodal.sampleFrames(s, media, everyMs = 5000, maxFrames = 4).toDF()
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("doc_id")
    })
  )

  /** One synchronous LP round as DuckDB CTEs: neighbor-label counts → mode
    * with (count desc, label asc) tie-break → label update (isolated
    * vertices keep theirs) — exactly [[LabelPropagation.run]]'s semantics. */
  private def lpRoundSql(prev: String, i: Int): String =
    s"""counts$i AS (SELECT e.dst AS id, l.label, count(*) AS n
       |  FROM sym e JOIN $prev l ON l.id = e.src GROUP BY 1, 2),
       |mode$i AS (SELECT id, label FROM (
       |  SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rn
       |  FROM counts$i) WHERE rn = 1),
       |r$i AS (SELECT v.id, coalesce(m.label, v.label) AS label
       |  FROM $prev v LEFT JOIN mode$i m ON m.id = v.id)""".stripMargin

  /** One PageRank power-iteration round as a MATERIALIZED DuckDB CTE (the
    * plain inlined form makes DuckDB's optimizer super-linear past ~20
    * rounds). Same kernel as [[PageRank]]: C0 + 0.85·Σ rank/outdeg. */
  private def prRoundSql(prev: Int, i: Int): String =
    s"""r$i AS MATERIALIZED (SELECT e.dst AS id,
       |  (SELECT c0 FROM c) + 0.85 * sum(r.rank / deg.d) AS rank
       |  FROM edges e JOIN r$prev r ON r.id = e.src JOIN deg ON deg.src = e.src
       |  GROUP BY e.dst)""".stripMargin

  /** Converged PageRank oracle: 200 unrolled MATERIALIZED power-iteration
    * rounds over the graph defined by `prefix` (CTEs `edges0` = the raw
    * edge set and `verts` = the vertex universe). Residual mass after k
    * rounds is ~0.85^k: 100 rounds leaves ~9e-8 — close enough to flip a
    * 6-dp digit on a rank near a 0.5e-6 rounding boundary; 200 rounds
    * leaves ~8e-15, so the oracle matches any L∞<1e-10-converged engine
    * path at 6 dp with orders of margin. */
  private def convergedPrSqlFrom(prefix: String): String =
    s"""WITH $prefix,
       |edges AS MATERIALIZED (SELECT src, dst FROM edges0 UNION SELECT v, v FROM verts),
       |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |n AS (SELECT count(*) AS n FROM verts),
       |c AS MATERIALIZED (SELECT 0.15 / (SELECT n FROM n) AS c0),
       |r0 AS MATERIALIZED (SELECT v AS id, 1.0 / (SELECT n FROM n) AS rank FROM verts),
       |""".stripMargin +
      (1 to 200).map(i => prRoundSql(i - 1, i)).mkString(",\n") +
      "\nSELECT id, round(rank, 6) AS rank FROM r200 ORDER BY id"

  private lazy val convergedPrSql: String = convergedPrSqlFrom(
    s"""edges0 AS ($edgesCte),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM edges0 UNION ALL SELECT dst FROM edges0))""".stripMargin)

  /** Fixpoint over the graph AFTER deleting the deterministic slice — the
    * vertex universe (and hence N, C0) stays that of the FULL edge set,
    * exactly [[queries]]' q_pagerank_csr_splice_del semantics. */
  private lazy val convergedPrDelSql: String = convergedPrSqlFrom(
    s"""alledges AS ($edgesCte),
       |edges0 AS (SELECT src, dst FROM alledges WHERE NOT ((src + dst) % 17 = 0 AND src <> dst)),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM alledges UNION ALL SELECT dst FROM alledges))""".stripMargin)

  /** DuckDB-equivalent SQL for the exactly-SQL-expressible queries above.
    * Column names/aliases match the Spark side 1:1 (driver hashes values
    * after sorting columns by name). Sums are cast to BIGINT (DuckDB sums
    * integers into HUGEINT). */
  def oracleSql: Map[String, String] = Map(
    "q_degree_distribution" ->
      s"""WITH edges AS ($edgesCte)
         |SELECT out_deg, count(*) AS n_vertices
         |FROM (SELECT src, count(*) AS out_deg FROM edges GROUP BY src)
         |GROUP BY out_deg ORDER BY out_deg""".stripMargin,

    "q_graph_summary" ->
      s"""WITH edges AS ($edgesCte),
         |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
         |e2 AS (SELECT src, dst FROM edges UNION SELECT v, v FROM verts)
         |SELECT count(*) AS n_edges,
         |       count(*) FILTER (WHERE src = dst) AS n_self,
         |       count(DISTINCT src) AS n_vertices
         |FROM e2""".stripMargin,

    "q_symmetrize_count" ->
      s"""WITH edges AS ($edgesCte)
         |SELECT count(*) AS n_edges
         |FROM (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)""".stripMargin,

    "q_indegree" ->
      s"""WITH edges AS ($edgesCte),
         |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)
         |SELECT e.dst AS dst, count(*) AS in_deg,
         |       CAST(sum(deg.d) AS BIGINT) AS sum_src_outdeg
         |FROM edges e JOIN deg ON deg.src = e.src
         |GROUP BY e.dst ORDER BY dst""".stripMargin,

    "q_triangle_count" ->
      s"""WITH edges AS ($edgesCte),
         |und AS (SELECT least(src,dst) AS a, greatest(src,dst) AS b
         |        FROM edges WHERE src <> dst GROUP BY 1, 2),
         |w AS (SELECT ab.a, ab.b, bc.b AS c FROM und ab JOIN und bc ON ab.b = bc.a)
         |SELECT count(*) AS triangles
         |FROM w JOIN und ac ON ac.a = w.a AND ac.b = w.c""".stripMargin,

    "q_pagerank_iter3" ->
      s"""WITH edges0 AS ($edgesCte),
         |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges0 UNION ALL SELECT dst FROM edges0)),
         |edges AS (SELECT src, dst FROM edges0 UNION SELECT v, v FROM verts),
         |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |n AS (SELECT count(*) AS n FROM verts),
         |r0 AS (SELECT v AS id, 1.0 / (SELECT n FROM n) AS rank FROM verts),
         |r1 AS (SELECT e.dst AS id, 0.15 / (SELECT n FROM n) + 0.85 * sum(r.rank / deg.d) AS rank
         |       FROM edges e JOIN r0 r ON r.id = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst),
         |r2 AS (SELECT e.dst AS id, 0.15 / (SELECT n FROM n) + 0.85 * sum(r.rank / deg.d) AS rank
         |       FROM edges e JOIN r1 r ON r.id = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst),
         |r3 AS (SELECT e.dst AS id, 0.15 / (SELECT n FROM n) + 0.85 * sum(r.rank / deg.d) AS rank
         |       FROM edges e JOIN r2 r ON r.id = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst)
         |SELECT id, round(rank, 6) AS rank3 FROM r3 ORDER BY id""".stripMargin,

    "q_batch_apply" ->
      s"""WITH base AS ($edgesCte),
         |ins AS (SELECT DISTINCT o_orderkey % 5000 AS src, o_custkey % 5000 AS dst
         |        FROM orders WHERE o_orderkey % 7 = 0),
         |del AS (SELECT src, dst FROM base WHERE src % 11 = 0),
         |afterdel AS (SELECT src, dst FROM base EXCEPT SELECT src, dst FROM del),
         |y AS (SELECT src, dst FROM afterdel UNION SELECT src, dst FROM ins)
         |SELECT count(*) AS n_edges, count(DISTINCT src) AS n_src,
         |       count(DISTINCT dst) AS n_dst FROM y""".stripMargin,

    "q_tidy_batch" ->
      s"""WITH base AS ($edgesCte),
         |batch AS (SELECT o_orderkey % 5000 AS src, o_custkey % 5000 AS dst FROM orders),
         |ins AS (SELECT DISTINCT src, dst FROM batch EXCEPT SELECT src, dst FROM base),
         |del AS (SELECT DISTINCT src, dst FROM batch INTERSECT SELECT src, dst FROM base)
         |SELECT src, dst, 'ins' AS kind FROM ins
         |UNION ALL SELECT src, dst, 'del' AS kind FROM del
         |ORDER BY kind, src, dst""".stripMargin,

    "q_remove_vertices" ->
      s"""WITH edges AS ($edgesCte)
         |SELECT src, dst FROM edges
         |WHERE src % 37 <> 0 AND dst % 37 <> 0 ORDER BY src, dst""".stripMargin,

    // min label over the transitive closure of the symmetrized graph —
    // component = min reachable id (closure is Σ|C|² rows ≈ 20M at sf0.01,
    // trivial for DuckDB).
    "q_connected_components" ->
      s"""WITH RECURSIVE edges AS ($edgesCte),
         |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
         |walk(id, r) AS (
         |  SELECT DISTINCT src, src FROM sym
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN sym e ON e.src = w.r
         |)
         |SELECT id, min(r) AS component FROM walk GROUP BY id ORDER BY id""".stripMargin,

    // 4 unrolled synchronous rounds, mode tie-break (count desc, label asc).
    "q_label_propagation" ->
      (s"""WITH edges AS ($edgesCte),
          |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
          |r0 AS (SELECT DISTINCT src AS id, src AS label FROM sym),
          |""".stripMargin
        + (1 to 4).map(i => lpRoundSql(s"r${i - 1}", i)).mkString(",\n")
        + "\nSELECT id, label FROM r4 ORDER BY id"),

    // 200 unrolled power-iteration rounds ≈ fixpoint to ~8e-15 — matches the
    // Spark side's L∞<1e-10 converged run at 6 dp rounding.
    "q_pagerank_converged" -> convergedPrSql,
    // same fixpoint, physical-strategy / warm-start / frontier variants on
    // the Spark side (DF/DT/DF-P truncation tolerances tightened to 1e-12,
    // so all re-converge to the identical fixpoint)
    "q_pagerank_csr_converged" -> convergedPrSql,
    "q_pagerank_naive_dynamic" -> convergedPrSql,
    "q_pagerank_dynamic_frontier" -> convergedPrSql,
    "q_pagerank_dynamic_traversal" -> convergedPrSql,
    "q_pagerank_dfp" -> convergedPrSql,
    "q_pagerank_csr_frontier" -> convergedPrSql,
    "q_pagerank_csr_traversal" -> convergedPrSql,
    "q_pagerank_csr_dfp" -> convergedPrSql,
    "q_pagerank_csr_splice" -> convergedPrSql,
    "q_pagerank_csr_splice_del" -> convergedPrDelSql,
    // streaming replay over 4 micro-batches ends at the full edge set —
    // same fixpoint as the static oracle
    "q_pagerank_stream" -> convergedPrSql,

    // Exact 64-bit rolling-hash fingerprint (RollingHashMin: window 16,
    // Base 1000003, murmur-style finalizer) emulated with HUGEINT mod-2⁶⁴
    // arithmetic: documents are ASCII (ord == byte), each 16-byte window
    // hash fits HUGEINT without splitting (h·Base < 2⁸⁴), and the two
    // 64×64-bit finalizer multiplies are decomposed hi/lo 32-bit
    // (t·C mod 2⁶⁴ = (t·lo + ((t mod 2³²)·hi mod 2³²)·2³²) mod 2⁶⁴).
    // The min is taken over SIGNED longs — JVM `<` semantics.
    "q_fingerprint" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id, length(text) AS n,
        |        list_transform(range(1, length(text)+1),
        |          i -> ord(substring(text, CAST(i AS INT), 1))::HUGEINT) AS bytes
        |      FROM d),
        |hs AS (SELECT doc_id, unnest(list_transform(range(1, n - least(16, n) + 2),
        |          p -> list_reduce(list_slice(bytes, CAST(p AS INT), CAST(p + least(16, n) - 1 AS INT)),
        |                 (acc, x) -> (acc * 1000003 + x) % 18446744073709551616))) AS h
        |       FROM b WHERE n > 0),
        |m1 AS (SELECT doc_id, ((xor(h, h >> 33)) * 3981806797
        |          + (((xor(h, h >> 33)) % 4294967296) * 4283543511 % 4294967296) * 4294967296)
        |          % 18446744073709551616 AS z FROM hs),
        |m2 AS (SELECT doc_id, ((xor(z, z >> 33)) * 444984403
        |          + (((xor(z, z >> 33)) % 4294967296) * 3301882366 % 4294967296) * 4294967296)
        |          % 18446744073709551616 AS z FROM m1),
        |m3 AS (SELECT doc_id, CAST(CASE WHEN xor(z, z >> 33) >= 9223372036854775808
        |          THEN xor(z, z >> 33) - 18446744073709551616
        |          ELSE xor(z, z >> 33) END AS BIGINT) AS m FROM m2),
        |best AS (SELECT doc_id, min(m) AS fingerprint FROM m3 GROUP BY doc_id
        |         UNION ALL SELECT doc_id, 0 FROM b WHERE n = 0)
        |SELECT doc_id, fingerprint FROM best ORDER BY doc_id""".stripMargin,

    // Raw-substring shingles: hashing shingles (Spark side) preserves set
    // equality, so Jaccard over raw 5-grams is the exact oracle.
    "q_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 100),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_distinct(
        |         list_transform(range(0, greatest(length(t)-5, 0)+1),
        |                        i -> substring(t, CAST(i+1 AS INT), 5)))) AS shingle FROM d),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
        |           FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT a, b, CAST(c AS DOUBLE)/(sza.sz + szb.sz - c) AS jaccard
        |FROM common JOIN sz sza ON sza.doc_id = a JOIN sz szb ON szb.doc_id = b
        |WHERE CAST(c AS DOUBLE)/(sza.sz + szb.sz - c) >= 0.2 ORDER BY a, b""".stripMargin,

    // Video frame-sampling plumbing: kind(video) = doc_id%3==2, durationMs =
    // doc_id%30000+1000 (Multimodal.mediaFromDocuments), frames =
    // clamp(duration/everyMs, 1, maxFrames) with everyMs=5000, maxFrames=4 —
    // verifies the sampling/grouping pipeline (the per-frame decode is the
    // declared stub and carries no oracle).
    "q_media_metadata" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(doc_id % 640 + 16 AS INTEGER) AS width,
        |  CAST(doc_id % 480 + 16 AS INTEGER) AS height,
        |  CAST(doc_id % 30000 + 1000 AS INTEGER) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_video_frames" ->
      """SELECT doc_id,
        |  CAST(least(greatest((doc_id % 30000 + 1000) // 5000, 1), 4) AS BIGINT)
        |    AS n_frames
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dupes
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |    AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id, round(greatest(
        |  0.4 * least(length(text) / 500.0, 1.0) +
        |  0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)) +
        |  0.2 * (1.0 - least(abs(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) /
        |      greatest(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) - 5.0) / 5.0, 1.0)) -
        |  0.1 * least(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 10.0 / greatest(length(text), 1), 1.0),
        |  0.0), 6) + 0.0 AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_pred" ->
      """SELECT doc_id, CASE
        |  WHEN en = 0 AND de = 0 THEN 'und'
        |  WHEN en >= de THEN 'en' ELSE 'de' END AS lang_pred
        |FROM (SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(lower(text), '[^a-zäöüß]+'),
        |    x -> x IN ('the','and','of','to','a','in','is','it','that','for','was','on','with','as','be'))) AS en,
        |  len(list_filter(regexp_split_to_array(lower(text), '[^a-zäöüß]+'),
        |    x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','den','von','im','auf','sich'))) AS de
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) /
        |      sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) *
        |           list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])), 6) AS cos_r
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
        |ranked AS (SELECT qid, vec_id, cos_r,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, vec_id, cos_r + 0.0 AS cos_r, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  )

  /** Why each remaining query carries NO DuckDB oracle — these are
    * structural (permanent by design), not coverage omissions; each names
    * the ScalaTest that carries its correctness instead. Kept in sync with
    * [[queries]]/[[oracleSql]] by SparkEntrySpec. */
  def oracleJustification: Map[String, String] = Map(
    "q_ann_lsh" -> (
      "bucket assignment derives from Spark's xxhash64 (seeded hyperplane " +
        "weights); DuckDB has no xxhash64 — AnnSpec bounds recall vs brute " +
        "force and asserts every returned neighbor is exact-reranked"),
    "q_embedding_neardup" -> (
      "same xxhash64 hyperplane dependency as q_ann_lsh; AnnSpec verifies " +
        "pair symmetry-freedom and the exact within-bucket cosine threshold"),
    "q_minhash_lsh" -> (
      "minhash signatures and band keys are xxhash64-based; DuckDB lacks " +
        "xxhash64 — TextDedupSpec checks sim estimates against exact Jaccard"),
    "q_simhash_pairs" -> (
      "per-token xxhash64 signature; DuckDB lacks xxhash64 — TextDedupSpec " +
        "verifies the Hamming-band semantics on constructed corpora"),
    "q_multimodal_features" -> (
      "the decode stage is the declared deterministic stub (no media codecs " +
        "in this container); the REAL plumbing around it is oracled via " +
        "q_media_metadata and q_video_frames"),
    "q_pagerank_web_static" -> (
      "runs on the self-synthesized web-page fixture (the north-rule input " +
        "shape), which is not among the sfDir parquet tables DuckDB reads; " +
        "the kernel itself is oracled on derivedEdges via " +
        "q_pagerank_converged, and PageRankSpec checks the fixture run " +
        "against the in-memory oracle"),
    "q_pagerank_web_dynamic_frontier" -> (
      "web fixture not visible to DuckDB (see q_pagerank_web_static); the " +
        "DF kernel is oracled via q_pagerank_dynamic_frontier and " +
        "DynamicPageRankSpec covers the fixture replay"))
}
