package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, LabelPropagation, TriangleCount}
import graft.dedup.Dedup
import graft.graph.EdgeOps
import graft.ingest.{LinkExtractor, PagesTable}
import graft.model.PagerankOptions
import graft.pagerank.CsrPageRank
import graft.util.Ckpt._

/** `snapshot`: one crawl snapshot end to end, repeated as a closed loop.
  * The only workload where ingest, dedup, the static superstep and the
  * batch algorithms do most of the work. */
object Snapshot {
  val Pages = 3000
  val SweepSteps = 10
  val LpRounds = 3
  val LshThreshold = 0.7

  /** Outputs of one pass, kept for the checks after the timed region. */
  final case class Pass(text: DataFrame, dict: DataFrame,
      docs: DataFrame, exact: Array[Row], pairs: Array[Row], nEdges: Long,
      ranks: Array[Row], stepP50: Double, cc: Array[Row], lp: Array[Row],
      triangles: Long, sweep: DataFrame, sweepStepP50: Double)

  def setUp(c: Ctx): (Corpus, String) = {
    val path = c.work.resolve("pages").toString
    c.startSession(c.cores)
    val corpus = new Corpus(c.seed, Pages)
    writePages(c, corpus, path)
    (corpus, path)
  }

  def writePages(c: Ctx, corpus: Corpus, path: String): Unit = {
    val rows = java.util.Arrays.asList((0 until corpus.n).map(corpus.pageRow): _*)
    PagesTable.write(c.spark.createDataFrame(rows, Corpus.PagesSchema), path)
  }

  def run(c: Ctx): Unit = {
    val setups = (0 until 3).map { i =>
      if (i > 0) c.stopSession()
      val t0 = System.nanoTime()
      val r = setUp(c)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (corpus, path) = setups.last._2
    c.sampleHeap()
    var ref: Option[Expected] = None
    val ingestS = collection.mutable.ArrayBuffer.empty[Double]
    val rankS = collection.mutable.ArrayBuffer.empty[Double]
    val stepS = collection.mutable.ArrayBuffer.empty[Double]
    val sweepStepS = collection.mutable.ArrayBuffer.empty[Double]
    var nEdges = 0L
    val (traced, plain) = c.loop(minOps = if (c.trace) 3 else 2, warmUps = 1) { i =>
      val w0 = c.tracer.walls.view.mapValues(_.size).toMap.withDefaultValue(0)
      val p = pass(c, path)
      def last(name: String): Double = c.tracer.walls(name).drop(w0(name)).sum
      if (i > 0) {
        ingestS += last("ingest.read") + last("ingest.extract_text") + last("ingest.stage")
        rankS += last("pagerank.csr_build") + last("pagerank.static")
        stepS += p.stepP50
        sweepStepS += p.sweepStepP50
      }
      nEdges = p.nEdges
      val e = ref.getOrElse(Expected(corpus, p.dict.collect().map(r => (r.getString(0), r.getLong(1)))))
      ref = Some(e)
      checkPass(c, corpus, e, p)
      if (c.tracer.recording)
        c.count("dedup.minhash_lsh.candidates",
          Dedup.minhashLsh(p.docs, threshold = 0.0).count().toDouble)
      c.sampleHeap()
      c.release()
      true
    }

    // Scaling baseline: the same fixed-step sweep at local[1], on the
    // reference edge list (checked equal to the engine's graph above).
    c.stopSession()
    c.startSession(1)
    val e = ref.get
    val x1 = c.spark.createDataFrame(java.util.Arrays.asList(
      e.edges.toSeq.map(x => Row(Ref.srcOf(x).toLong, Ref.dstOf(x).toLong)): _*), Stream.EdgeSchema).ckpt()
    val csr1 = new CsrPageRank(c.spark, PagerankOptions(tolerance = 0.0, maxIterations = SweepSteps))
    val g1 = csr1.build(x1)
    val sweep1 = c.tracer.span("pagerank.sweep_1")(csr1.staticOnGraph(g1))
    val sweep1Ranks = sweep1.ranks.collect()
    val sweep1Step = Stats.median(sweep1.stats.stepTimesMs) / 1e3
    c.check("sweep at local[1] matches reference", Ref.maxDiff(e.byId(sweep1Ranks), e.sweep) <= 1e-12)

    val stepN = Stats.median(sweepStepS.toSeq)
    val eff = sweep1Step / (c.cores * stepN)
    val opP50 = Stats.median(plain)
    c.e2e("setup_s") = (Stats.median(setups.map(_._1)), "s")
    c.e2e("op_p50_s") = (opP50, "s")
    c.e2e("heap_peak_mb") = (c.heapPeakMb, "MB")
    val w = c.tracer.walls
    def med(n: String) = Stats.median(w.getOrElse(n, Nil).drop(1).toSeq)
    c.log(f"snapshot: pages $Pages, |E| $nEdges (with self-loops), pass walls ${(traced ++ plain).map(v => f"$v%.2f").mkString(" ")}")
    c.log(f"rank_s ${Stats.median(rankS.toSeq)}%.4f s (CSR build + static to 1e-10)")
    c.log(f"static_edges_per_s ${nEdges / Stats.median(stepS.toSeq)}%.0f edges/s (|E| $nEdges / median superstep)")
    c.log(f"snapshot_s ${opP50}%.4f s   ingest_pages_per_s ${Pages / Stats.median(ingestS.toSeq)}%.1f pages/s   dedup_s ${med("dedup.exact") + med("dedup.minhash_lsh")}%.4f s")
    c.log(f"cc_s ${med("algos.cc")}%.4f s   lp_s ${med("algos.lp")}%.4f s   tc_s ${med("algos.tc")}%.4f s")
    c.log(f"scaling_eff $eff%.4f ratio: local[1] step $sweep1Step%.5f s, local[${c.cores}] step $stepN%.5f s, |E| $nEdges")
    if (c.trace) c.layerMetrics(Spans.All, traced, plain)
  }

  def pass(c: Ctx, path: String): Pass = c.tracer.span("op") {
    val spark = c.spark
    val t = c.tracer
    val pages = t.span("ingest.read") {
      val p = PagesTable.read(spark, path).cache(); p.count(); p
    }
    val text = t.span("ingest.extract_text") {
      val x = pages.select(col("url"), LinkExtractor.extractText(col("html")).as("text")).cache()
      x.count(); x
    }
    val (dictDf, staged) = t.span("ingest.stage") {
      val (d, s) = EdgeOps.stage(pages)
      (d, s.ckpt())
    }
    val docs = text.join(dictDf, "url").select(col("id").as("doc_id"), col("text")).cache()
    val exact = t.span("dedup.exact")(Dedup.exact(docs).where(col("dupes") > 1).collect())
    val pairs = t.span("dedup.minhash_lsh")(Dedup.minhashLsh(docs, threshold = LshThreshold).collect())
    c.count("dedup.minhash_lsh.pairs", pairs.length)
    val x = t.span("graph.self_loops")(EdgeOps.withSelfLoops(staged, dictDf).ckpt())
    val csr = new CsrPageRank(spark)
    val g = t.span("pagerank.csr_build")(csr.build(x))
    val (run, ranks) = t.span("pagerank.static") {
      val r = csr.staticOnGraph(g); (r, r.ranks.collect())
    }
    val stepP50 = Stats.median(run.stats.stepTimesMs) / 1e3
    c.count("pagerank.static.iters", run.stats.iterations)
    c.count("pagerank.static.step_p50_s", stepP50)
    val sym = t.span("graph.symmetrize")(EdgeOps.symmetrize(x).ckpt())
    val (cc, rounds) = t.span("algos.cc") {
      val (l, r) = ConnectedComponents.runWithRounds(spark, sym); (l.collect(), r)
    }
    c.count("algos.cc.rounds", rounds)
    val lp = t.span("algos.lp")(LabelPropagation.run(spark, sym, LpRounds).collect())
    val tri = t.span("algos.tc")(TriangleCount.global(spark, sym))
    val sweepCsr = new CsrPageRank(spark, PagerankOptions(tolerance = 0.0, maxIterations = SweepSteps))
    val sweep = t.span("pagerank.sweep_n")(sweepCsr.staticOnGraph(g))
    Pass(text, dictDf, docs, exact, pairs, g.nEdges, ranks, stepP50, cc, lp, tri,
      sweep.ranks, Stats.median(sweep.stats.stepTimesMs) / 1e3)
  }

  /** What every pass must produce, computed in driver arrays from the
    * corpus and the url dictionary. */
  final case class Expected(corpus: Corpus, dict: Array[(String, Long)]) {
    val n: Int = dict.length
    val idOf: Map[String, Long] = dict.toMap
    val pageOf: Array[Int] = {
      val a = new Array[Int](n)
      (0 until corpus.n).foreach(k => a(idOf(corpus.url(k)).toInt) = k)
      a
    }
    private def id(k: Int): Long = idOf(corpus.url(k))
    val edges: Array[Long] = Ref.normalize(
      (0 until corpus.n).flatMap(k => corpus.linksOf(k).map(t => Ref.pack(id(k), id(t))) :+
        Ref.pack(id(k), id(k))).toArray)
    val ranks: Array[Double] = Ref.pagerank(n, edges)
    val sweep: Array[Double] = Ref.pagerank(n, edges, tol = 0.0, steps = SweepSteps)
    val sym: Array[Long] = Ref.symmetrize(edges)
    val cc: Array[Long] = Ref.components(n, sym)
    val lp: Array[Long] = Ref.labelPropagation(n, sym, LpRounds)
    val triangles: Long = Ref.triangles(n, sym)
    val exact: Set[(Long, Long)] =
      corpus.exactFamilies.map(f => (f.map(id).min, f.length.toLong)).toSet

    /** (id, value) rows → array indexed by id; NaN where missing. */
    def byId(rows: Array[Row]): Array[Double] = {
      val a = Array.fill(n)(Double.NaN)
      rows.foreach(r => a(r.getLong(0).toInt) = r.get(1) match {
        case d: java.lang.Double => d.doubleValue
        case l: java.lang.Long => l.doubleValue
      })
      a
    }
  }

  def checkPass(c: Ctx, corpus: Corpus, e: Expected, p: Pass): Unit = {
    val dict = p.dict.collect().map(r => (r.getString(0), r.getLong(1)))
    c.check("url dictionary is dense and stable",
      dict.length == corpus.n && dict.map(_._2).sorted.sameElements(0L until corpus.n) &&
        dict.forall { case (u, i) => e.idOf.get(u).contains(i) })
    val texts = p.text.collect()
    c.check("extracted text is byte-identical per url", texts.length == corpus.n &&
      texts.forall(r => corpus.text(e.pageOf(e.idOf(r.getString(0)).toInt)) == r.getString(1)))
    c.check("edge count", p.nEdges == e.edges.length, s"${p.nEdges} vs ${e.edges.length}")
    val rd = Ref.maxDiff(e.byId(p.ranks), e.ranks)
    c.check("static ranks allclose 1e-6", rd <= 1e-6, s"max diff $rd")
    val sd = Ref.maxDiff(e.byId(p.sweep.collect()), e.sweep)
    c.check("fixed-step sweep matches reference", sd <= 1e-12, s"max diff $sd")
    c.check("CC labels equal union-find",
      e.byId(p.cc).sameElements(e.cc.map(_.toDouble)))
    c.check("LP labels equal reference", e.byId(p.lp).sameElements(e.lp.map(_.toDouble)))
    c.check("triangle count", p.triangles == e.triangles, s"${p.triangles} vs ${e.triangles}")
    c.check("exact dedup groups equal planted duplicates",
      p.exact.map(r => (r.getLong(0), r.getLong(1))).toSet == e.exact)
    val textOf = (i: Long) => corpus.text(e.pageOf(i.toInt))
    c.check("every MinHash pair clears the threshold by exact Jaccard",
      p.pairs.forall(r => Ref.jaccard5(textOf(r.getLong(0)), textOf(r.getLong(1))) >= LshThreshold))
  }
}
