package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.graph.EdgeOps
import graft.pagerank.{CsrDynamic, CsrPageRank}
import graft.pagerank.CsrDynamic.CsrState
import graft.pagerank.CsrPageRank.CsrGraph
import graft.util.Ckpt._

/** `stream-small` and `stream-large`: the reference's batch loop over an
  * evolving crawl graph. The base graph is the first 90% of the crawl's
  * edges in crawl order, frozen and ranked during set-up; each batch inserts the next slice of the crawl and, on
  * `stream-large`, deletes existing edges drawn from the seed. Each batch
  * makes three calls — tidy, DF-P, edge-table advance — and the next batch
  * starts only when they returned. */
object Stream {
  val Pages = 6000
  val BaseShare = 0.9
  val DeleteShare = 0.25
  val Blocks = 3
  val BatchesPerBlock = 6

  /** Batch size as a share of |E|, and whether batches delete edges. */
  def shape(workload: String): (Double, Boolean) = workload match {
    case "stream-small" => (1e-5, false)
    case "stream-large" => (1e-3, true)
  }

  final case class Base(x: DataFrame, g: CsrGraph, st: org.apache.spark.rdd.RDD[CsrState],
      ranks: DataFrame, stepP50: Double)

  /** The crawl's edges in crawl order: page k's i-th link has seq k·64+i,
    * the order `EdgeOps.stage` gives the same links. Packed src << 32 | dst. */
  def crawlEdges(corpus: Corpus): Array[Long] =
    (0 until corpus.n).flatMap(k => corpus.linksOf(k).map(t => Ref.pack(k, t))).toArray

  /** Session, the crawl's edge table written and read back, the base graph
    * (first 90% of the crawl plus a self-loop per page) frozen and ranked. */
  def setUp(c: Ctx, cut: Int): Base = {
    val t = c.tracer
    val path = c.work.resolve("edges").toString
    val spark = c.startSession(c.cores)
    val corpus = new Corpus(c.seed, Pages)
    val rows = (0 until corpus.n).flatMap { k =>
      corpus.linksOf(k).zipWithIndex.map { case (d, i) => Row(k.toLong, d.toLong, k.toLong * Corpus.MaxOutDegree + i) }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StagedSchema)
      .write.mode("overwrite").parquet(path)
    val cutSeq = rows(cut).getLong(2)
    val base = spark.read.parquet(path).where(col("seq") < cutSeq)
    val x = t.span("graph.self_loops")(
      EdgeOps.withSelfLoops(base, spark.range(corpus.n).toDF("id")).ckpt())
    val g = t.span("pagerank.csr_build")(new CsrPageRank(spark).build(x))
    val (run, st) = t.span("pagerank.static")(new CsrDynamic(spark).staticWithState(g))
    val stepP50 = Stats.median(run.stats.stepTimesMs) / 1e3
    c.count("pagerank.static.iters", run.stats.iterations)
    c.count("pagerank.static.step_p50_s", stepP50)
    Base(x, g, st, run.ranks, stepP50)
  }

  /** Driver-side mirror of the evolving edge set (self-loops included). */
  final class Mirror(init: Array[Long]) {
    val all = new java.util.HashSet[java.lang.Long](init.length * 2)
    init.foreach(e => all.add(e))
    private val plain = mutable.ArrayBuffer.empty[Long]
    private val pos = new java.util.HashMap[java.lang.Long, Integer]()
    init.foreach(e => if (Ref.srcOf(e) != Ref.dstOf(e)) { pos.put(e, plain.size); plain += e })

    def sampleDeletions(rng: Rng, k: Int): Array[Long] = {
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < math.min(k, plain.size)) picked += plain(rng.nextInt(plain.size))
      picked.toArray
    }
    /** Insertions not yet present, deduplicated — what tidy must keep. */
    def tidy(ins: Seq[Long]): Set[Long] = ins.filterNot(e => all.contains(e)).toSet
    def apply(ins: Set[Long], del: Array[Long]): Unit = {
      del.foreach { e =>
        all.remove(e)
        val i: Int = pos.remove(e)
        val last = plain.remove(plain.size - 1)
        if (i < plain.size) { plain(i) = last; pos.put(last, i) }
      }
      ins.foreach { e => all.add(e); if (Ref.srcOf(e) != Ref.dstOf(e)) { pos.put(e, plain.size); plain += e } }
    }
    def edges: Array[Long] = {
      val a = new Array[Long](all.size); var i = 0
      all.forEach { e => a(i) = e; i += 1 }
      java.util.Arrays.sort(a); a
    }
  }

  val EdgeSchema: StructType = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
  val StagedSchema: StructType = EdgeSchema.add(StructField("seq", LongType))

  /** Three blocks, each a fresh set-up followed by a run of batches from
    * the base graph; spreading set-ups and batches over the run keeps one
    * burst of interference on the shared host from moving every sample. The
    * first block's batches warm the JVM and are checked but not measured. */
  def run(c: Ctx): Unit = {
    val (share, deletes) = shape(c.workload)
    val staged = crawlEdges(new Corpus(c.seed, Pages))
    val n = Pages
    val cut = (staged.length * BaseShare).toInt
    val baseEdges = Ref.normalize(staged.take(cut) ++ (0 until n).map(v => Ref.pack(v, v)))
    val rng = new Rng(Rng.mix(c.seed, 2))
    val setups = mutable.ArrayBuffer.empty[Double]
    val rankS = mutable.ArrayBuffer.empty[Double]
    val stepS = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val plain = mutable.ArrayBuffer.empty[Double]
    val batchWalls = mutable.ArrayBuffer.empty[Double]
    var next = cut
    var nEdges = 0L
    var batchSize = 0
    var nDel = 0
    for (block <- 0 until Blocks) {
      if (block > 0) c.stopSession()
      val w0 = c.tracer.walls.view.mapValues(_.size).toMap.withDefaultValue(0)
      val t0 = System.nanoTime()
      val base = setUp(c, cut)
      setups += (System.nanoTime() - t0) / 1e9
      def last(name: String): Double = c.tracer.walls(name).drop(w0(name)).sum
      rankS += last("pagerank.csr_build") + last("pagerank.static")
      stepS += base.stepP50
      val spark = c.spark

      // Driver-side mirror and reference, outside every timed region.
      val mirror = new Mirror(baseEdges)
      nEdges = base.g.nEdges
      c.check("base edge count", nEdges == mirror.all.size, s"$nEdges vs ${mirror.all.size}")
      checkRanks(c, "base ranks", base.ranks, n, mirror)
      c.sampleHeap()

      batchSize = math.max(1, math.round(share * nEdges).toInt)
      nDel = if (deletes) math.round(batchSize * DeleteShare).toInt else 0
      val nIns = batchSize - nDel
      val dyn = new CsrDynamic(spark)
      var x = base.x
      var g = base.g
      var st = base.st
      var lastRanks = base.ranks
      def frame(es: Iterable[Long]): DataFrame = spark.createDataFrame(
        java.util.Arrays.asList(es.toSeq.map(e => Row(Ref.srcOf(e).toLong, Ref.dstOf(e).toLong)): _*),
        EdgeSchema)

      val (tr, pl) = c.loop(minOps = BatchesPerBlock, c.seconds.toDouble / Blocks,
          warmUps = BatchesPerBlock) { b =>
        if (next + nIns > staged.length) false
        else {
          val insRaw = staged.slice(next, next + nIns).toSeq
          next += nIns
          val del = mirror.sampleDeletions(rng, nDel)
          val insDf = frame(insRaw)
          val delDf = frame(del)
          val expectIns = mirror.tidy(insRaw)
          val (insT, (g2, run, st2), x2) = c.tracer.span("op") {
            val t = c.tracer
            val insT = t.span("graph.tidy")(EdgeOps.tidyInsertions(insDf, x).ckpt())
            val r = t.span("pagerank.dyn_apply")(dyn.applyBatch(g, st, insT, delDf, prune = true))
            val x2 = t.span("graph.apply_batch")(EdgeOps.applyBatch(x, insT, delDf).ckpt())
            (insT, r, x2)
          }
          batchWalls += c.tracer.walls("op").last
          c.count("pagerank.dyn_apply.iters", run.stats.iterations)
          mirror.apply(expectIns, del)
          if (b == 0) {
            val got = insT.collect().map(r => Ref.pack(r.getLong(0), r.getLong(1))).toSet
            c.check("tidied insertions", got == expectIns)
            c.check("edge table size", x2.count() == mirror.all.size)
            checkRanks(c, s"ranks after the first batch", run.ranks, n, mirror)
          }
          GraftBridge.freeCkpt(insT)
          GraftBridge.freeCkpt(x)
          g.blocks.unpersist(false)
          st.unpersist(false)
          x = x2; g = g2; st = st2; lastRanks = run.ranks
          true
        }
      }
      traced ++= tr
      plain ++= pl
      checkRanks(c, "ranks after the last batch", lastRanks, n, mirror)
      c.check("edge table after the last batch", x.count() == mirror.all.size)
      c.sampleHeap()
    }

    c.e2e("setup_s") = (Stats.median(setups.toSeq), "s")
    c.e2e("op_p50_s") = (Stats.median(plain.toSeq), "s")
    c.e2e("heap_peak_mb") = (c.heapPeakMb, "MB")
    c.log(f"${c.workload}: pages $n, |E| $nEdges, batch $batchSize edges ($nDel deletions), " +
      f"setups ${setups.map(v => f"$v%.2f").mkString(" ")}")
    c.log(f"rank_s ${Stats.median(rankS.toSeq)}%.4f s (CSR build + static to 1e-10, median of set-ups)")
    c.log(f"static_edges_per_s ${nEdges / Stats.median(stepS.toSeq)}%.0f edges/s (|E| $nEdges / median superstep)")
    val measured = (traced ++ plain).toSeq
    c.log(f"batch_p50_s ${Stats.median(measured)}%.4f s over ${measured.size} measured batches; " +
      "all batch walls, first block unmeasured: " + batchWalls.map(v => f"$v%.2f").mkString(" "))
    Stats.tail(measured) match {
      case Some((p, v)) => c.log(f"batch_tail_s $v%.4f s at p$p%.1f of ${measured.size} batches")
      case None => c.log(s"batch_tail_s n/a: ${measured.size} batches < 11")
    }
    if (c.trace) c.layerMetrics(Spans.All, traced.toSeq, plain.toSeq)
  }

  def checkRanks(c: Ctx, what: String, ranks: DataFrame, n: Int, mirror: Mirror): Unit = {
    val got = Array.fill(n)(Double.NaN)
    ranks.collect().foreach(r => got(r.getLong(0).toInt) = r.getDouble(1))
    val d = Ref.maxDiff(got, Ref.pagerank(n, mirror.edges))
    c.check(s"$what allclose 1e-6", d <= 1e-6, s"max diff $d")
  }
}

object Spans {
  val All: Seq[String] = Seq("op", "session.start",
    "ingest.read", "ingest.extract_text", "ingest.stage",
    "dedup.exact", "dedup.minhash_lsh",
    "graph.self_loops", "graph.symmetrize", "graph.tidy", "graph.apply_batch",
    "pagerank.csr_build", "pagerank.static", "pagerank.sweep_1", "pagerank.sweep_n",
    "pagerank.dyn_apply", "algos.cc", "algos.lp", "algos.tc")

  /** Counts some spans add; every run reports all of them. */
  val Counts: Seq[String] = Seq("pagerank.static.iters", "pagerank.static.step_p50_s",
    "pagerank.dyn_apply.iters", "algos.cc.rounds",
    "dedup.minhash_lsh.candidates", "dedup.minhash_lsh.pairs")
}
