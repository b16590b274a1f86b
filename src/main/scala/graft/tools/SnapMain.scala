package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.graph.EdgeOps
import graft.ingest.SnapReader
import graft.model.PagerankOptions
import graft.pagerank.{CsrDynamic, CsrPageRank, PageRank}
import graft.util.Ckpt._

/** spark-submit main replaying the reference experiment on a real SNAP
  * temporal edge file — `runExperiment` (/root/reference/main.cxx:47-107)
  * over graft's engine, so the reference's five corpora
  * (/root/reference/main.sh:46-50) run unchanged:
  *
  *   SnapMain <file> <rows> <size> <batchFraction> [nBatches=10]
  *
  * Protocol per the reference: base graph = first 90% of the `size` body
  * lines (+ self-loops over the eager 1..rows universe); then `nBatches`
  * insertion batches of `batchFraction·size` lines each; per batch every
  * technique re-ranks from ITS carried rank register (main.cxx:69-72,
  * 100-103) and is scored by L1 error against a fresh 1e-15 static oracle
  * on the updated graph (main.cxx:85,55). One JSON line per batch.
  *
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object SnapMain {

  final case class TechResult(secs: Double, iters: Int, l1: Double)

  def l1Err(a: DataFrame, oracle: DataFrame): Double =
    a.select(col("id"), col("rank"))
      .join(oracle.select(col("id"), col("rank").as("o")), "id")
      .agg(sum(abs(col("rank") - col("o")))).collect()(0).getDouble(0)

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The experiment loop; returns per-batch (technique → result) maps so
    * tests can assert on it. It runs over CARRIED CSR state: ONE freeze of
    * the base graph, then every technique advances its own (graph, state)
    * pair by in-place splice per batch
    * ([[CsrDynamic.applyBatch]]/[[CsrDynamic.applyBatchSeeded]]). The
    * per-batch static baseline and the 1e-15 oracle reuse the DF track's
    * spliced graph (identical adjacency; the reference likewise updates ONE
    * shared graph and never rebuilds its CSR per batch,
    * /root/reference/main.cxx:87-103). */
  def run(spark: SparkSession, file: String, rows: Long, size: Long,
      batchFraction: Double, nBatches: Int,
      opts: PagerankOptions = PagerankOptions(),
      emit: String => Unit = println): Seq[Map[String, TechResult]] = {
    val snap = SnapReader.read(spark, file).where(col("seq") < size).cache()
    val verts = SnapReader.vertexRange(spark, rows).cache()
    val base90 = (0.9 * size).toLong
    val batchLen = math.max(1L, (batchFraction * size).toLong)
    val x0 = EdgeOps.withSelfLoops(
      EdgeOps.simple(snap.where(col("seq") < base90).select("src", "dst")),
      verts).ckpt()
    val pr = new PageRank(spark, opts) // frontier seed/closure helpers
    val dyn = new CsrDynamic(spark, opts)
    val csrOracle = new CsrPageRank(spark, opts.copy(tolerance = 1e-15))
    val csrStatic = new CsrPageRank(spark, opts)

    val g0 = new CsrPageRank(spark, opts).build(x0) // the ONE freeze
    val (r0run, r0blocks, _, _) = csrOracle.staticDetailed(g0, crossTol = 0.0)
    val r0 = r0run.ranks.ckpt()
    r0blocks.unpersist(false)
    // per-technique carried (graph, state); all start from the shared g0 +
    // oracle register r0 (main.cxx:68-72)
    final case class Track(var g: CsrPageRank.CsrGraph,
        var st: org.apache.spark.rdd.RDD[CsrDynamic.CsrState],
        var shared: Boolean = true)
    def freshTrack() = Track(g0, dyn.stateFromRanks(g0, r0))
    val nd = freshTrack(); val dt = freshTrack()
    val df = freshTrack(); val dfp = freshTrack()
    def advance(t: Track,
        f: (CsrPageRank.CsrGraph, org.apache.spark.rdd.RDD[CsrDynamic.CsrState]) =>
          (CsrPageRank.CsrGraph, graft.pagerank.PagerankRun,
            org.apache.spark.rdd.RDD[CsrDynamic.CsrState]))
        : (graft.pagerank.PagerankRun, Double) = {
      val ((g2, run, st2), secs) = time(f(t.g, t.st))
      if (!t.shared) t.g.blocks.unpersist(false)
      t.st.unpersist(false)
      t.g = g2; t.st = st2; t.shared = false
      (run, secs)
    }

    var x = x0
    val out = Seq.newBuilder[Map[String, TechResult]]
    var b = 0
    var lo = base90
    while (b < nBatches && lo < size) {
      val hi = math.min(lo + batchLen, size)
      val ins = EdgeOps.tidyInsertions(
        snap.where(col("seq") >= lo && col("seq") < hi).select("src", "dst"),
        x).ckpt()
      val none = ins.limit(0)
      val y = EdgeOps.applyBatch(x, ins, none).ckpt()
      val allIds = y.select(col("src").as("id")).distinct()
      val dtSeeds = pr.bfsClosure(y, pr.frontierSeeds(x, y, ins, none))

      val (dfR, tDf) = advance(df,
        (g, st) => dyn.applyBatch(g, st, ins, none, prune = false))
      val (dfpR, tDfp) = advance(dfp,
        (g, st) => dyn.applyBatch(g, st, ins, none, prune = true))
      val (dtR, tDt) = advance(dt,
        (g, st) => dyn.applyBatchSeeded(g, st, ins, none, dtSeeds, prune = false))
      // naive-dynamic = warm full sweep: seeds = every vertex, fixed frontier
      val (ndR, tNd) = advance(nd,
        (g, st) => dyn.applyBatchSeeded(g, st, ins, none, allIds, prune = false))
      // static baseline + 1e-15 oracle on the updated graph, reusing the DF
      // track's spliced blocks (same adjacency) — zero re-freezes
      val ((stR, stBlocks, _, _), tSt) =
        time(csrStatic.staticDetailed(df.g, crossTol = 0.0))
      val (oRun, oBlocks, _, _) = csrOracle.staticDetailed(df.g, crossTol = 0.0)
      val oracle = oRun.ranks.ckpt()

      val m = Map(
        "static" -> TechResult(tSt, stR.stats.iterations, l1Err(stR.ranks, oracle)),
        "naiveDynamic" -> TechResult(tNd, ndR.stats.iterations, l1Err(ndR.ranks, oracle)),
        "dynamicTraversal" -> TechResult(tDt, dtR.stats.iterations, l1Err(dtR.ranks, oracle)),
        "dynamicFrontier" -> TechResult(tDf, dfR.stats.iterations, l1Err(dfR.ranks, oracle)),
        "dynamicFrontierPrune" -> TechResult(tDfp, dfpR.stats.iterations, l1Err(dfpR.ranks, oracle)))
      stBlocks.unpersist(false)
      oBlocks.unpersist(false)
      out += m
      emitBatch(emit, b, hi - lo, m)
      x = y
      lo = hi
      b += 1
    }
    out.result()
  }

  private def emitBatch(emit: String => Unit, b: Int, edges: Long,
      m: Map[String, TechResult]): Unit =
    emit(s"""{"batch":$b,"edges":$edges,""" + m.map { case (k, v) =>
      f""""$k%s":{"secs":${v.secs}%.3f,"iters":${v.iters}%d,"l1_err":${v.l1}%.3e}"""
    }.mkString(",") + "}")

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: SnapMain <file> <rows> <size> <batchFraction> [nBatches=10]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    run(spark, args(0), args(1).toLong, args(2).toLong, args(3).toDouble,
      if (args.length > 4) args(4).toInt else 10)
    spark.stop()
  }
}
