package graft.tools

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.graph.EdgeOps
import graft.ingest.SnapReader
import graft.model.{DynamicVariant, PagerankOptions}
import graft.pagerank.{CsrDynamic, CsrPageRank, PagerankRun}
import graft.pagerank.CsrDynamic.CsrState
import graft.pagerank.CsrPageRank.CsrGraph
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

  /** L1 distance between two aligned rank-block RDDs (same partitioner,
    * same sorted vertex array per block — any state or static run over
    * graphs spliced from one freeze) in one narrow job. */
  def l1(a: RDD[Array[Double]], b: RDD[Array[Double]]): Double =
    a.zipPartitions(b) { (aIt, bIt) =>
      val x = aIt.next()
      val y = bIt.next()
      var sum = 0.0
      var i = 0
      while (i < x.length) { sum += math.abs(x(i) - y(i)); i += 1 }
      Iterator.single(sum)
    }.sum()

  /** One technique's carried (graph, state) in a batch loop. `advance`
    * times only the engine call `f`, installs the generation it returns and
    * frees the one it replaced — unless that is the generation the track
    * started from, which the caller shares between tracks. */
  final class Track(g0: CsrGraph, st0: RDD[CsrState]) {
    var g: CsrGraph = g0
    var st: RDD[CsrState] = st0

    def advance(f: (CsrGraph, RDD[CsrState]) => (CsrGraph, PagerankRun,
        RDD[CsrState])): (PagerankRun, Double) = {
      val ((g2, run, st2), secs) = time(f(g, st))
      if (g ne g0) { g.blocks.unpersist(false); st.unpersist(false) }
      g = g2; st = st2
      (run, secs)
    }
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The experiment loop; returns per-batch (technique → result) maps so
    * tests can assert on it. It runs over CARRIED CSR state: ONE freeze of
    * the base graph, then every technique advances its own (graph, state)
    * pair by in-place splice per batch
    * ([[CsrDynamic.applyBatch]] with the technique's variant). The
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
    val dyn = new CsrDynamic(spark, opts)
    val csrOracle = new CsrPageRank(spark, opts.copy(tolerance = 1e-15))
    val csrStatic = new CsrPageRank(spark, opts)

    val g0 = new CsrPageRank(spark, opts).build(x0) // the ONE freeze
    val (r0run, r0blocks, _, _) = csrOracle.staticDetailed(g0, crossTol = 0.0)
    // every technique starts from g0 and the oracle register r0
    // (main.cxx:68-72); the engine never writes carried arrays in place, so
    // the four tracks share one state
    val st0 = dyn.stateFromRanks(g0, r0run.ranks)
    r0blocks.unpersist(false)
    val nd, dt, df, dfp = new Track(g0, st0)

    val out = Seq.newBuilder[Map[String, TechResult]]
    var b = 0
    var lo = base90
    while (b < nBatches && lo < size) {
      val hi = math.min(lo + batchLen, size)
      // the raw slice: the splice skips duplicate and present insertions
      val ins = snap.where(col("seq") >= lo && col("seq") < hi)
        .select("src", "dst").ckpt()
      val none = ins.limit(0)
      def advance(t: Track, v: DynamicVariant) =
        t.advance((g, st) => dyn.applyBatch(g, st, ins, none, v))
      val (dfR, tDf) = advance(df, DynamicVariant.DF)
      val (dfpR, tDfp) = advance(dfp, DynamicVariant.DFP)
      val (dtR, tDt) = advance(dt, DynamicVariant.DT)
      val (ndR, tNd) = advance(nd, DynamicVariant.ND)
      // static baseline + 1e-15 oracle on the updated graph, reusing the DF
      // track's spliced blocks (same adjacency) — zero re-freezes; every
      // technique is scored against the oracle's aligned rank blocks
      val ((stR, stBlocks, _, _), tSt) =
        time(csrStatic.staticDetailed(df.g, crossTol = 0.0))
      val (_, oBlocks, _, _) = csrOracle.staticDetailed(df.g, crossTol = 0.0)
      def score(t: Track, run: PagerankRun, secs: Double) =
        TechResult(secs, run.stats.iterations, l1(t.st.map(_.rank), oBlocks))

      val m = Map(
        "static" -> TechResult(tSt, stR.stats.iterations, l1(stBlocks, oBlocks)),
        "naiveDynamic" -> score(nd, ndR, tNd),
        "dynamicTraversal" -> score(dt, dtR, tDt),
        "dynamicFrontier" -> score(df, dfR, tDf),
        "dynamicFrontierPrune" -> score(dfp, dfpR, tDfp))
      stBlocks.unpersist(false)
      oBlocks.unpersist(false)
      out += m
      emitBatch(emit, b, hi - lo, m)
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
