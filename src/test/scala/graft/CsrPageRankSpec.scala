package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
import graft.model.PagerankOptions
import graft.pagerank.{CsrDynamic, CsrPageRank, PageRank}

/** The partition-local CSR fast path must be VALUE-IDENTICAL to the
  * DataFrame superstep (allclose 1e-12, same iteration count) — it is a
  * physical-plan swap, not a semantic variant. */
class CsrPageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def selfLooped(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    (edges ++ vs.map(v => (v, v))).distinct
  }

  val line4 = selfLooped(Seq((1L, 2L), (2L, 3L), (3L, 4L)))

  test("CSR static == DataFrame static on line4 (allclose 1e-12, same iters)") {
    val edges = TestSpark.edgesDf(spark, line4)
    val df = new PageRank(spark).static(edges)
    val csr = new CsrPageRank(spark).static(edges)
    val a = TestSpark.collectRanks(csr.ranks)
    val b = TestSpark.collectRanks(df.ranks)
    assert(a.keySet === b.keySet)
    assert(Oracle.allclose(a, b, 1e-12), s"maxDiff=${Oracle.maxDiff(a, b)}")
    assert(csr.stats.iterations === df.stats.iterations)
    // per-superstep wall trace (throughput protocols divide by its min)
    assert(csr.stats.stepTimesMs.length === csr.stats.iterations)
    assert(df.stats.stepTimesMs.length === df.stats.iterations)
    assert(csr.stats.stepTimesMs.forall(_ > 0.0))
  }

  test("CSR static == DataFrame static on the web fixture (incl. hub skew)") {
    val P = 400L
    val pages = WebGraphFixture.pages(spark, P).toDF()
    val (dict, staged) = EdgeOps.stage(pages)
    val y = EdgeOps.withSelfLoops(EdgeOps.simple(staged), dict.select("id"))
      .cache()
    val df = new PageRank(spark).static(y)
    val csr = new CsrPageRank(spark).static(y)
    val a = TestSpark.collectRanks(csr.ranks)
    val b = TestSpark.collectRanks(df.ranks)
    assert(a.size === P)
    assert(Oracle.allclose(a, b, 1e-12), s"maxDiff=${Oracle.maxDiff(a, b)}")
    assert(csr.stats.iterations === df.stats.iterations)
  }

  test("fused sweep: crossIters inside a 1e-10 run equals a 1e-6 run's iterations") {
    val edges = TestSpark.edgesDf(spark,
      selfLooped((1L to 40L).map(i => (i, (i * 5) % 41)) ++ line4))
    val g = new CsrPageRank(spark).build(edges)
    val (run, _, crossSecs, crossIters) =
      new CsrPageRank(spark).staticDetailed(g, crossTol = 1e-6)
    val at6 = new CsrPageRank(spark, PagerankOptions(tolerance = 1e-6))
      .staticOnGraph(g)
    assert(crossIters % CsrDynamic.fuseMax != 0, "crossing should fall inside a block")
    assert(crossIters === at6.stats.iterations)
    assert(crossSecs > 0.0)
    assert(run.stats.iterations > crossIters)
    assert(run.stats.stepTimesMs.length === run.stats.iterations)
    assert(at6.stats.stepTimesMs.length === at6.stats.iterations)
    // the 1e-6 run keeps the crossing step's ranks, not its block's last
    val df = new PageRank(spark, PagerankOptions(tolerance = 1e-6)).static(edges)
    assert(at6.stats.iterations === df.stats.iterations)
    val a = TestSpark.collectRanks(at6.ranks)
    val b = TestSpark.collectRanks(df.ranks)
    assert(Oracle.allclose(a, b, 1e-12), s"maxDiff=${Oracle.maxDiff(a, b)}")
  }

  test("sparse sweep (packed-key map, maxDenseBytes=0) == dense sweep") {
    val star = selfLooped((1L to 150L).map(i => (i, 0L)) ++ Seq((0L, 1L)))
    val edges = TestSpark.edgesDf(spark, star)
    val dense = TestSpark.collectRanks(new CsrPageRank(spark).static(edges).ranks)
    val sparse = TestSpark.collectRanks(
      new CsrPageRank(spark, PagerankOptions(), maxDenseBytes = 0L)
        .static(edges).ranks)
    assert(Oracle.allclose(sparse, dense, 1e-12),
      s"maxDiff=${Oracle.maxDiff(sparse, dense)}")
    val want = Oracle.pagerank(new Oracle.G(star), tol = 1e-100)
    assert(Oracle.allclose(sparse, want, 1e-6))
  }

  test("fixed-step throughput mode (tolerance=0) runs exactly maxIterations") {
    val edges = TestSpark.edgesDf(spark, line4)
    val opts = PagerankOptions(tolerance = 0.0, maxIterations = 4)
    val run = new CsrPageRank(spark, opts).static(edges)
    assert(run.stats.iterations === 4)
    val dfRun = new PageRank(spark, opts).static(edges)
    val a = TestSpark.collectRanks(run.ranks)
    val b = TestSpark.collectRanks(dfRun.ranks)
    assert(Oracle.allclose(a, b, 1e-12))
  }

  test("CsrPageRank.static converges to the oracle on line4") {
    val edges = TestSpark.edgesDf(spark, line4)
    val run = new CsrPageRank(spark).static(edges)
    val want = Oracle.pagerank(new Oracle.G(line4), tol = 1e-100)
    assert(Oracle.allclose(TestSpark.collectRanks(run.ranks), want, 1e-6))
  }

  test("L1 residual mode converges on the CSR path too") {
    val edges = TestSpark.edgesDf(spark, line4)
    val run = new CsrPageRank(spark,
      PagerankOptions(useL1Residual = true)).static(edges)
    val want = Oracle.pagerank(new Oracle.G(line4), tol = 1e-100)
    assert(Oracle.allclose(TestSpark.collectRanks(run.ranks), want, 1e-6))
  }
}
