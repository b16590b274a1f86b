package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
import graft.model.{DynamicVariant, PagerankOptions}
import graft.pagerank.PageRank

class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def selfLooped(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    (edges ++ vs.map(v => (v, v))).distinct
  }

  val line4 = selfLooped(Seq((1L, 2L), (2L, 3L), (3L, 4L)))

  test("static PageRank on line4 matches the in-memory reference oracle (allclose 1e-6)") {
    val pr = new PageRank(spark)
    val got = TestSpark.collectRanks(
      pr.static(TestSpark.edgesDf(spark, line4)).ranks)
    val want = Oracle.pagerank(new Oracle.G(line4), tol = 1e-100)
    assert(Oracle.allclose(got, want, 1e-6),
      s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("static PageRank ranks sum to 1 (self-loops ⇒ no dangling mass)") {
    val pr = new PageRank(spark)
    val run = pr.static(TestSpark.edgesDf(spark, line4))
    val s = run.ranks.agg(sum("rank")).collect()(0).getDouble(0)
    assert(math.abs(s - 1.0) < 1e-8)
    assert(run.stats.iterations > 1 && run.stats.finalResidual < 1e-10)
  }

  test("static PageRank on the synthetic web fixture matches the oracle end-to-end") {
    val P = 300L
    val pages = WebGraphFixture.pages(spark, P).toDF()
    val (dict, staged) = EdgeOps.stage(pages)
    val allVerts = dict.select(col("id"))
    val y = EdgeOps.withSelfLoops(EdgeOps.simple(staged), allVerts)

    val got = TestSpark.collectRanks(new PageRank(spark).static(y).ranks)

    val urlToId = dict.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oEdges = selfLooped(
      WebGraphFixture.rawEdges(P).map { case (s, d) =>
        (urlToId(WebGraphFixture.url(s)), urlToId(WebGraphFixture.url(d)))
      } ++ (0L until P).map(k => (urlToId(WebGraphFixture.url(k)),
        urlToId(WebGraphFixture.url(k)))))
    val want = Oracle.pagerank(new Oracle.G(oEdges), tol = 1e-100)
    assert(got.size === P)
    assert(Oracle.allclose(got, want, 1e-6),
      s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("salted two-phase hub aggregation is value-identical to the one-phase plan") {
    // Star into a hub (+ a tail) so one dst dominates in-degree; force the
    // salted plan with a tiny hubThreshold and compare against the default
    // (one-phase) plan and the oracle. Only fp summation order differs.
    val star = selfLooped(
      (1L to 200L).map(i => (i, 0L)) ++ Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    val edges = TestSpark.edgesDf(spark, star)
    val unsalted = TestSpark.collectRanks(new PageRank(spark).static(edges).ranks)
    val saltedPr = new PageRank(spark, PagerankOptions(hubThreshold = Some(10L)))
    val saltedRanks = TestSpark.collectRanks(saltedPr.static(edges).ranks)
    assert(Oracle.allclose(saltedRanks, unsalted, 1e-12),
      s"maxDiff=${Oracle.maxDiff(saltedRanks, unsalted)}")
    val want = Oracle.pagerank(new Oracle.G(star), tol = 1e-100)
    assert(Oracle.allclose(saltedRanks, want, 1e-6))
  }

  test("salted plan also exact under dynamic frontier (sweep filter + salt)") {
    val base = selfLooped((1L to 100L).map(i => (i, 0L)) ++ Seq((0L, 5L)))
    val ins = Seq((7L, 9L), (9L, 23L))
    val y = selfLooped(base ++ ins)
    val xDf = TestSpark.edgesDf(spark, base)
    val yDf = TestSpark.edgesDf(spark, y)
    val insDf = TestSpark.edgesDf(spark, ins)
    val none = insDf.limit(0)
    // the salted static plan supplies the warm ranks of a DF run on the
    // hub graph
    val opts = PagerankOptions(hubThreshold = Some(10L))
    val prev = new PageRank(spark, opts).static(xDf).ranks.cache()
    val got = TestSpark.collectRanks(
      new PageRank(spark, opts).dynamicFrontier(xDf, yDf, insDf, none, prev).ranks)
    val want = Oracle.pagerank(new Oracle.G(y), tol = 1e-100)
    assert(Oracle.allclose(got, want, 1e-6), s"maxDiff=${Oracle.maxDiff(got, want)}")
    val (ref, _) = Oracle.dynamic(base, y, TestSpark.collectRanks(prev), ins,
      Nil, DynamicVariant.DF)
    assert(Oracle.allclose(got, ref, 1e-9), s"maxDiff=${Oracle.maxDiff(got, ref)}")
  }

  test("L1 residual mode also converges to the same fixpoint") {
    val pr = new PageRank(spark, PagerankOptions(useL1Residual = true))
    val got = TestSpark.collectRanks(
      pr.static(TestSpark.edgesDf(spark, line4)).ranks)
    val want = Oracle.pagerank(new Oracle.G(line4), tol = 1e-100)
    assert(Oracle.allclose(got, want, 1e-6))
  }
}
