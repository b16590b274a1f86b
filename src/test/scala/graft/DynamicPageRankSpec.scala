package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
import graft.model.{DynamicVariant, PagerankOptions}
import graft.pagerank.PageRank

/** Dynamic-variant semantics: marking rules pinned on tiny hand-checked
  * graphs (FIXTURES.md §3), then end-to-end batch replay — each dynamic
  * technique's converged ranks must allclose-1e-6 the fresh static oracle on
  * the updated graph, mirroring the reference's own correctness methodology
  * (/root/reference/main.cxx:55,68,85). */
class DynamicPageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def selfLooped(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    (edges ++ vs.map(v => (v, v))).distinct
  }

  def df(e: Seq[(Long, Long)]): DataFrame = TestSpark.edgesDf(spark, e)

  val xE = selfLooped(Seq((1L, 2L), (2L, 3L), (3L, 4L)))  // line4 + loops

  /** One superstep of `v` on the batch from static ranks of x: the vertices
    * it swept are the variant's initial frontier. Checks that the first
    * superstep leaves `want.size` vertices flagged and every vertex outside
    * `want` bit-identical to the warm ranks. DF and DT never unflag a swept
    * vertex, and marks in flight to the next round are not counted. */
  def firstFrontier(v: DynamicVariant, yE: Seq[(Long, Long)],
      ins: Seq[(Long, Long)], del: Seq[(Long, Long)], want: Set[Long]): Unit = {
    val prev = new PageRank(spark).static(df(xE)).ranks.cache()
    val pr = new PageRank(spark, PagerankOptions(maxIterations = 1))
    val run = pr.dynamic(v, df(xE), df(yE), df(ins), df(del), prev)
    assert(run.stats.supersteps.head.flagged === want.size.toLong, v)
    val before = TestSpark.collectRanks(prev)
    val after = TestSpark.collectRanks(run.ranks)
    assert(after.keySet === before.keySet)
    val swept = after.keySet.filter(k => after(k) != before(k))
    assert(swept.subsetOf(want), s"$v swept $swept outside $want")
  }

  test("DF marking: insertion (2,4) marks out-neighbors of 2 in y = {2,3,4}") {
    firstFrontier(DynamicVariant.DF, selfLooped(xE :+ (2L -> 4L)),
      ins = Seq((2L, 4L)), del = Nil, want = Set(2L, 3L, 4L))
  }

  test("DF marking: deletion (2,3) marks out-neighbors of 2 in x = {2,3}") {
    firstFrontier(DynamicVariant.DF, selfLooped(Seq((1L, 2L), (3L, 4L))),
      ins = Nil, del = Seq((2L, 3L)), want = Set(2L, 3L))
  }

  test("DT marking: BFS closure from the seeds in y") {
    // closure of {2,3,4} in y (line + 2->4): stays {2,3,4}
    firstFrontier(DynamicVariant.DT, selfLooped(xE :+ (2L -> 4L)),
      ins = Seq((2L, 4L)), del = Nil, want = Set(2L, 3L, 4L))
    // from vertex 1's neighborhood the closure reaches everything
    firstFrontier(DynamicVariant.DT, selfLooped(xE :+ (1L -> 3L)),
      ins = Seq((1L, 3L)), del = Nil, want = Set(1L, 2L, 3L, 4L))
  }

  test("all four dynamic variants converge to the static fixpoint after a batch") {
    val P = 200L
    val pages = WebGraphFixture.pages(spark, P).toDF()
    val (dict, staged) = EdgeOps.stage(pages)
    val allVerts = dict.select("id")
    val m = staged.count()
    val base90 = (0.9 * m).toLong

    val xEdges = EdgeOps.withSelfLoops(
      EdgeOps.simple(staged.where($"seq" < base90)), allVerts)
    val ins = staged.where($"seq" >= base90 && $"seq" < base90 + 50)
      .select("src", "dst")
    val yEdges = EdgeOps.applyBatch(xEdges, ins, df(Seq.empty))
    val del = df(Seq.empty)

    val pr = new PageRank(spark)
    val prev = pr.static(xEdges).ranks.cache()
    val want = TestSpark.collectRanks(pr.static(yEdges).ranks)

    val nd = TestSpark.collectRanks(pr.naiveDynamic(yEdges, prev).ranks)
    assert(Oracle.allclose(nd, want, 1e-6), s"ND maxDiff=${Oracle.maxDiff(nd, want)}")

    val dt = TestSpark.collectRanks(
      pr.dynamicTraversal(xEdges, yEdges, ins, del, prev).ranks)
    assert(Oracle.allclose(dt, want, 1e-6), s"DT maxDiff=${Oracle.maxDiff(dt, want)}")

    val dfr = TestSpark.collectRanks(
      pr.dynamicFrontier(xEdges, yEdges, ins, del, prev).ranks)
    assert(Oracle.allclose(dfr, want, 2e-6), s"DF maxDiff=${Oracle.maxDiff(dfr, want)}")

    val dfp = TestSpark.collectRanks(
      pr.dynamicFrontierPrune(xEdges, yEdges, ins, del, prev).ranks)
    assert(Oracle.allclose(dfp, want, 2e-6), s"DFP maxDiff=${Oracle.maxDiff(dfp, want)}")
  }

  test("deletion batch: DF converges to static fixpoint of the shrunk graph") {
    val pr = new PageRank(spark)
    val yE = selfLooped(Seq((1L, 2L), (3L, 4L), (2L, 3L))) // keep verts alive
    val xWith = selfLooped(xE :+ (1L -> 4L))
    val del = df(Seq((1L, 4L)))
    val x = df(xWith)
    val y = EdgeOps.applyBatch(x, df(Seq.empty), del)
    val prev = pr.static(x).ranks.cache()
    val want = TestSpark.collectRanks(pr.static(y).ranks)
    val got = TestSpark.collectRanks(
      pr.dynamicFrontier(x, y, df(Seq.empty), del, prev).ranks)
    assert(Oracle.allclose(got, want, 2e-6), s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("warm start: new vertices init at 0.0, not 1/N (reference R3 quirk)") {
    // y adds a brand-new vertex 5 via edge (4,5); naive-dynamic must still
    // converge to the static fixpoint of y, and every variant must match
    // the sequential reference, which starts vertex 5 at 0.0.
    val pr = new PageRank(spark)
    val x = df(xE)
    val yE = selfLooped(xE :+ (4L -> 5L))
    val y = df(yE)
    val ins = Seq((4L, 5L))
    val prev = pr.static(x).ranks.cache()
    val prevMap = TestSpark.collectRanks(prev)
    assert(!prevMap.contains(5L))
    val want = TestSpark.collectRanks(pr.static(y).ranks)
    val nd = TestSpark.collectRanks(pr.naiveDynamic(y, prev).ranks)
    assert(nd.keySet.contains(5L))
    assert(Oracle.allclose(nd, want, 1e-6))
    for (v <- DynamicVariant.all) {
      val run = pr.dynamic(v, x, y, df(ins), df(Seq.empty), prev)
      val (ref, refIters) = Oracle.dynamic(xE, yE, prevMap, ins, Nil, v)
      val got = TestSpark.collectRanks(run.ranks)
      assert(Oracle.allclose(got, ref, 1e-9), s"$v maxDiff=${Oracle.maxDiff(got, ref)}")
      assert(run.stats.iterations === refIters, v)
    }
  }
}
