package graft

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{ConnectedComponents, LabelPropagation, TriangleCount}
import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture

class AlgosSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val twoComponents = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L))
  val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)

  /** The shape the snapshot workload feeds CC and LP: seeded random links,
    * a self-loop on every vertex, vertices 60..71 with the self-loop as
    * their only edge, symmetrized. */
  lazy val snapshotShape: (DataFrame, Oracle.G) = {
    val rnd = new scala.util.Random(11)
    val links = Seq.fill(70)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val loops = (0L until 72L).map(v => (v, v))
    val sym = EdgeOps.symmetrize(TestSpark.edgesDf(spark, links ++ loops)).cache()
    (sym, new Oracle.G(sym.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq))
  }

  /** Jobs `f` starts on this thread, read after the listener bus drained. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.job") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.test.job", tag)
    try f
    finally {
      sc.setLocalProperty("graft.test.job", null)
      GraftSparkBridge.waitUntilEmpty(sc, 10000L)
      sc.removeSparkListener(l)
    }
    n.get()
  }

  test("CC: exact min-id labels on twoComponents") {
    val sym = EdgeOps.symmetrize(TestSpark.edgesDf(spark, twoComponents))
    val got = TestSpark.collectLabels(ConnectedComponents.run(spark, sym))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("CC matches union-find oracle on the web fixture") {
    val P = 300L
    val pages = WebGraphFixture.pages(spark, P).toDF()
    val (dict, staged) = EdgeOps.stage(pages)
    val sym = EdgeOps.symmetrize(EdgeOps.simple(staged))
    val got = TestSpark.collectLabels(ConnectedComponents.run(spark, sym))
    val symSeq = sym.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Oracle.connectedComponents(new Oracle.G(symSeq))
    assert(got === want)
  }

  test("CC: 10⁴-long chain converges in O(log d) rounds (pointer doubling)") {
    // A path graph has diameter 10⁴ — plain hash-min would need 10⁴ rounds;
    // with shortcutting the round count must stay logarithmic (<20).
    val n = 10000L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val sym = EdgeOps.symmetrize(TestSpark.edgesDf(spark, chain))
    val (labels, rounds) = ConnectedComponents.runWithRounds(spark, sym)
    assert(rounds < 20, s"took $rounds rounds")
    val got = TestSpark.collectLabels(labels)
    assert(got.size === n)
    assert(got.values.forall(_ == 0L))
  }

  test("CC and LP on the snapshot shape match the oracle across partitions") {
    assert(spark.sparkContext.defaultParallelism >= 2)
    val (sym, g) = snapshotShape
    val cc = Oracle.connectedComponents(g)
    assert(cc.values.toSet.size > 12, "fixture should have several components")
    assert(TestSpark.collectLabels(ConnectedComponents.run(spark, sym)) === cc)
    assert(TestSpark.collectLabels(LabelPropagation.run(spark, sym, 3)) ===
      Oracle.labelPropagation(g, 3))
  }

  test("LP stops before `rounds` once no label changes") {
    val (sym, g) = snapshotShape
    val (want, settled) = Oracle.labelPropagationRounds(g, 50)
    assert(settled < 50, "fixture should settle")
    var got = Map.empty[Long, Long]
    val capped = jobsOf(LabelPropagation.run(spark, sym, settled).collect())
    val loose = jobsOf { got = TestSpark.collectLabels(LabelPropagation.run(spark, sym, 50)) }
    assert(got === want)
    // one job per round: a 50-round cap runs no more rounds than `settled`
    assert(loose === capped)
  }

  test("LP: deterministic sync mode labels match the oracle") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (3L, 10L))
    val sym = EdgeOps.symmetrize(TestSpark.edgesDf(spark, edges))
    val rounds = 4
    val got = TestSpark.collectLabels(LabelPropagation.run(spark, sym, rounds))
    val symSeq = sym.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Oracle.labelPropagation(new Oracle.G(symSeq), rounds)
    assert(got === want)
  }

  test("LP is reproducible run-to-run (tie-break determinism)") {
    val P = 200L
    val pages = WebGraphFixture.pages(spark, P).toDF()
    val (_, staged) = EdgeOps.stage(pages)
    val sym = EdgeOps.symmetrize(EdgeOps.simple(staged)).cache()
    val a = TestSpark.collectLabels(LabelPropagation.run(spark, sym, 3))
    val b = TestSpark.collectLabels(LabelPropagation.run(spark, sym, 3))
    assert(a === b)
  }

  test("TC: k4 has 4 triangles; per-vertex sums to 3×global") {
    val sym = EdgeOps.symmetrize(TestSpark.edgesDf(spark, k4))
    assert(TriangleCount.global(spark, sym) === 4L)
    val pv = TriangleCount.perVertex(spark, sym)
      .agg(org.apache.spark.sql.functions.sum("triangles")).collect()(0).getLong(0)
    assert(pv === 12L)
  }

  test("TC matches brute-force oracle on the web fixture and ignores self-loops") {
    val P = 300L
    val pages = WebGraphFixture.pages(spark, P).toDF()
    val (dict, staged) = EdgeOps.stage(pages)
    val withLoops = EdgeOps.withSelfLoops(EdgeOps.simple(staged), dict.select("id"))
    val sym = EdgeOps.symmetrize(withLoops)
    val got = TriangleCount.global(spark, sym)
    val symSeq = sym.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Oracle.triangles(new Oracle.G(symSeq))
    assert(got === want)
  }

  test("TC is invariant under edge-order permutation") {
    val e = k4 ++ Seq((5L, 1L), (5L, 2L))
    val sym1 = EdgeOps.symmetrize(TestSpark.edgesDf(spark, e))
    val sym2 = EdgeOps.symmetrize(TestSpark.edgesDf(spark, e.reverse))
    assert(TriangleCount.global(spark, sym1) === TriangleCount.global(spark, sym2))
  }
}
