package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
import graft.model.DynamicVariant
import graft.pagerank.{CsrDynamic, CsrPageRank, PageRank}

/** CSR dynamic-frontier engine (push-based delta propagation over
  * partition-local CSR blocks) vs the sequential dynamic reference
  * (`Oracle.dynamic`) and the converged in-memory oracle. */
class CsrDynamicSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def selfLooped(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    (edges ++ vs.map(v => (v, v))).distinct
  }

  /** Base fixture: real web graph at 250 pages, batch = the tail of the
    * deterministic stream (same protocol as the bench). */
  def fixture(p: Long = 250L): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val raw = WebGraphFixture.rawEdges(p).distinct
    val verts = (0L until p)
    val all = (raw ++ verts.map(v => (v, v))).distinct
    val cut = (raw.size * 0.9).toInt
    val ins = raw.drop(cut).filterNot(raw.take(cut).contains)
      .filterNot { case (a, b) => a == b }
    val base = all.filterNot(e => ins.contains(e))
    (base, ins)
  }

  test("CSR DF after one insertion batch: allclose oracle + DataFrame DF") {
    val (base, ins) = fixture()
    val y = (base ++ ins).distinct
    val xDf = TestSpark.edgesDf(spark, base)
    val insDf = TestSpark.edgesDf(spark, ins)
    val none = insDf.limit(0)

    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(xDf)
    val (staticRun, st0) = dyn.staticWithState(g0)
    val (g1, dfRun, _) = dyn.applyBatch(g0, st0, insDf, none, prune = false)
    assert(g1.nEdges === y.size)

    val got = TestSpark.collectRanks(dfRun.ranks)
    val want = Oracle.pagerank(new Oracle.G(y), tol = 1e-100)
    assert(got.size === want.size)
    assert(Oracle.allclose(got, want, 1e-6), s"maxDiff=${Oracle.maxDiff(got, want)}")

    // vs the sequential DF reference from the same warm ranks (same
    // variant, same tolerances)
    val (ref, _) = Oracle.dynamic(base, y, TestSpark.collectRanks(staticRun.ranks),
      ins, Nil, DynamicVariant.DF)
    assert(Oracle.allclose(got, ref, 1e-9), s"maxDiff=${Oracle.maxDiff(got, ref)}")
  }

  test("deleting a vertex's only edge (its self-loop) breaks the self-loop contract") {
    val edges = TestSpark.edgesDf(spark,
      selfLooped(Seq((1L, 2L), (2L, 3L))) :+ ((9L, 9L)))
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(edges)
    val (_, st0) = dyn.staticWithState(g0)
    val del = TestSpark.edgesDf(spark, Seq((9L, 9L)))
    val e = intercept[Exception](
      dyn.applyBatch(g0, st0, del.limit(0), del, prune = true))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains(
      "vertex 9 would lose its last edge (self-loop contract)")), e.toString)
  }

  test("decomposition counters: supersteps and kernel critical-path advance") {
    val (base, ins) = fixture()
    val xDf = TestSpark.edgesDf(spark, base)
    val insDf = TestSpark.edgesDf(spark, ins)
    val none = insDf.limit(0)
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(xDf)
    val (staticRun, st0) = dyn.staticWithState(g0)
    val prev = TestSpark.collectRanks(staticRun.ranks)
    val y = (base ++ ins).distinct
    val tol = graft.model.PagerankOptions().tolerance
    for ((prune, v) <- Seq(false -> DynamicVariant.DF, true -> DynamicVariant.DFP)) {
      val (_, run, _) = dyn.applyBatch(g0, st0, insDf, none, prune)
      val recs = run.stats.supersteps
      val kernelMs = recs.map(_.kernelCritMs).sum
      assert(recs.size === run.stats.iterations, s"prune=$prune")
      assert(kernelMs > 0.0, s"prune=$prune")
      // kernel critical path can never exceed the loop's wall time
      assert(kernelMs <= run.stats.computeTimeMs, s"prune=$prune")
      assert(recs.map(_.flagged).max > 0L, s"prune=$prune")
      assert(recs.last.residual === run.stats.finalResidual, s"prune=$prune")

      // Fused-block stop rule: a block keeps the first superstep under the
      // tolerance or with an empty frontier and discards the rest, so the
      // run stops where the one-job-per-superstep loop stops. The run is
      // long enough for blocks to fuse.
      assert(run.stats.iterations > CsrDynamic.fuseMax, s"prune=$prune")
      assert(recs.init.forall(_.residual >= tol),
        s"prune=$prune residuals: ${recs.map(_.residual)}")
      assert(recs.last.residual < tol || recs.last.flagged == 0L,
        s"prune=$prune last record ${recs.last}")
      val (_, refIters) = Oracle.dynamic(base, y, prev, ins, Nil, v)
      assert(run.stats.iterations === refIters, s"prune=$prune")
    }
  }

  test("CSR DF-P (pruning) after a mixed insertion+deletion batch: allclose oracle") {
    val (base, ins) = fixture(200L)
    // delete a few non-self-loop base edges
    val del = base.filter { case (a, b) => a != b && a % 13 == 0 }.take(8)
    val y = (base.filterNot(del.contains) ++ ins).distinct
    val xDf = TestSpark.edgesDf(spark, base)

    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(xDf)
    val (_, st0) = dyn.staticWithState(g0)
    val (g1, run, _) = dyn.applyBatch(g0, st0,
      TestSpark.edgesDf(spark, ins), TestSpark.edgesDf(spark, del),
      prune = true)
    assert(g1.nEdges === y.size)
    val got = TestSpark.collectRanks(run.ranks)
    val want = Oracle.pagerank(new Oracle.G(y), tol = 1e-100)
    assert(Oracle.allclose(got, want, 2e-6), s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("multi-batch carry: 3 consecutive batches stay allclose the fresh static run") {
    val p = 200L
    val raw = WebGraphFixture.rawEdges(p).distinct.filter { case (a, b) => a != b }
    val verts = (0L until p).map(v => (v, v))
    val cut = (raw.size * 0.85).toInt
    val base = (raw.take(cut) ++ verts).distinct
    val batches = raw.drop(cut).grouped(math.max(1, (raw.size - cut) / 3 + 1)).toSeq

    val dyn = new CsrDynamic(spark)
    var g = new CsrPageRank(spark).build(TestSpark.edgesDf(spark, base))
    var (_, st) = dyn.staticWithState(g)
    var edges = base
    for (b <- batches) {
      val ins = b.filterNot(edges.contains)
      edges = (edges ++ ins).distinct
      val insDf = TestSpark.edgesDf(spark, ins)
      val (g2, run, st2) = dyn.applyBatch(g, st, insDf, insDf.limit(0),
        prune = false)
      g = g2; st = st2
      val got = TestSpark.collectRanks(run.ranks)
      val want = Oracle.pagerank(new Oracle.G(edges), tol = 1e-100)
      assert(Oracle.allclose(got, want, 2e-6),
        s"maxDiff=${Oracle.maxDiff(got, want)} after batch")
    }
  }

  test("PageRank's dynamic variants on the CSR engine: oracle + reference") {
    val (base, ins) = fixture(200L)
    val y = (base ++ ins).distinct
    val xDf = TestSpark.edgesDf(spark, base)
    val yDf = TestSpark.edgesDf(spark, y)
    val insDf = TestSpark.edgesDf(spark, ins)
    val none = insDf.limit(0)
    val want = Oracle.pagerank(new Oracle.G(y), tol = 1e-100)

    val pr = new PageRank(spark)
    val prev = pr.static(xDf).ranks.cache()
    val prevMap = TestSpark.collectRanks(prev)
    for (v <- DynamicVariant.all) {
      val got = TestSpark.collectRanks(
        pr.dynamic(v, xDf, yDf, insDf, none, prev).ranks)
      assert(got.size === want.size)
      assert(Oracle.allclose(got, want, if (v == DynamicVariant.DFP) 2e-6 else 1e-6),
        s"$v maxDiff=${Oracle.maxDiff(got, want)}")
      // and value-identical (within residual tolerance) to the reference
      val (ref, _) = Oracle.dynamic(base, y, prevMap, ins, Nil, v)
      assert(Oracle.allclose(got, ref, 1e-9), s"$v maxDiff=${Oracle.maxDiff(got, ref)}")
    }
  }

  test("one-shot PageRank.dynamicFrontier equals carried-state applyBatch (same batch, same fixpoint)") {
    val (base, ins) = fixture(150L)
    val y = (base ++ ins).distinct
    val xDf = TestSpark.edgesDf(spark, base)
    val yDf = TestSpark.edgesDf(spark, y)
    val insDf = TestSpark.edgesDf(spark, ins)
    val none = insDf.limit(0)

    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(xDf)
    val (_, st0) = dyn.staticWithState(g0)
    val (_, carried, _) = dyn.applyBatch(g0, st0, insDf, none, prune = false)

    val oneShot = new PageRank(spark).dynamicFrontier(xDf, yDf, insDf, none,
      new CsrPageRank(spark).static(xDf).ranks)
    val a = TestSpark.collectRanks(carried.ranks)
    val b = TestSpark.collectRanks(oneShot.ranks)
    assert(Oracle.allclose(a, b, 1e-9), s"maxDiff=${Oracle.maxDiff(a, b)}")
  }

  test("an edge both deleted and inserted by one batch stays (delete, then insert)") {
    val (base, ins) = fixture(150L)
    val both = base.filter { case (a, b) => a != b }.head
    val insB = Seq(both, ins.head)
    val y = (base.filterNot(_ == both) ++ insB).distinct
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(TestSpark.edgesDf(spark, base))
    val (staticRun, st0) = dyn.staticWithState(g0)
    val (g1, run, _) = dyn.applyBatch(g0, st0, TestSpark.edgesDf(spark, insB),
      TestSpark.edgesDf(spark, Seq(both)), DynamicVariant.DF)
    assert(g1.nEdges === y.size)
    val blocks = g1.blocks.collect()
    val spliced = for {
      blk <- blocks.toSeq
      i <- blk.srcs.indices
      e <- blk.offsets(i) until blk.offsets(i + 1)
    } yield (blk.srcs(i), blocks(blk.dstPart(e)).srcs(blk.dstIdx(e)))
    assert(spliced.toSet === y.toSet && spliced.contains(both))
    val (ref, _) = Oracle.dynamic(base, y, TestSpark.collectRanks(staticRun.ranks),
      insB, Seq(both), DynamicVariant.DF)
    val got = TestSpark.collectRanks(run.ranks)
    assert(Oracle.allclose(got, ref, 1e-9), s"maxDiff=${Oracle.maxDiff(got, ref)}")
  }

  test("batch touching a vertex outside the universe raises UniverseGrowthRequired") {
    val base = selfLooped(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(TestSpark.edgesDf(spark, base))
    val (_, st0) = dyn.staticWithState(g0)
    val novel = TestSpark.edgesDf(spark, Seq((1L, 99L)))
    val ex = intercept[org.apache.spark.SparkException] {
      dyn.applyBatch(g0, st0, novel, novel.limit(0), prune = false)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(
      _.isInstanceOf[CsrDynamic.UniverseGrowthRequired]))
  }

  test("sparse push path (maxDenseBytes=0) matches the dense path") {
    val (base, ins) = fixture(200L)
    // the mixed-batch test's deletions: the splice retracts and marks through
    // the sparse map, and DF-P's expansion skips the self edge on both paths
    val del = base.filter { case (a, b) => a != b && a % 13 == 0 }.take(8)
    val g0 = new CsrPageRank(spark).build(TestSpark.edgesDf(spark, base))
    val insDf = TestSpark.edgesDf(spark, ins)
    val delDf = TestSpark.edgesDf(spark, del)
    for (prune <- Seq(false, true)) {
      def runWith(dyn: CsrDynamic): Map[Long, Double] = {
        val (_, st0) = dyn.staticWithState(g0)
        val (_, run, _) = dyn.applyBatch(g0, st0, insDf, delDf, prune)
        TestSpark.collectRanks(run.ranks)
      }
      val dense = runWith(new CsrDynamic(spark))
      val sparse = runWith(new CsrDynamic(spark, graft.model.PagerankOptions(),
        maxDenseBytes = 0))
      // delta-application order differs between the two emit layouts → ulp
      assert(Oracle.allclose(dense, sparse, 1e-12),
        s"prune=$prune maxDiff=${Oracle.maxDiff(dense, sparse)}")
    }
  }

  test("empty batch is a fixpoint no-op (no superstep, ranks unchanged)") {
    val base = selfLooped(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(TestSpark.edgesDf(spark, base))
    val (staticRun, st0) = dyn.staticWithState(g0)
    val none = TestSpark.edgesDf(spark, Seq.empty[(Long, Long)])
    val (_, run, _) = dyn.applyBatch(g0, st0, none, none, prune = false)
    assert(run.stats.iterations === 0)
    val a = TestSpark.collectRanks(run.ranks)
    val b = TestSpark.collectRanks(staticRun.ranks)
    assert(Oracle.allclose(a, b, 0.0))
  }

  test("deleting a non-existent edge is a no-op (reference no-op contract)") {
    val base = selfLooped(Seq((1L, 2L), (2L, 3L)))
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(TestSpark.edgesDf(spark, base))
    val (staticRun, st0) = dyn.staticWithState(g0)
    val ghostDel = TestSpark.edgesDf(spark, Seq((1L, 3L))) // not an edge
    val none = ghostDel.limit(0)
    val (g1, run, _) = dyn.applyBatch(g0, st0, none, ghostDel, prune = false)
    assert(g1.nEdges === base.size)
    val a = TestSpark.collectRanks(run.ranks)
    val b = TestSpark.collectRanks(staticRun.ranks)
    assert(Oracle.allclose(a, b, 1e-9))
  }

  /** Count ShuffleDependencies reachable from an RDD's lineage. */
  private def reachableShuffleDeps(root: org.apache.spark.rdd.RDD[_]): Int = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def go(r: org.apache.spark.rdd.RDD[_]): Int =
      if (!seen.add(r.id)) 0
      else r.dependencies.map {
        case s: org.apache.spark.ShuffleDependency[_, _, _] => 1 + go(s.rdd)
        case d => go(d.rdd)
      }.sum
    go(root)
  }

  test("stream-safety: carried structures carry no shuffle lineage " +
      "(the silent-no-op localCheckpoint leak, fixed r5)") {
    // An indefinite batch loop holds only the returned (graph, state) pair.
    // If either retains ShuffleDependencies from the batch that built it,
    // the ContextCleaner can never unregister those shuffles (the deps stay
    // strongly reachable) and a long stream accumulates map-output
    // registrations + shuffle files without bound — measured pre-fix as
    // ~14 permanently-live deps per batch and per-batch wall growing ~20x
    // across 100 endurance batches. The fix truncates each carried
    // structure AT its materializing job; this pins the invariant.
    val (base, ins) = fixture()
    val xDf = TestSpark.edgesDf(spark, base)
    val insDf = TestSpark.edgesDf(spark, ins)
    val none = insDf.limit(0)
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(xDf)
    val (_, st0) = dyn.staticWithState(g0)
    assert(reachableShuffleDeps(st0) === 0,
      "bootstrap state retains the static run's superstep chain")
    val (g1, _, st1) = dyn.applyBatch(g0, st0, insDf, none, prune = false)
    assert(reachableShuffleDeps(st1) === 0,
      "carried state retains the batch's superstep chain")
    assert(reachableShuffleDeps(g1.blocks) === 0,
      "carried blocks retain the splice's batch shuffles")
  }
}
