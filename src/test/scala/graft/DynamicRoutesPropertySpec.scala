package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.model.DynamicVariant
import graft.pagerank.{CsrDynamic, CsrPageRank, PageRank}
import graft.streaming.IncrementalPageRank

/** Property: on small random digraphs with one random batch, every dynamic
  * PageRank route agrees with the sequential reference (`Oracle.dynamic`)
  * from the same warm ranks — the four `PageRank` variants, the carried
  * `CsrDynamic.applyBatch` (DF and DF-P) and `IncrementalPageRank`. */
class DynamicRoutesPropertySpec extends AnyFunSuite {
  import DynamicRoutesPropertySpec._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def edge(n: Int): Gen[E] =
    Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L))

  val genCase: Gen[Case] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(0, 3 * n)
    raw <- Gen.listOfN(m, edge(n))
    base = (raw ++ (0L until n).map(v => (v, v))).distinct
    empty <- Gen.oneOf(true, false, false, false)
    fresh <- Gen.listOfN(4, edge(n))
    again <- Gen.someOf(fresh ++ base.take(4))
    nonLoop = base.filter { case (a, b) => a != b }
    present <- if (nonLoop.isEmpty) Gen.const(Nil)
      else Gen.pick(math.min(3, nonLoop.size), nonLoop)
    absent <- Gen.listOfN(2, edge(n))
    loops <- Gen.listOfN(2, Gen.choose(0L, n - 1L).map(v => (v, v)))
  } yield
    if (empty) Case(n, base, Nil, Nil)
    else Case(n, base, fresh ++ again, present.toSeq ++ absent ++ loops)

  def df(e: Seq[E]): DataFrame = TestSpark.edgesDf(spark, e)

  def close(route: String, got: Map[Long, Double], want: Map[Long, Double]): Unit =
    assert(Oracle.allclose(got, want, 1e-9),
      s"$route maxDiff=${Oracle.maxDiff(got, want)}")

  /** Every frontier run returns one superstep record per iteration, and
    * takes as many iterations as the sequential reference. */
  def recorded(route: String, run: graft.pagerank.PagerankRun,
      refIters: Int): Unit = {
    assert(run.stats.supersteps.size === run.stats.iterations, route)
    assert(run.stats.iterations === refIters, s"$route iterations")
  }

  def checkCase(c: Case): Unit = {
    val x = c.base
    // every vertex keeps its self-loop: self-loop deletions never apply
    val del = c.del.filter { case (a, b) => a != b }
    val y = (x.filterNot(del.toSet) ++ c.ins).distinct
    val (xDf, yDf, insDf, delDf) = (df(x), df(y), df(c.ins), df(del))

    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(xDf)
    val (staticRun, st0) = dyn.staticWithState(g0)
    val prev = staticRun.ranks.cache()
    val prevMap = TestSpark.collectRanks(prev)

    // one-shot variants: the raw batch, y merged by the caller
    val pr = new PageRank(spark)
    for (v <- DynamicVariant.all) {
      val run = pr.dynamic(v, xDf, yDf, insDf, delDf, prev)
      val (ref, refIters) = Oracle.dynamic(x, y, prevMap, c.ins, del, v)
      recorded(s"PageRank $v", run, refIters)
      close(s"PageRank $v", TestSpark.collectRanks(run.ranks), ref)
    }

    // carried splice: its contract wants a tidy batch
    val insT = c.ins.distinct.filterNot(x.toSet)
    val delT = del.distinct.filter(x.toSet)
    val yT = (x.filterNot(delT.toSet) ++ insT).distinct
    for ((prune, v) <- Seq(false -> DynamicVariant.DF, true -> DynamicVariant.DFP)) {
      val (_, run, _) = dyn.applyBatch(g0, st0, EdgeOps.tidyInsertions(insDf, xDf),
        EdgeOps.tidyDeletions(delDf, xDf), prune)
      val (ref, refIters) = Oracle.dynamic(x, yT, prevMap, insT, delT, v)
      recorded(s"CsrDynamic.applyBatch $v", run, refIters)
      close(s"CsrDynamic.applyBatch $v", TestSpark.collectRanks(run.ranks), ref)
    }

    // streaming front end: the raw batch (incl. self-loop deletion
    // attempts) as op-typed rows; it runs DF on the graph change the batch
    // makes, so the reference gets that change as a tidy batch
    val inc = new IncrementalPageRank(spark, (0L until c.n).toDF("id"))
    inc.applyBatch(xDf)
    val incPrev = TestSpark.collectRanks(inc.currentRanks)
    inc.applyBatch(insDf.withColumn("op", lit("ins"))
      .union(df(c.del).withColumn("op", lit("del"))))
    val moved = delT.filterNot(c.ins.toSet)
    close("IncrementalPageRank", TestSpark.collectRanks(inc.currentRanks),
      Oracle.dynamic(x, y, incPrev, insT, moved, DynamicVariant.DF)._1)
  }

  test("every dynamic route agrees with Oracle.dynamic on random batches") {
    val params = Check.Parameters.default
      .withMinSuccessfulTests(20)
      .withWorkers(1)
      .withInitialSeed(Seed(20261019L))
    val res = Check.check(params, Prop.forAllNoShrink(genCase) { c =>
      checkCase(c)
      true
    })
    assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
  }
}

object DynamicRoutesPropertySpec {
  type E = (Long, Long)

  /** A base graph over vertices 0 until n (every vertex self-looped) and
    * one batch. The batch may be empty; otherwise it mixes new insertions,
    * duplicate and already-present insertions, present and absent
    * deletions, and self-loop deletion attempts. */
  final case class Case(n: Int, base: Seq[E], ins: Seq[E], del: Seq[E])
}
