package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
import graft.model.DynamicVariant
import graft.pagerank.{CsrDynamic, CsrPageRank}
import graft.util.Ckpt._

/** Spark jobs and shuffle bytes of one stream batch on a fixed input: the
  * three calls of the stream loop (tidy, DF-P splice run, edge-table
  * advance) on a fixed graph with a one-edge insertion batch, so a count
  * compares between commits. */
class BatchJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `f`'s result, the jobs it starts on this thread, and the shuffle bytes
    * their stages write, counted after the listener bus drained. */
  def jobs[T](f: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.job") == tag) {
          n.incrementAndGet()
          e.stageIds.foreach(id => stages.add(id))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          bytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.test.job", tag)
    val out = try f
    finally {
      sc.setLocalProperty("graft.test.job", null)
      GraftSparkBridge.waitUntilEmpty(sc, 10000L)
      sc.removeSparkListener(l)
    }
    (out, n.get(), bytes.get())
  }

  /** The fixed input: the edge lists of x (a 250-page web graph) and y
    * (x plus the one edge it lacks), x checkpointed, and that edge. */
  def fixture(): (Seq[(Long, Long)], Seq[(Long, Long)], DataFrame, (Long, Long)) = {
    val p = 250L
    val raw = WebGraphFixture.rawEdges(p).distinct.filterNot { case (a, b) => a == b }
    val base = raw.init ++ (0L until p).map(v => (v, v))
    val x = EdgeOps.withSelfLoops(TestSpark.edgesDf(spark, raw.init),
      spark.range(p).toDF("id")).ckpt()
    (base, base :+ raw.last, x, raw.last)
  }

  test("one-edge batch: tidy and advance in ≤ 2 jobs each with no shuffle, DF-P in ≤ 5 jobs") {
    val (base, y, x, edge) = fixture()
    val insDf = TestSpark.edgesDf(spark, Seq(edge))
    val none = insDf.limit(0)

    val (insT, tidyJobs, tidyBytes) = jobs(EdgeOps.tidyInsertions(insDf, x).ckpt())
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(x)
    val (staticRun, st0) = dyn.staticWithState(g0)
    val ((g1, run, _), dynJobs, _) = jobs(dyn.applyBatch(g0, st0, insT, none, prune = true))
    val (x2, applyJobs, applyBytes) = jobs(EdgeOps.applyBatch(x, insT, none).ckpt())
    info(s"tidy $tidyJobs jobs $tidyBytes B, DF-P $dynJobs jobs " +
      s"(${run.stats.iterations} supersteps), advance $applyJobs jobs $applyBytes B")

    assert(insT.as[(Long, Long)].collect().toSeq === Seq(edge))
    assert(tidyJobs <= 2 && tidyBytes === 0L, s"tidy: $tidyJobs jobs, $tidyBytes B")
    assert(applyJobs <= 2 && applyBytes === 0L, s"advance: $applyJobs jobs, $applyBytes B")
    assert(x2.count() === y.size && g1.nEdges === y.size)
    assert(dynJobs <= 5, s"DF-P: $dynJobs jobs")
    val (_, refIters) = Oracle.dynamic(base, y, TestSpark.collectRanks(staticRun.ranks),
      Seq(edge), Nil, DynamicVariant.DFP)
    assert(run.stats.iterations === refIters)
  }

  /** Jobs of DT's closure on `g`: one per hop. A hop closes its incoming
    * marks inside each partition and sends on the marks that cross to
    * another; the hops stop after one that sends none. */
  def closureHops(edges: Seq[(Long, Long)], marks: Seq[Long], parts: Int): Int = {
    val out = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    def part(v: Long) = CsrDynamic.homePart(v, parts)
    var seen = Set.empty[Long]
    var in = marks
    var hops = 0
    while (in.nonEmpty) {
      hops += 1
      var todo = in.distinct.filterNot(seen)
      seen ++= todo
      val cross = Seq.newBuilder[Long]
      while (todo.nonEmpty) {
        val u = todo.head
        todo = todo.tail
        out(u).foreach { v =>
          if (part(v) != part(u)) cross += v
          else if (!seen(v)) { seen += v; todo :+= v }
        }
      }
      in = cross.result()
    }
    hops
  }

  test("one-edge batch: DT runs DF's jobs plus one per closure hop, ND as many as DF") {
    val (base, y, x, edge) = fixture()
    val insDf = TestSpark.edgesDf(spark, Seq(edge))
    val none = insDf.limit(0)
    val dyn = new CsrDynamic(spark)
    val g0 = new CsrPageRank(spark).build(x)
    val (staticRun, st0) = dyn.staticWithState(g0)
    val prev = TestSpark.collectRanks(staticRun.ranks)
    def run(v: DynamicVariant) = {
      val ((_, r, _), n, _) = jobs(dyn.applyBatch(g0, st0, insDf, none, v))
      val (_, refIters) = Oracle.dynamic(base, y, prev, Seq(edge), Nil, v)
      assert(r.stats.iterations === refIters, v)
      (n, r.stats.iterations)
    }
    val (dfJobs, dfIters) = run(DynamicVariant.DF)
    val (dtJobs, dtIters) = run(DynamicVariant.DT)
    val (ndJobs, ndIters) = run(DynamicVariant.ND)
    val marks = y.filter(_._1 == edge._1).map(_._2)
    val hops = closureHops(y, marks, g0.vCounts.length)
    info(s"DF $dfJobs jobs ($dfIters supersteps), DT $dtJobs jobs " +
      s"($dtIters supersteps, $hops closure hops), ND $ndJobs jobs ($ndIters supersteps)")
    // all three run the same supersteps here (DF 11 jobs at 57), so the
    // seeding is the whole difference: DT's closure adds its hops (7 on 4
    // partitions), ND's every-vertex marks add none
    assert(dtJobs === dfJobs + hops, s"DT: $dtJobs jobs, DF $dfJobs, $hops hops")
    assert(ndJobs === dfJobs, s"ND: $ndJobs jobs, DF $dfJobs")
  }
}
