package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
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

  test("one-edge batch: tidy and advance in ≤ 2 jobs each with no shuffle, DF-P in ≤ 5 jobs") {
    val p = 250L
    val raw = WebGraphFixture.rawEdges(p).distinct.filterNot { case (a, b) => a == b }
    val edge = raw.last
    val base = raw.init ++ (0L until p).map(v => (v, v))
    val y = base :+ edge
    val x = EdgeOps.withSelfLoops(TestSpark.edgesDf(spark, raw.init),
      spark.range(p).toDF("id")).ckpt()
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
      Seq(edge), Nil, Oracle.DFP)
    assert(run.stats.iterations === refIters)
  }
}
