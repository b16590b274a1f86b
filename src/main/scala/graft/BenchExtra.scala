package graft

import org.apache.spark.sql.SparkSession

/** Supplementary measurement main (guide §1.4): times declared queries
  * exactly like Bench phase 1 (fresh session, same order, `.collect()`),
  * then a warm repeat to separate fixed/JIT cost from steady-state, and
  * optionally dumps `.explain("formatted")` plans to a directory.
  *
  * NOT part of the driver contract — Bench.scala stays the frozen harness;
  * numbers from here are cited in OPTIMIZATION_r06.md only.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     cores (default 32)
  *   GRAFT_EXTRA_QUERIES  comma list (default: the Bench headline set)
  *   GRAFT_EXTRA_REPEATS  warm repeats per query (default 2)
  *   GRAFT_EXTRA_PLANDIR  if set, write <q>.txt explain(formatted) there
  */
object BenchExtra {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val headline = Seq("q_degree_distribution", "q_indegree", "q_triangle_count",
      "q_pagerank_iter3", "q_dedup_exact", "q_token_count", "q_text_quality",
      "q_minhash_lsh", "q_ann_bruteforce", "q_connected_components")
    val names = sys.env.get("GRAFT_EXTRA_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(headline)
    val repeats = sys.env.getOrElse("GRAFT_EXTRA_REPEATS", "2").toInt
    val planDir = sys.env.get("GRAFT_EXTRA_PLANDIR")

    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.tameStatusListener(s, force = true)

    // deterministic fixed-cost signals: jobs/stages/tasks per execution
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
      }
    })
    def counted[T](f: => T): (Long, Long, Long) = {
      val j0 = jobs.get(); val g0 = stages.get(); val t0 = tasks.get()
      f
      org.apache.spark.GraftSparkBridge.waitUntilEmpty(s.sparkContext, 10000L)
      (jobs.get() - j0, stages.get() - g0, tasks.get() - t0)
    }

    val out = new StringBuilder("{")
    var first = true
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[extra] unknown query $name")
        case Some(fn) =>
          s.sparkContext.setJobDescription(s"extra: $name")
          var cold = 0.0
          val (jn, gn, tn) = counted { cold = time(fn(s, sfDir).collect())._2 }
          val warms = (0 until repeats).map(_ => time(fn(s, sfDir).collect())._2)
          val warmStr = warms.map(w => f"$w%.3f").mkString("[", ",", "]")
          System.err.println(f"[extra] $name%-28s cold $cold%7.3f s  " +
            f"jobs $jn%3d stages $gn%3d tasks $tn%5d  warm $warmStr")
          if (!first) out.append(",")
          first = false
          out.append(s""""$name":{"cold":${f"$cold%.3f"},"jobs":$jn,"warm":$warmStr}""")
          planDir.foreach { dir =>
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
            val plan = fn(s, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(dir, s"$name.txt"), plan)
          }
      }
    }
    out.append("}")
    println(out.result())
    s.stop()
  }
}
