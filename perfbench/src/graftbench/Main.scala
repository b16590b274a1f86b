package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point:
  * `Main --workload <snapshot|stream-small|stream-large> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * One process runs one workload as a closed loop with a single caller: the
  * next unit of work starts when the previous one returned. The last stdout
  * line is the JSON result; everything else goes to stderr. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("snapshot", "stream-small", "stream-large")
    val workload = opts.getOrElse("workload", "")
    require(known(workload), s"--workload must be one of ${known.mkString(", ")}")
    val ctx = new Ctx(workload, opts("seed").toLong, opts("seconds").toInt,
      opts.getOrElse("trace", "0") == "1",
      java.nio.file.Paths.get(sys.props.getOrElse("graftbench.work", "perfbench/.work")))
    // A run that cannot finish prints no result: its metrics would be missing.
    val finished =
      try {
        if (workload == "snapshot") Snapshot.run(ctx) else Stream.run(ctx)
        true
      } catch {
        case t: Throwable =>
          ctx.log(s"workload aborted: $t")
          t.printStackTrace()
          false
      } finally ctx.stopSession()
    if (finished) println(ctx.resultJson())
    System.exit(if (finished) 0 else 1)
  }
}

/** State shared by a run: session, tracer, checks and metric values. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: java.nio.file.Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val runId: String = s"$workload-$seed-${ProcessHandle.current().pid()}"
  val tracer = new Tracer(workload, seed, runId)
  tracer.recording = trace
  var attempted = 0L
  var failed = 0L
  private var session: Option[SparkSession] = None
  /** Per-call counts a span adds to its own metrics, e.g. iterations. */
  val counts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var heapPeak = 0L

  def spark: SparkSession = session.get
  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def count(name: String, v: Double): Unit =
    if (tracer.recording) counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** A correctness check; failures count against the run. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; log(s"CHECK FAILED: $what $detail") }
  }

  def startSession(n: Int): SparkSession = {
    val s = tracer.span("session.start")(GraftSession.local(n))
    session = Some(s)
    if (trace) tracer.attach(s.sparkContext)
    s
  }

  def stopSession(): Unit = session.foreach { s =>
    tracer.detach()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session = None
  }

  /** Drop every cached table and RDD the last unit of work left behind. */
  def release(): Unit = session.foreach { s =>
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Live heap after a full collection; the maximum over the run after
    * set-up is `heap_peak_mb`. */
  def sampleHeap(): Unit = {
    // the second collection frees what Spark's cleaner released after the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heapPeak = math.max(heapPeak, m.getUsed)
    log(f"heap after gc ${m.getUsed / 1048576.0}%.1f MB")
  }
  def heapPeakMb: Double = heapPeak / 1048576.0

  /** Runs `op` as a closed loop for `budget` seconds (at least `minOps` times, and
    * until `op` returns false). Each call times its unit of work in one
    * "op" span. The first `warmUps` units of the run are executed and checked
    * but not measured. A traced run makes unit 0 a warm-up and then traces
    * every other unit, so the traced and untraced walls of the same run give
    * the tracing overhead; units are counted across calls. Returns the
    * (traced, untraced) unit walls. */
  def loop(minOps: Int, budget: Double = seconds.toDouble, warmUps: Int = 0)(op: Int => Boolean)
      : (Seq[Double], Seq[Double]) = {
    val traced = mutable.ArrayBuffer.empty[Double]
    val plain = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (budget * 1e9).toLong
    var i = 0
    var more = true
    while (more && (i < minOps || System.nanoTime() < end)) {
      val warmUp = units < math.max(warmUps, if (trace) 1 else 0)
      val on = trace && !warmUp && units % 2 == 1
      tracer.recording = on
      if (trace) { if (on) tracer.attach(spark.sparkContext) else tracer.detach() }
      attempted += 1
      more = try op(i) catch {
        case t: Throwable =>
          failed += 1
          log(s"unit $i failed: $t")
          t.printStackTrace()
          false
      }
      if (more && !warmUp) (if (on) traced else plain) += tracer.walls("op").last
      i += 1
      units += 1
    }
    tracer.recording = trace
    if (trace) tracer.attach(spark.sparkContext)
    (traced.toSeq, plain.toSeq)
  }
  private var units = 0

  /** Per-layer metrics from the recorded spans (trace runs). Each span
    * reports the median per call of wall, self time, jobs, tasks and
    * shuffle write, and its busy share Σ executor run / (Σ wall × cores). */
  def layerMetrics(names: Seq[String], opTraced: Seq[Double], opPlain: Seq[Double]): Unit = {
    tracer.detach()
    val totals = tracer.totals
    val spans = tracer.spans
    val kids = spans.groupBy(_.parent)
    def covered(s: Span): Long = {
      // union of child intervals inside s
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var sum = 0L; var curS = 0L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) sum += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) sum += curE - curS
      sum
    }
    def inclusive(s: Span): SpanTotals = {
      val out = new SpanTotals
      def add(x: Span): Unit = {
        totals.get(x.id).foreach { t =>
          out.jobs += t.jobs; out.tasks += t.tasks; out.runMs += t.runMs
          out.shuffleBytes += t.shuffleBytes
          t.stageTasks.foreach { case (k, v) => out.stageTasks(k) = v }
        }
        kids.getOrElse(x.id, Nil).foreach(add)
      }
      add(s)
      out
    }
    val byName = spans.groupBy(_.name)
    names.foreach { name =>
      val calls = byName.getOrElse(name, Nil)
      val tot = calls.map(inclusive)
      val wall = calls.map(s => (s.end - s.start) / 1e9)
      val self = calls.map(s => (s.end - s.start - covered(s)) / 1e9)
      val slotS = calls.map(s => (s.end - s.start) / 1e9 * s.slots).sum
      val runS = tot.map(_.runMs).sum / 1e3
      layers(s"$name.wall_s") = (Stats.median(wall), "s")
      layers(s"$name.self_s") = (Stats.median(self), "s")
      layers(s"$name.jobs") = (Stats.median(tot.map(_.jobs.toDouble)), "count")
      layers(s"$name.tasks") = (Stats.median(tot.map(_.tasks.toDouble)), "count")
      layers(s"$name.shuffle_mb") = (Stats.median(tot.map(_.shuffleBytes / 1048576.0)), "MB")
      layers(s"$name.busy_share") =
        (if (slotS > 0) runS / slotS else 0.0, "ratio")
      if (name == "algos.cc") {
        // skew of the stage that did the most executor work in the call
        val skew = tot.map { t =>
          t.stageTasks.values.filter(_.size > 1).maxByOption(_.sum).map { ts =>
            val med = Stats.median(ts.map(_.toDouble).toSeq)
            ts.max / math.max(med, 1.0)
          }.getOrElse(1.0)
        }
        layers("algos.cc.task_skew") = (Stats.median(skew), "ratio")
      }
    }
    Spans.Counts.foreach { k =>
      layers(k) = (Stats.median(counts.getOrElse(k, Nil).toSeq), if (k.endsWith("_s")) "s" else "count")
    }
    val ops = byName.getOrElse("op", Nil)
    val opWall = ops.map(s => s.end - s.start).sum
    layers("trace.coverage") = (if (opWall > 0) ops.map(covered).sum.toDouble / opWall else 0.0, "ratio")
    layers("trace.overhead") =
      (if (opPlain.nonEmpty && opTraced.nonEmpty) Stats.median(opTraced) / Stats.median(opPlain) - 1
       else 0.0, "ratio")
    tracer.write(work.resolve(s"spans-$runId.jsonl"))
  }

  def resultJson(): String = {
    val metrics = if (trace) layers else e2e
    val body = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": {$body}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value), or None with fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      Some((100.0 * (s.size - 10) / s.size, s(s.size - 11)))
    }
}
