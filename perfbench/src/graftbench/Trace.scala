package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are `System.nanoTime`; `slots` is the
  * session's core count (0 when no listener was attached). */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long,
    slots: Int)

/** Spark-side totals of the jobs one span submitted. */
final class SpanTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  /** executor run time (ms) of each task, by stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Attributes Spark jobs to the span open on the submitting thread through a
  * job-local property, so only Spark's public listener API is involved. */
final class SpanListener extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val totals = new java.util.concurrent.ConcurrentHashMap[Int, SpanTotals]()

  private def of(span: Int): SpanTotals = totals.computeIfAbsent(span, _ => new SpanTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property))).foreach { s =>
      val span = s.toInt
      e.stageIds.foreach(stageSpan.put(_, span))
      val t = of(span)
      t.synchronized(t.jobs += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val t = of(span)
      t.synchronized {
        t.tasks += 1
        Option(e.taskMetrics).foreach { tm =>
          t.runMs += tm.executorRunTime
          t.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
          t.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += tm.executorRunTime
        }
      }
    }
}

/** Times the benchmark's calls into the engine. Every call's wall lands in
  * [[walls]]; while [[recording]] is set the call is also kept as a [[Span]]
  * (name, start, end, parent), and while a listener is attached the call's
  * Spark jobs are tagged with the span id for [[SpanListener]]. */
final class Tracer(val workload: String, val seed: Long, val runId: String) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val listeners = mutable.ArrayBuffer.empty[SpanListener]
  private var open = List.empty[Int]
  private var nextId = 0
  private var attached: Option[(SparkContext, SpanListener)] = None
  var recording = false
  val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def spans: Seq[Span] = recorded.toSeq

  def attach(sc: SparkContext): Unit = {
    detach()
    val l = new SpanListener
    sc.addSparkListener(l)
    listeners += l
    attached = Some((sc, l))
  }

  /** Stop tagging jobs; totals gathered so far are kept. */
  def detach(): Unit = {
    attached.foreach { case (sc, l) =>
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(l)
    }
    attached = None
  }

  private def tag(id: Option[Int]): Unit =
    attached.foreach(_._1.setLocalProperty(Tracer.Property, id.map(_.toString).orNull))

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    tag(Some(id))
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      tag(open.headOption)
      if (recording)
        recorded += Span(id, name, parent, t0, t1, attached.map(_._1.defaultParallelism).getOrElse(0))
      walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
    }
  }

  /** Listener totals by span id; call after [[detach]] drained the bus. */
  def totals: Map[Int, SpanTotals] = {
    val out = mutable.Map.empty[Int, SpanTotals]
    listeners.foreach(_.totals.forEach((k, v) => out(k) = v))
    out.toMap
  }

  /** Spans as JSON lines: name, start, end, parent, workload, seed, run. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = recorded.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"workload":"$workload","seed":$seed,"run":"$runId"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Property = "graftbench.span"
}
