package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What one span cost: wall time on the driver, and what the scheduler ran
  * for it. `idleS` is the part of the wall time in which no task of the
  * span was running (the driver floor: planning, job submission, file
  * commits, listing). */
final case class SpanStats(wallS: Double, jobs: Long, tasks: Long,
    taskS: Double, idleS: Double, shuffleBytes: Long, inputBytes: Long,
    outputBytes: Long)

object SpanStats {
  val Zero: SpanStats = SpanStats(0.0, 0, 0, 0.0, 0.0, 0, 0, 0)
}

/** Span boundaries around calls into graft's public functions. The
  * untraced tracer only runs the body, so timed runs carry no listener, no
  * job tags and no bus drains. */
trait Tracer {
  def on: Boolean
  def span[A](name: String)(body: => A): A
}

object Tracer {
  object Off extends Tracer {
    def on: Boolean = false
    def span[A](name: String)(body: => A): A = body
  }
}

/** The traced tracer: tags every job a span starts, attributes stages and
  * tasks to the tag through one SparkListener, and drains the listener bus
  * at the span's end before reading the counters. Spans run one after
  * another on the driver thread, so they never overlap. */
final class SparkTracer(spark: SparkSession) extends Tracer {
  private val sc: SparkContext = spark.sparkContext
  private val listener = new TagListener
  sc.addSparkListener(listener)

  private var seq = 0L
  private val current = mutable.LinkedHashMap.empty[String, SpanStats]

  def on: Boolean = true

  def span[A](name: String)(body: => A): A = {
    seq += 1
    val tag = s"perfbench-$seq"
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    sc.addJobTag(tag)
    val out = try body finally sc.removeJobTag(tag)
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    org.apache.spark.perfbench.Bus.drain(sc)
    current(name) = listener.take(tag, wallS, startMs, endMs)
    out
  }

  /** The spans recorded since the last call, by name (a step enters each
    * span once). */
  def endStep(): Map[String, SpanStats] = {
    val m = current.toMap
    current.clear()
    m
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

private final class TagListener extends SparkListener {
  private final class Acc {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L
    var shuffle = 0L; var input = 0L; var output = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()

  private def acc(tag: String): Acc = accs.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith("perfbench-"))
    tags.headOption.foreach { t =>
      val a = acc(t)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(s => stageTag.putIfAbsent(s, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val a = acc(t)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffle += m.shuffleWriteMetrics.bytesWritten
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Remove and summarize a finished span's counters. Busy time is the
    * union of its task intervals clipped to the span; idle is the rest. */
  def take(tag: String, wallS: Double, startMs: Long, endMs: Long): SpanStats = {
    val a = Option(accs.remove(tag)).getOrElse(new Acc)
    stageTag.values().removeIf(_ == tag): Unit
    a.synchronized {
      var busy = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      a.intervals.map { case (s, f) => (math.max(s, startMs), math.min(f, endMs)) }
        .filter { case (s, f) => f > s }.sortBy(_._1).foreach { case (s, f) =>
          if (s > hi) { if (hi > lo) busy += hi - lo; lo = s; hi = f }
          else hi = math.max(hi, f)
        }
      if (hi > lo) busy += hi - lo
      SpanStats(wallS, a.jobs, a.tasks, a.taskMs / 1e3,
        math.max(0.0, wallS - busy / 1e3), a.shuffle, a.input, a.output)
    }
  }
}
