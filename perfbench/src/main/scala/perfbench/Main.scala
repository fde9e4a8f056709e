package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark program: one workload, one JVM, `local[N]` with N shuffle
  * partitions, one closed-loop client (each step starts when the previous
  * one ends). Prints the result as one JSON line on stdout; the metric
  * units are BENCHMARK.json's, which run.py attaches.
  *
  * {{{
  * perfbench.Main --workload etl_curate|store_nightly
  *   --seed N --seconds S --trace 0|1 --cores N --work DIR [--expect DIGEST]
  * perfbench.Main --workload train --train W1,W2,... --seed N --cores N --work DIR
  * }}}
  *
  * Set-up ends with [[WarmUpSteps]] untimed steps, so that timed steps run
  * on compiled code. Untraced, it then runs steps until `seconds` of timed
  * work and reports the end-to-end metrics. Traced, it runs [[TracedPairs]]
  * pairs of an untraced and a traced step (same work, spans recorded),
  * the traced one second in even pairs and first in odd ones, and reports
  * the per-layer metrics: span counters from the first traced step, span
  * times as medians over the traced steps, and the median of the pairs'
  * traced/untraced ratios. */
object Main {

  val WarmUpSteps = 1
  val TracedPairs = 2

  val Spans: Seq[String] = Seq("etl.report", "etl.sync", "upsert.merge",
    "dedup.canonical", "dedup.edit_distance", "dedup.transitivity",
    "kernels.lev", "kernels.minhash", "store.recover", "store.sketch_append",
    "store.stream_append", "store.ann_append", "store.compact", "store.read")

  val Extras: Seq[String] = Seq("upsert.bytes_per_changed_row",
    "dedup.verify_yield", "kernels.lev_us_per_pair",
    "kernels.minhash_us_per_doc", "store.bytes_per_input_byte",
    "store.compactions", "etl.rows_rejected", "etl.rows_warned")

  private var offClockNs = 0L

  /** Run `body` without charging its time to the current step. */
  def offClock[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally offClockNs += System.nanoTime() - t0
  }

  /** Run a set-up phase and log its duration on stderr. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally System.err.println(
      f"[perfbench] $name%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Heap in use after a full GC, once Spark's cleaner has released what
    * the collection made unreachable (cached blocks, shuffle and broadcast
    * state are freed asynchronously): repeat GC until two readings agree
    * within 1 MB. */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var last = Double.NaN
    var cur = Double.NaN
    var rounds = 0
    do {
      last = cur
      System.gc()
      Thread.sleep(250)
      cur = mem.getHeapMemoryUsage.getUsed / 1048576.0
      rounds += 1
    } while (rounds < 10 && !(math.abs(cur - last) <= 1.0))
    cur
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0.0" else x.toString

  /** Set up each named workload and run one step of it in this JVM, so
    * that a class-data-sharing archive dumped at its exit holds the
    * classes every run loads. */
  private def train(spark: SparkSession, work: String, seed: Long,
      names: Seq[String]): Unit = {
    names.foreach { n =>
      val w = Workload(n, spark, s"$work/$n", seed, None)
      phase(s"train $n") { w.setup(); w.step(Tracer.Off) }
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    lazy val seconds = opt("seconds").toDouble
    lazy val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")

    val t0 = System.nanoTime()
    val spark = phase("session")(graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if (name == "train") {
      train(spark, work, seed, opt("train").split(",").toSeq)
      return
    }
    val w = Workload(name, spark, work, seed, opt.get("expect"))

    var attempted = 0
    var failed = 0
    /** One step and its check; returns the step's timed seconds. */
    def runStep(tr: Tracer): Double = {
      if (attempted > 0) w.resetCaches()
      attempted += 1
      offClockNs = 0L
      val s0 = System.nanoTime()
      val ok = try { w.step(tr); true } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] step $attempted threw: $e")
          e.printStackTrace()
          false
      }
      val stepS = (System.nanoTime() - s0 - offClockNs) / 1e9
      val problem =
        if (!ok) Some("step threw")
        else try w.check() catch { case e: Exception => Some(s"check threw $e") }
      problem.foreach { p =>
        failed += 1
        System.err.println(s"[perfbench] step $attempted failed: $p")
      }
      System.err.println(f"[perfbench] step $attempted%d " +
        f"${if (tr.on) "traced" else "untraced"}%s $stepS%.3f s")
      stepS
    }

    phase("set-up")(w.setup())
    phase("warm-up")(for (_ <- 1 to WarmUpSteps) runStep(Tracer.Off))
    val setupS = (System.nanoTime() - t0) / 1e9

    val metrics: Seq[(String, Double)] = if (!trace) {
      val steps = mutable.ArrayBuffer.empty[Double]
      var rows = 0L
      while (steps.isEmpty || steps.sum < seconds) {
        steps += runStep(Tracer.Off)
        rows += w.rowsPerStep
      }
      // off the clock: what the run leaves behind
      val stored = w.storedBytes.toDouble / w.inputBytes
      Seq(
        "setup_s" -> setupS,
        "rows_per_s" -> rows / steps.sum,
        "step_s_p50" -> median(steps.toSeq),
        "bytes_stored_per_input_byte" -> stored,
        "heap_live_mb" -> liveHeapMb())
    } else {
      val tracer = new SparkTracer(spark)
      val tracedSpans = mutable.ArrayBuffer.empty[Map[String, SpanStats]]
      var extras = Map.empty[String, Double]
      val ratios = (0 until TracedPairs).map { pair =>
        val times = (if (pair % 2 == 0) Seq(false, true) else Seq(true, false))
          .map { traced =>
            if (!traced) traced -> runStep(Tracer.Off)
            else {
              val s = runStep(tracer)
              tracedSpans += tracer.endStep()
              if (tracedSpans.size == 1) extras = w.layerExtras(tracedSpans.head)
              traced -> s
            }
          }.toMap
        times(true) / times(false)
      }
      tracer.close()
      val first = tracedSpans.head
      val spans = Spans.flatMap { sp =>
        val c = first.getOrElse(sp, SpanStats.Zero)
        def med(f: SpanStats => Double) =
          median(tracedSpans.toSeq.map(m => f(m.getOrElse(sp, SpanStats.Zero))))
        Seq(
          s"$sp.wall_s" -> med(_.wallS),
          s"$sp.jobs" -> c.jobs.toDouble,
          s"$sp.tasks" -> c.tasks.toDouble,
          s"$sp.task_s" -> med(_.taskS),
          s"$sp.idle_s" -> med(_.idleS),
          s"$sp.shuffle_bytes" -> c.shuffleBytes.toDouble,
          s"$sp.input_bytes" -> c.inputBytes.toDouble,
          s"$sp.output_bytes" -> c.outputBytes.toDouble)
      }
      spans ++ Extras.map(e => e -> extras.getOrElse(e, 0.0)) :+
        ("trace_overhead_frac" -> (median(ratios) - 1.0))
    }
    spark.stop()

    println(s"[perfbench] workload=$name seed=$seed trace=${if (trace) 1 else 0} " +
      s"steps=$attempted failed=$failed failed_ops_frac=${failed.toDouble / attempted}")
    val body = metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}
