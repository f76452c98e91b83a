package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p50/p75/p90/p95/p99 that has at least ten samples
    * beyond it, with its value. */
  def tail(xs: Seq[Double]): (String, Double) = {
    val ps = Seq(0.99 -> "p99", 0.95 -> "p95", 0.90 -> "p90", 0.75 -> "p75", 0.5 -> "p50")
    val (p, label) = ps.find { case (p, _) => xs.size * (1 - p) >= 10 }.getOrElse(0.5 -> "p50")
    (label, quantile(xs, p))
  }
}

/** State of one benchmark run: the session, the tracer, the operation
  * counters and the metrics it reports. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val workDir: java.io.File, val spark: SparkSession) {
  val trace = new Tracer(spark.sparkContext, traced)
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var heapPeak = 0.0

  def dir(name: String): String = new java.io.File(workDir, name).getAbsolutePath

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Print a report line (stdout, before the result line). */
  def report(msg: String): Unit = println(s"[perfbench] $workload: $msg")

  /** Run one operation; a thrown exception is logged with the workload and
    * operation name and counted as a failure, never swallowed silently. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        log(s"FAILED workload=$workload op=$op: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  /** Count an output check; a mismatch counts as a failed operation. */
  def check(op: String, ok: => Boolean, detail: => String = ""): Unit =
    attempt(op) {
      if (!ok) throw new IllegalStateException(s"wrong output: $detail")
    }

  /** Closed-loop timing of one call, in ms. */
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Driver heap after a full GC, from JMX; keeps the peak. */
  def heapCheckpoint(): Unit = {
    System.gc()
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeak = math.max(heapPeak, used / 1048576.0)
  }

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)

  /** Timing report line: median and tail with the sample count. */
  def reportTiming(name: String, xs: Seq[Double], unit: String = "ms"): Unit =
    if (xs.nonEmpty) {
      val (tl, tv) = Stats.tail(xs)
      report(f"$name p50=${Stats.median(xs)}%.3f $tl=$tv%.3f $unit n=${xs.size}")
    }

  /** Set-up before timing: `build` (corpus generation and index build)
    * runs `reps` times, then `warm` runs once on all the builds and returns
    * what the loop uses. setup_s = median build time + warm-up time. */
  def setup[B, T](reps: Int)(build: Int => B)(warm: Seq[B] => T): T = {
    val built = (0 until reps).map(i => timeMs(build(i)))
    val buildS = built.map(_._2 / 1000.0)
    val (out, warmMs) = timeMs(warm(built.map(_._1)))
    val secs = Stats.median(buildS) + warmMs / 1000.0
    e2e("setup_s", secs, "s")
    report(f"setup_s=$secs%.3f s (build reps ${buildS.map(s => f"$s%.2f").mkString(",")} s, " +
      f"warm-up ${warmMs / 1000.0}%.2f s)")
    heapCheckpoint()
    out
  }

  /** Run `op` in a closed loop until `seconds` have passed; returns the
    * op timings (ms) of the ops that did not fail. */
  def loop(op: Int => Double): Seq[Double] = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val ms = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (System.nanoTime() < deadline) {
      trace.newRequest()
      val t = trace(s"$workload.op")(op(i))
      if (!t.isNaN) ms += t
      i += 1
    }
    heapCheckpoint()
    ms.toSeq
  }

  def finish(): Unit = e2e("heap_peak_mb", heapPeak, "MB")

  def resultJson(): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = (if (traced) perLayer else endToEnd).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
