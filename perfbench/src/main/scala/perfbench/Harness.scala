package perfbench

import scala.collection.mutable

/** One timed, correct request of the measured window. `selfNs` is the
  * time the request spent in each layer's spans minus their child
  * spans (traced requests only). */
final case class Sample(op: String, ms: Double, traced: Boolean, spark: Option[SparkCounters],
    selfNs: Map[String, Long])

/** One closed-loop client. Every call into graft goes through `request`,
  * which times it from outside, counts it as attempted, and counts it
  * as failed (never as a timed success) when it throws or its output
  * fails the check. Checks run after the clock stops. */
final class Harness(probe: Option[SparkProbe]) {

  /** Which phase a request belongs to. Warm-up requests are checked and
    * counted, and only the latency of each type's first one is kept. */
  var phase: String = "warmup"
  /** In a traced run, whether the next requests are traced. */
  var traced: Boolean = false

  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Latency of the first correct request of each type, in a fresh JVM. */
  val firstMs = mutable.LinkedHashMap.empty[String, Double]
  val attempted = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val failed = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  /** Time spent in checks, which the measured window leaves out. */
  var checkNs = 0L
  private var reqId = 0L
  private var firstFailures = 0

  /** Times `body`, then checks its value with `check` (None = correct,
    * Some(reason) = wrong). Returns the value when the request was
    * correct. */
  def request[T](op: String)(body: => T)(check: T => Option[String]): Option[T] = {
    reqId += 1
    val tracing = traced && probe.isDefined
    Trace.on = tracing
    Trace.beginRequest(reqId)
    if (tracing) probe.get.start(s"$op#$reqId")
    val before = Trace.size
    val t0 = System.nanoTime()
    val out =
      try Right(Trace.span("request", op)(body))
      catch { case e: Throwable => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val counters = if (tracing) Some(probe.get.stop()) else None
    Trace.on = false
    val mine = Trace.since(before)
    val self = Trace.selfNs(mine)
    val selfNs = mine.groupMapReduce(_.layer)(s => self(s.id))(_ + _)
    val c0 = System.nanoTime()
    val verdict = out.flatMap { v =>
      (try check(v) catch { case e: Throwable => Some(s"check threw $e") }).toLeft(v)
    }
    checkNs += System.nanoTime() - c0
    attempted(op) += 1
    verdict match {
      case Left(why) =>
        failed(op) += 1
        if (firstFailures < 20) { firstFailures += 1; System.err.println(s"[perfbench] $op failed: $why") }
        None
      case Right(v) =>
        if (phase == "warmup" && !firstMs.contains(op)) firstMs(op) = ms
        if (phase == "measure") samples += Sample(op, ms, tracing, counters, selfNs)
        Some(v)
    }
  }

  /** JVM uptime in seconds at the end of each phase of the run. */
  val marks = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit =
    marks(phase) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Counts a check made outside any request (e.g. end-of-run recall). */
  def verify(name: String, why: Option[String]): Unit = {
    attempted(name) += 1
    why.foreach { w =>
      failed(name) += 1
      System.err.println(s"[perfbench] $name failed: $w")
    }
  }

  /** Fails the latest measured request of type `op` after the fact,
    * for a check that had to wait until the measured window closed:
    * its sample is dropped, so a wrong result is never timed. */
  def retract(op: String, why: String): Unit = {
    val i = samples.lastIndexWhere(_.op == op)
    if (i >= 0) samples.remove(i)
    failed(op) += 1
    System.err.println(s"[perfbench] $op failed: $why")
  }

  /** Driver-side plan construction before the request's action. */
  def build[T](layer: String)(body: => T): T = Trace.span(layer, "build")(body)
  /** The request's action (or a driver-only walk). */
  def run[T](layer: String)(body: => T): T = Trace.span(layer, "run")(body)

  def strayJobs: Long = probe.map(_.strayJobs).getOrElse(0L)

  def totalAttempted: Long = attempted.values.sum
  def totalFailed: Long = failed.values.sum

  def untracedSamples: Seq[Sample] = samples.filterNot(_.traced).toSeq
  def tracedSamples: Seq[Sample] = samples.filter(_.traced).toSeq

  /** Geometric mean over the request types of `cls` of each type's
    * q-quantile latency: every type weighs the same, however many
    * samples it has. 0 when the class has no correct request. */
  def quantile(ss: Seq[Sample], cls: String, classOf: String => String, q: Double): Double = {
    val types = ss.filter(s => classOf(s.op) == cls).groupBy(_.op).values.toSeq
    if (types.isEmpty) 0.0 else Stats.geomean(types.map(g => Stats.quantile(g.map(_.ms), q)))
  }

  /** Mean over the request types of `cls` of each type's mean of `f`,
    * so the workload's mix does not weigh the types. */
  def classMean(ss: Seq[Sample], cls: String, classOf: String => String)(f: Sample => Double): Double = {
    val types = ss.filter(s => classOf(s.op) == cls).groupBy(_.op).values.toSeq
    if (types.isEmpty) 0.0 else types.map(g => g.map(f).sum / g.length).sum / types.length
  }

  def perOp(ss: Seq[Sample]): Map[String, Map[String, Double]] =
    ss.groupBy(_.op).map { case (op, g) =>
      val ms = g.map(_.ms)
      val tail = Stats.tail(ms)
      op -> (Map("n" -> ms.length.toDouble, "p50_ms" -> Stats.median(ms),
        "p90_ms" -> Stats.quantile(ms, 0.9), "mean_ms" -> ms.sum / ms.length) ++
        tail.map { case (p, v) => Map("tail_pct" -> p.toDouble, "tail_ms" -> v) }.getOrElse(Map.empty))
    }
}
