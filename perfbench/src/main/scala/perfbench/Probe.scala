package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counters for one request. */
final class SparkCounters {
  var queryExecs = 0L
  var phasesMs = 0.0
  var jobs = 0L
  var tasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def add(o: SparkCounters): Unit = {
    queryExecs += o.queryExecs; phasesMs += o.phasesMs; jobs += o.jobs; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }

  def toMap: Map[String, Double] = Map(
    "query_execs" -> queryExecs.toDouble, "phases_ms" -> phasesMs, "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble, "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuMs,
    "gc_ms" -> gcMs, "shuffle_read_bytes" -> shuffleRead.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "spill_bytes" -> spill.toDouble)
}

/** The benchmark's observation of the Spark runtime under graft: one
  * QueryExecutionListener plus one SparkListener, installed once per
  * session. They only count while `recording` is on; the harness
  * drains the listener bus before it switches recording or reads the
  * counters, so each request's events land in that request's bucket. */
final class SparkProbe private (spark: SparkSession) {
  @volatile private var recording = false
  @volatile private var label = ""
  private var current = new SparkCounters
  /** Jobs that ran while recording but carried another request's job
    * group: work the bucket scheme would misattribute. Expected 0. */
  @volatile var strayJobs = 0L

  private val queries = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Double =
      qe.tracker.phases.valuesIterator.map(_.durationMs.toDouble).sum
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) current.synchronized {
        current.queryExecs += 1; current.phasesMs += phases(qe)
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (recording) current.synchronized {
        current.jobs += 1
        val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group != label) strayJobs += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && e.taskMetrics != null) current.synchronized {
        val m = e.taskMetrics
        current.tasks += 1
        current.runMs += m.executorRunTime
        current.cpuMs += m.executorCpuTime / 1e6
        current.gcMs += m.jvmGCTime
        current.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        current.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        current.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Starts a fresh bucket for the request `name`, whose jobs carry it
    * as their job group; events still in flight from earlier,
    * unrecorded work are drained first so they cannot leak into it. */
  def start(name: String): Unit = {
    drain()
    current = new SparkCounters
    label = name
    spark.sparkContext.setJobGroup(name, name)
    recording = true
  }

  /** Ends the bucket and returns it, after every event it owns arrived. */
  def stop(): SparkCounters = {
    drain()
    recording = false
    spark.sparkContext.clearJobGroup()
    current
  }

  /** MB of RDD blocks the block manager holds now. */
  def storageMemMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}

object SparkProbe {
  private val installed = mutable.Map.empty[SparkSession, SparkProbe]

  /** Idempotent: a session gets its listeners once, however often this
    * is called. */
  def install(spark: SparkSession): SparkProbe = installed.synchronized {
    installed.getOrElseUpdate(spark, {
      val p = new SparkProbe(spark)
      spark.listenerManager.register(p.queries)
      spark.sparkContext.addSparkListener(p.jobs)
      p
    })
  }
}

/** In-memory spans around the calls the benchmark makes into each
  * layer: name, layer, start, end, parent and request id. Nothing is
  * recorded unless `on`; spans are written out when the run ends. */
object Trace {
  final case class Span(id: Int, parent: Int, req: Long, layer: String, name: String,
      startNs: Long, var endNs: Long = 0L)

  @volatile var on = false
  private var req = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def beginRequest(id: Long): Unit = req = id

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), req, layer, name,
        System.nanoTime())
      spans += s
      stack.push(s)
      try body finally { s.endNs = System.nanoTime(); stack.pop() }
    }

  def all: Seq[Span] = spans.toSeq
  def size: Int = spans.length
  def since(i: Int): Seq[Span] = spans.slice(i, spans.length).toSeq

  /** Self time of each span: its duration minus the part its direct
    * children cover (children never overlap: one driver thread). */
  def selfNs(ss: Seq[Span]): Map[Int, Long] = {
    val childNs = ss.filter(_.parent >= 0).groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    ss.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}
