package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --details FILE --expected FILE [--commit ID]
  *
  * Runs one workload in this JVM and prints, as the last line of
  * standard output, {"correct","attempted","failed","metrics"}: the
  * end-to-end metrics when untraced, the per-layer metrics when traced.
  * A readable table goes to standard error and everything else (per-op
  * latencies and tails, per-query times, spans, host facts) to the
  * detail file. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val cfg = Config(
      seed = args("seed").toLong,
      seconds = args("seconds").toInt,
      trace = args.getOrElse("trace", "0") == "1",
      work = Paths.get(args("work")).toAbsolutePath,
      expected = Paths.get(args("expected")).toAbsolutePath)
    val run: (SparkSession, Config, Harness) => Outcome = workload match {
      case "serve" => Workloads.serve
      case "analytics" => Workloads.analytics
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(cfg.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftFunctions.register(spark)
    val probe = if (cfg.trace) Some(SparkProbe.install(spark)) else None
    val h = new Harness(probe)
    h.mark("startup")

    val outcome = run(spark, cfg, h)
    require(outcome.layer.keySet.subsetOf(Catalog.perLayer.map(_.name).toSet), outcome.layer.keySet)
    val storageMb = probe.map(_.storageMemMb()).getOrElse(0.0)
    val stores = outcome.stores.flatMap(Workloads.treeFiles)
    val heapMb = retainedHeapMb()
    h.mark("end")

    val measured = h.untracedSamples
    val classOf = outcome.classOf
    val metrics: Seq[(Catalog.Metric, Double)] =
      if (!cfg.trace) {
        val values = Map(
          "setup_s" -> Stats.median(outcome.setupS),
          "scan_p50_ms" -> h.quantile(measured, "scan", classOf, 0.5),
          "fixed_p50_ms" -> h.quantile(measured, "fixed", classOf, 0.5),
          "driver_p50_ms" -> h.quantile(measured, "driver", classOf, 0.5),
          "cold_s" -> h.firstMs.values.sum / 1e3,
          "retained_heap_mb" -> heapMb)
        Catalog.endToEnd.map(m => m -> values(m.name))
      } else {
        val traced = h.tracedSamples
        val perClass = Catalog.Classes.flatMap { c =>
          val mean = h.classMean(traced, c, classOf) _
          val counters = Catalog.SparkFields.map { case (k, _, _) =>
            s"spark.$k.$c" -> mean(_.spark.map(_.toMap(k)).getOrElse(0.0))
          }
          val self = Catalog.SpanLayers.map(l => s"$l.self_ms.$c" -> mean(_.selfNs.getOrElse(l, 0L) / 1e6))
          val untraced = h.quantile(measured, c, classOf, 0.5)
          val overhead =
            if (untraced == 0.0) 0.0 else 100.0 * (h.quantile(traced, c, classOf, 0.5) / untraced - 1.0)
          Seq(s"request.wall_ms.$c" -> mean(_.ms), s"obs.overhead_pct.$c" -> overhead) ++ counters ++ self
        }
        val values = perClass.toMap ++ outcome.layer ++ Map(
          "spark.storage_mem_mb" -> storageMb,
          "sources.store_files" -> stores.length.toDouble,
          "sources.store_mb" -> stores.map(Files.size(_)).sum / 1048576.0)
        Catalog.perLayer.map(m => m -> values.getOrElse(m.name, 0.0))
      }

    val facts = Map(
      "workload" -> workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds, "trace" -> cfg.trace,
      "nproc" -> cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version, "commit" -> args.getOrElse("commit", "unknown"))
    val perOp = h.perOp(measured)
    val details = Map(
      "host" -> facts,
      "setup_s" -> outcome.setupS,
      "attempted" -> h.attempted, "failed" -> h.failed,
      "ops" -> perOp,
      "first_ms" -> h.firstMs,
      "samples_ms" -> measured.groupBy(_.op).map { case (op, ss) => op -> ss.map(_.ms) },
      "phase_end_s" -> h.marks,
      "class" -> classOf,
      "metrics" -> metrics.map { case (m, v) => m.name -> v }.toMap,
      "layer" -> outcome.layer,
      "workload" -> outcome.details) ++ (if (cfg.trace) traceDetails(h) else Map.empty)
    Json.save(Paths.get(args("details")), details)
    spark.stop()

    System.err.println(s"[perfbench] $workload seed=${cfg.seed} trace=${cfg.trace} " +
      s"nproc=$cpus heap=${facts("max_heap_mb")}MB spark=${spark.version} commit=${facts("commit")}")
    perOp.toSeq.sortBy(_._1).foreach { case (op, s) =>
      System.err.println(f"  $op%-28s n=${s("n").toInt}%5d p50=${s("p50_ms")}%10.2f ms" +
        s.get("tail_ms").map(t => f"  p${s("tail_pct").toInt}=$t%.2f ms").getOrElse(""))
    }
    h.attempted.foreach { case (op, a) =>
      if (h.failed(op) > 0) System.err.println(s"  FAILED $op: ${h.failed(op)}/$a")
    }
    metrics.foreach { case (m, v) => System.err.println("  " + Catalog.render(m, v)) }
    val failed = h.totalFailed
    println(Json.write(Map(
      "correct" -> (failed == 0),
      "attempted" -> h.totalAttempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (m, v) => m.name -> Map("value" -> v, "unit" -> m.unit) }.toMap)))
  }

  /** Heap in use after full collections, in MB. Spark's ContextCleaner
    * frees blocks asynchronously once a collection finds their owners
    * dead, so collect until two readings agree within 1 MB. */
  private def retainedHeapMb(): Double = {
    val bean = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(200); bean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur = collect()
    var i = 0
    while (math.abs(cur - prev) > 1.0 && i < 10) { prev = cur; cur = collect(); i += 1 }
    cur
  }

  /** Traced requests: self time per layer and Spark counters, per
    * request type, plus the raw spans. */
  private def traceDetails(h: Harness): Map[String, Any] = {
    val byOp = h.tracedSamples.groupBy(_.op)
    val selfMs = byOp.map { case (op, ss) =>
      op -> ss.flatMap(_.selfNs).groupMapReduce(_._1)(_._2 / 1e6 / ss.length)(_ + _)
    }
    val sparkPerOp = byOp.map { case (op, ss) =>
      val t = new SparkCounters
      ss.flatMap(_.spark).foreach(t.add)
      op -> t.toMap.map { case (k, v) => k -> v / ss.length }
    }
    Map("self_ms_per_request" -> selfMs, "spark_per_request" -> sparkPerOp,
      "stray_jobs" -> h.strayJobs,
      "spans" -> Trace.all.map(s => Seq(s.id, s.parent, s.req, s.layer, s.name, s.startNs, s.endNs)))
  }
}
