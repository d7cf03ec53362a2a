package perfbench

/** Every metric the benchmark reports. BENCHMARK.json at the repository
  * root lists the same names, units and directions (CatalogSpec pins
  * the two together). Every workload reports every metric: the
  * end-to-end set from an untraced run, the per-layer set from a
  * traced one.
  *
  * No metric pools unlike requests. Each workload sorts its request
  * types into three classes, and a class metric weighs every type in
  * it the same, whatever the workload's mix:
  *   - `scan`: requests whose cost grows with the data they read or
  *     build over (serve: search_bf, search_lsh; analytics: the two
  *     queries that build an index or a graph);
  *   - `fixed`: Spark requests bound by fixed per-request overhead
  *     (serve: get, count; analytics: the five light queries);
  *   - `driver`: work on the driver before or instead of a Spark
  *     action (serve: the HNSW walk; analytics: each declared query's
  *     construction, memo lookups included).
  * Per-type figures go to the run's detail file. */
object Catalog {
  final case class Metric(name: String, unit: String, better: String, bound: Option[Double],
      doc: String)

  val Classes: Seq[String] = Seq("scan", "fixed", "driver")

  /** Layers that spans are recorded in, besides the request itself. */
  val SpanLayers: Seq[String] = Seq("engine", "sources", "operators", "queries", "spark")

  /** Spark counters reported per request, by class. */
  val SparkFields: Seq[(String, String, String)] = Seq(
    ("query_execs", "count", "query executions (nested build actions included)"),
    ("phases_ms", "ms", "Catalyst analysis+optimization+planning"),
    ("jobs", "count", "jobs"),
    ("tasks", "count", "tasks"),
    ("executor_run_ms", "ms", "task run time"),
    ("executor_cpu_ms", "ms", "task CPU time"),
    ("gc_ms", "ms", "JVM GC time reported by tasks"),
    ("shuffle_read_bytes", "B", "shuffle bytes read"),
    ("shuffle_write_bytes", "B", "shuffle bytes written"),
    ("spill_bytes", "B", "memory+disk spill"))

  private def e2e(name: String, unit: String, doc: String) =
    Metric(name, unit, "lower", Some(0.25), doc)
  private def layer(name: String, unit: String, doc: String, better: String = "lower") =
    Metric(name, unit, better, None, doc)

  val endToEnd: Seq[Metric] = Seq(
    e2e("setup_s", "s",
      "median of two set-ups inside graft after one untimed one: serve builds its collection, " +
        "HNSW graph and kwi pages; analytics constructs its queries from an empty memo"),
    e2e("scan_p50_ms", "ms", "geometric mean over the scan class's request types of each type's median"),
    e2e("fixed_p50_ms", "ms", "geometric mean over the fixed class's request types of each type's median"),
    e2e("driver_p50_ms", "ms", "geometric mean over the driver class's request types of each type's median"),
    e2e("cold_s", "s", "sum over request types of the latency of each type's first request in a fresh JVM"),
    e2e("retained_heap_mb", "MB", "heap still in use after a forced full collection at the end of the run"),
  )

  val perLayer: Seq[Metric] = Classes.flatMap { c =>
    Seq(layer(s"request.wall_ms.$c", "ms", s"mean traced latency of a $c request")) ++
      SpanLayers.map(l => layer(s"$l.self_ms.$c", "ms",
        s"time a $c request spends in the $l layer's calls, minus their child calls")) ++
      SparkFields.map { case (k, unit, doc) => layer(s"spark.$k.$c", unit, s"$doc per $c request") } ++
      Seq(layer(s"obs.overhead_pct.$c", "%", s"traced minus untraced ${c}_p50_ms, as a share of untraced"))
  } ++ Seq(
    layer("spark.storage_mem_mb", "MB", "RDD blocks the block manager still holds at the end"),
    layer("sources.store_files", "count", "files under the stores the workload reads, at the end"),
    layer("sources.store_mb", "MB", "bytes under the stores the workload reads, at the end"),
    layer("sources.kwi_get_us", "us", "mean kwi offset-table read behind an HNSW cache miss (serve)"),
    layer("operators.hnsw.page_reads_per_walk", "count", "adjacency pages read per HNSW walk (serve)"),
    layer("operators.hnsw.lru_hit_ratio", "ratio", "share of HNSW walk lookups the LRU caches answer (serve)",
      better = "higher"),
    layer("operators.lsh.fallback_ratio", "ratio", "share of LSH searches whose bucket under-fills k (serve)"),
  )

  val all: Seq[Metric] = endToEnd ++ perLayer

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitRe = "[A-Za-z0-9_/%.-]{1,16}".r
  def validName(s: String): Boolean = NameRe.matches(s)
  def validUnit(s: String): Boolean = UnitRe.matches(s)

  /** One human-readable line per metric: name, value, unit, direction. */
  def render(m: Metric, value: Double): String =
    f"${m.name}%-34s ${value}%14.4f ${m.unit}%-6s (${m.better} is better)"
}
