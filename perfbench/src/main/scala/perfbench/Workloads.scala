package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftEngine
import graft.operators.{Hnsw, Lsh}
import graft.queries.SharedBuilds
import graft.sources.{CollectionManager, KwiFormat}

/** What a workload hands back besides the harness's samples: its
  * set-up times, the class (Catalog.Classes) of each request type, the
  * stores it read, its own layer counters and the rest for the detail
  * file. */
final case class Outcome(setupS: Seq[Double], classOf: Map[String, String], stores: Seq[Path],
    layer: Map[String, Double], details: Map[String, Any])

final case class Config(seed: Long, seconds: Int, trace: Boolean, work: Path, expected: Path)

object Workloads {
  val Dim = 64
  /** Vectors in the served collection. */
  val CollectionSize = 20000
  /** Vectors in the HNSW walk corpus (fits the 65,536-entry serve LRU). */
  val WalkCorpus = 1000
  val K = 10
  val SetupRepeats = 2

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def vectorsOf(df: DataFrame): mutable.LinkedHashMap[Long, Array[Float]] = {
    val m = mutable.LinkedHashMap.empty[Long, Array[Float]]
    df.select(col("id").cast("long"), col("embedding")).collect().foreach { r =>
      m(r.getLong(0)) = r.getSeq[Float](1).toArray
    }
    m
  }

  private def randomVector(rng: Random): Array[Float] =
    Array.fill(Dim)((rng.nextDouble() * 2 - 1).toFloat)

  private def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[String]("id").toLong, r.getAs[Double]("score"))).toSeq

  /** A collection of `n` seeded vectors, written through the public
    * catalog API. */
  private def buildCollection(spark: SparkSession, dir: Path, n: Int, seed: Long): CollectionManager = {
    val mgr = new CollectionManager(spark, dir.resolve("collections").toString)
    mgr.createCollection("vecs", Dim)
    mgr.insert("vecs", GraftEngine.generateRandomVectors(spark, Dim, n, seed))
    mgr
  }

  /** The paged HNSW serve head: adjacency built by Spark, then both the
    * graph and the vectors paged through kwi offset-table readers
    * behind the operator's LRU caches. The fetch and adjacency lambdas
    * are wrapped to count page reads and vector fetches. */
  final class WalkHead(spark: SparkSession, dir: Path, vectors: DataFrame) {
    val hnsw = new Hnsw(m = 16, ef = 1024)
    var pageReads = 0L
    var vecFetches = 0L
    var kwiGetNs = 0L
    val buildS = mutable.LinkedHashMap.empty[String, Double]

    private val emb = vectors.withColumnRenamed("id", "vec_id")
    private val (entryPoint, pages, reader) = {
      val t0 = System.nanoTime()
      val adjPath = dir.resolve("hnsw-adj").toString
      hnsw.buildAdjacency(emb, blocker = new Lsh(numPlanes = 3, seed = 42L))
        .write.mode("overwrite").partitionBy("level").parquet(adjPath)
      val adj = spark.read.parquet(adjPath)
      val entry = hnsw.entryPoint(adj)
      buildS("hnsw") = secs(t0)
      val t1 = System.nanoTime()
      val pagesPath = dir.resolve("hnsw-pages.kwi").toString
      KwiFormat.write(Hnsw.adjacencyPages(adj), pagesPath)
      val vecPath = dir.resolve("hnsw-vectors.kwi").toString
      KwiFormat.write(emb.select(col("vec_id").cast("string").as("id"), col("embedding")), vecPath)
      val r = (entry, new KwiFormat.IndexedReader(pagesPath), new KwiFormat.IndexedReader(vecPath))
      buildS("kwi") = secs(t1)
      r
    }
    private def timedGet(r: KwiFormat.IndexedReader, id: String) = {
      val t0 = System.nanoTime()
      try Trace.span("sources", "kwi_get")(r.get(id)) finally kwiGetNs += System.nanoTime() - t0
    }
    val adjacency = new Hnsw.CachingAdjacency({ case (node, level) =>
      pageReads += 1
      timedGet(pages, s"$node:$level").map(p => Hnsw.decodeNeighbors(p._2)).getOrElse(Seq.empty)
    })
    val fetch = new Hnsw.CachingFetch(id => { vecFetches += 1; timedGet(reader, id.toString).map(_._2) })
    /** Lookups the walk made into the two LRU caches. */
    var lookups = 0L

    def walk(q: Array[Float]): Seq[(Long, Double)] =
      hnsw.serveQuery(key => { lookups += 1; adjacency(key) }, id => { lookups += 1; fetch(id) },
        entryPoint, q, K)

    def close(): Unit = { pages.close(); reader.close() }
  }

  // ---------------------------------------------------------------- serve

  def serve(spark: SparkSession, cfg: Config, h: Harness): Outcome = {
    val split = mutable.ArrayBuffer.empty[Map[String, Double]]
    var last: (CollectionManager, WalkHead, Path) = null
    // build 0 warms the JVM and is not timed
    val setupS = (0 to SetupRepeats).map { i =>
      if (last != null) { last._2.close(); deleteTree(last._3) }
      val dir = cfg.work.resolve(s"serve-$i")
      val t0 = System.nanoTime()
      val mgr = buildCollection(spark, dir, CollectionSize, cfg.seed)
      val collectionS = secs(t0)
      val head = new WalkHead(spark, dir,
        GraftEngine.generateRandomVectors(spark, Dim, WalkCorpus, cfg.seed + 1))
      val total = secs(t0)
      split += Map("collection" -> collectionS) ++ head.buildS
      last = (mgr, head, dir)
      total
    }.tail
    h.mark("setup")
    val (mgr, head, dir) = last
    val vecs = vectorsOf(GraftEngine.generateRandomVectors(spark, Dim, CollectionSize, cfg.seed))
    val walkVecs = vectorsOf(GraftEngine.generateRandomVectors(spark, Dim, WalkCorpus, cfg.seed + 1))
    val ids = vecs.keys.toIndexedSeq
    val bf = new GraftEngine(mgr, "vecs")
    val lshIndex = new Lsh(16)
    val lsh = new GraftEngine(mgr, "vecs", GraftEngine.LshIndex(lshIndex))
    val rng = new Random(cfg.seed)
    val recall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def noteRecall(op: String, got: Seq[Long], exact: Seq[Long]): Unit =
      recall.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += Exact.recall(got, exact)
    var lshFallbacks = 0
    var lshSearches = 0
    // bucket sizes of the served collection, for the fallback counter
    val bucketSizes = vecs.values.groupMapReduce(v => lshIndex.bucketOf(v))(_ => 1L)(_ + _)

    def search(op: String, engine: GraftEngine, exact: Boolean): Unit = {
      val q = randomVector(rng)
      if (!exact) {
        lshSearches += 1
        if (bucketSizes.getOrElse(lshIndex.bucketOf(q), 0L) < K) lshFallbacks += 1
      }
      h.request(op) {
        val df = h.build("engine")(engine.searchWithScores(q, K))
        h.run("spark")(df.collect())
      } { rows =>
        val got = hits(rows)
        if (exact) Exact.checkTopK(vecs, q, K, got)
        else {
          noteRecall(op, got.map(_._1), Exact.topK(vecs, q, K).map(_._1))
          got.collectFirst {
            case (id, s) if math.abs(s - Exact.cosine(vecs(id), q)) > 2e-6 => s"id $id score $s is not its cosine"
          }.orElse(if (got.length > K) Some(s"${got.length} rows") else None)
        }
      }
    }

    def get(): Unit = {
      val id = ids(rng.nextInt(ids.length))
      h.request("get") {
        val df = h.build("engine")(bf.getVector(id.toString))
        h.run("spark")(df.collect())
      } { rows =>
        if (rows.length != 1) Some(s"get $id returned ${rows.length} rows")
        else if (!rows(0).getAs[scala.collection.Seq[Float]]("embedding").toArray.sameElements(vecs(id)))
          Some(s"get $id returned another vector")
        else None
      }
    }
    def count(): Unit =
      h.request("count")(h.run("engine")(bf.countVectors())) { n =>
        if (n != vecs.size) Some(s"count $n, expected ${vecs.size}") else None
      }

    // One cycle of a synthetic mix, balanced by cost: the slow LSH probe
    // once, the cheaper requests more often, so that every type gathers
    // samples. The mix sets only sample counts: every metric weighs
    // each request type the same.
    def cycle(): Unit = {
      search("search_lsh", lsh, exact = false)
      (0 until 2).foreach(_ => search("search_bf", bf, exact = true))
      (0 until 3).foreach { _ => get(); count() }
      (0 until 10).foreach { _ =>
        val q = randomVector(rng)
        h.request("hnsw_walk")(h.run("operators")(head.walk(q))) { got =>
          noteRecall("hnsw_walk", got.map(_._1), Exact.topK(walkVecs, q, K).map(_._1))
          if (got.length != K) Some(s"walk returned ${got.length} results") else None
        }
      }
    }

    loop(h, cfg, warmup = 1)(cycle())
    val meanRecall = recall.map { case (op, rs) => op -> rs.sum / rs.length }.toMap
    // the fallback makes LSH exact whenever the bucket under-fills, and
    // the walk's beam (ef=1024) is as wide as its corpus; both measured
    // 1.0 when the benchmark was added. The floors leave room for a
    // cheaper probe and catch a real loss of quality.
    h.verify("recall10_search_lsh", floor(meanRecall.getOrElse("search_lsh", 0.0), 0.9))
    h.verify("recall10_hnsw_walk", floor(meanRecall.getOrElse("hnsw_walk", 0.0), 0.8))
    val walks = h.attempted("hnsw_walk").max(1L).toDouble
    head.close()
    val classOf = Map("search_bf" -> "scan", "search_lsh" -> "scan", "get" -> "fixed",
      "count" -> "fixed", "hnsw_walk" -> "driver")
    Outcome(setupS, classOf, Seq(dir), Map(
      "operators.lsh.fallback_ratio" -> lshFallbacks.toDouble / lshSearches.max(1),
      "operators.hnsw.page_reads_per_walk" -> head.pageReads / walks,
      "operators.hnsw.lru_hit_ratio" ->
        (1.0 - (head.pageReads + head.vecFetches).toDouble / math.max(1L, head.lookups)),
      "sources.kwi_get_us" -> head.kwiGetNs / 1e3 / math.max(1L, head.pageReads + head.vecFetches)),
      Map(
        "setup_split_s" -> split.toSeq,
        "recall10" -> meanRecall,
        "operators.hnsw.vec_fetches_per_walk" -> head.vecFetches / walks,
        "expressions.flops_per_search" -> 3.0 * CollectionSize * Dim,
        "expressions.bytes_per_search" -> 4.0 * CollectionSize * Dim))
  }

  private def floor(v: Double, min: Double): Option[String] =
    if (v >= min) None else Some(f"mean recall@10 $v%.3f below $min")

  /** Warm-up cycles, then cycles until the measured window is over
    * (at least two). The window counts request time, not the untimed
    * checks between requests. In a traced run, cycles alternate traced
    * and untraced, so the tracing overhead is measured on the same host
    * minute. */
  private def loop(h: Harness, cfg: Config, warmup: Int)(cycle: => Unit): Unit = {
    h.phase = "warmup"
    (0 until warmup).foreach(_ => cycle)
    h.mark("cold")
    h.phase = "measure"
    val t0 = System.nanoTime()
    val checks0 = h.checkNs
    var n = 0
    while (n < 2 || secs(t0) - (h.checkNs - checks0) / 1e9 < cfg.seconds) {
      h.traced = cfg.trace && n % 2 == 0
      cycle
      n += 1
    }
    h.traced = false
    h.mark("measure")
  }

  // ------------------------------------------------------------ analytics

  /** Declared queries from seven registries: five whose wall time is
    * mostly fixed per-query overhead (planning, scheduling, tiny scans)
    * and two that build and memoize an index or a graph on first touch. */
  val LightQueries: Seq[String] = Seq(
    "knn_cosine", "kwi_sql_point_read", "q3_top_revenue", "events_heavy_hitters", "asof_next_purchase")
  val BuildQueries: Seq[String] = Seq("hnsw_recall_audit", "copurchase_triangles")
  val AnalyticsQueries: Seq[String] = LightQueries ++ BuildQueries
  /** The corpus does not vary with --seed, so every run checks its
    * results against one recorded expectation; the seed permutes the
    * order queries run in. */
  val AnalyticsDataSeed = 42L
  /** Untimed passes before the measured ones: the cold pass, then one
    * more while the JIT still speeds the queries up. */
  val AnalyticsWarmup = 2

  /** Row count and an order-independent content hash of a result. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  /** Each query is two requests, two calls into graft: `<q>.plan`
    * constructs it through the `SparkEntry.queries` registry (memo
    * builds and lookups included; class driver), and `<q>` runs it
    * into the noop sink (class scan or fixed). Set-up is graft's own
    * first touch: constructing every query from an empty memo. */
  def analytics(spark: SparkSession, cfg: Config, h: Harness): Outcome = {
    val dir = cfg.work.resolve("tables").toString
    Gen.tables(spark, dir, AnalyticsDataSeed)
    h.mark("inputs")
    val all = graft.SparkEntry.queries
    // set-up 0 warms the JVM and is not timed
    val setupS = (0 to SetupRepeats).map { _ =>
      SharedBuilds.evict(spark)
      val t0 = System.nanoTime()
      AnalyticsQueries.foreach(q => all(q)(spark, dir))
      secs(t0)
    }.tail
    h.mark("setup")
    // the cold pass touches the memo first, as a fresh JVM would
    SharedBuilds.evict(spark)
    val want = Expected.read(cfg.expected)
    val results = mutable.LinkedHashMap.empty[String, (Long, String)]
    def check(q: String, df: DataFrame): Option[String] = {
      val got = fingerprint(df)
      results(q) = got
      want.get(q) match {
        case None => Some("no recorded expectation")
        case Some(w) if w != got => Some(s"rows/hash $got != expected $w")
        case _ => None
      }
    }
    val rng = new Random(cfg.seed)
    var passes = 0
    val lastPass = mutable.ArrayBuffer.empty[(String, DataFrame)]

    // One pass: every light query once and every build query twice, in
    // a seeded order, so that the two scan types gather more samples
    // (every metric weighs each type the same, so the mix sets only
    // sample counts). A query's construction is checked through the
    // result of the request that runs it. The cold pass's results are fingerprinted after each
    // request; those of the last measured pass once the window closes,
    // so that no check's own Spark jobs run between measured requests.
    def pass(): Unit = {
      val cold = passes == 0
      passes += 1
      lastPass.clear()
      rng.shuffle(LightQueries ++ BuildQueries ++ BuildQueries).foreach { q =>
        h.request(s"$q.plan")(h.build("queries")(all(q)(spark, dir)))(_ => None).foreach { df =>
          h.request(q) {
            h.run("spark")(df.write.format("noop").mode("overwrite").save())
            df
          }(df => if (cold) check(q, df) else None).foreach(df => lastPass += q -> df)
        }
      }
    }

    loop(h, cfg, warmup = AnalyticsWarmup)(pass())
    lastPass.foreach { case (q, df) => check(q, df).foreach(h.retract(q, _)) }
    val steady = h.untracedSamples.filter(s => AnalyticsQueries.contains(s.op)).groupBy(_.op)
      .map { case (q, ss) => q -> Stats.median(ss.map(_.ms)) / 1e3 }
    val classOf = LightQueries.map(_ -> "fixed").toMap ++ BuildQueries.map(_ -> "scan") ++
      AnalyticsQueries.map(q => s"$q.plan" -> "driver")
    Outcome(setupS, classOf, Seq(Paths.get(dir), cfg.work.resolve("target")), Map.empty, Map(
      "passes" -> passes,
      "steady_s" -> steady.values.sum,
      "queries.steady_s" -> steady,
      "results" -> results.map { case (q, (rows, hash)) => q -> Map("rows" -> rows, "hash" -> hash) }))
  }

  // ---------------------------------------------------------------- files

  def treeFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }

  def deleteTree(p: Path): Unit = CollectionManager.deleteRecursively(p)
}
