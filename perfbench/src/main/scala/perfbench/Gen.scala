package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Vectors come from graft's own generator
  * (`GraftEngine.generateRandomVectors`); the analytics tables are
  * synthesized here with the schemas and value domains of the
  * repository's TPC-H-style test corpus (FIXTURES.md, part B), so the
  * declared queries run unchanged on them. Every value is a pure
  * function of (row id, column salt, seed): the same seed gives the
  * same tables on any partitioning. */
object Gen {

  /** Uniform [0,1) per row, salted per column. */
  private def u(id: Column, salt: String, seed: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(seed)), lit(1000000000L)).cast("double") / 1e9

  private def pick(id: Column, salt: String, seed: Long, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(id, salt, seed) * values.length) + 1).cast("int"))

  private def below(id: Column, salt: String, seed: Long, n: Long): Column =
    floor(u(id, salt, seed) * n).cast("long")

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg", "value", "key",
    "stream", "window", "spark", "a", "group", "part", "big", "sort", "query", "fast", "the")

  // row counts: the shape of the corpus's sf0.001
  private val Customers = 150L
  private val Suppliers = 10L
  private val Parts = 200L
  private val Orders = 1500L
  private val Lineitems = 6000L
  private val Events = 1000L
  private val Users = 15L
  private val Embeddings = 500L
  private val Documents = 500L

  /** Writes the ten tables as `<dir>/<name>.parquet`, one file each. */
  def tables(spark: SparkSession, dir: String, seed: Long): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val day = 86400L

    write("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(Customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      below(id, "c_nation", seed, 25).cast("int").as("c_nationkey"),
      round(u(id, "c_bal", seed) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(id, "c_seg", seed,
        Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")).as("c_mktsegment")))
    write("supplier", spark.range(Suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      below(id, "s_nation", seed, 25).cast("int").as("s_nationkey"),
      round(u(id, "s_bal", seed) * 10999.99 - 999.99, 2).as("s_acctbal")))
    write("part", spark.range(Parts).select(id.as("p_partkey"),
      concat(pick(id, "p_adj", seed, Seq("blue", "old", "hot", "large", "cold", "small", "new", "red")),
        lit(" "),
        pick(id, "p_noun", seed, Seq("ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod")))
        .as("p_name"),
      concat(lit("Brand#"), below(id, "p_brand", seed, 25) + 1).as("p_brand"),
      pick(id, "p_type", seed, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (below(id, "p_size", seed, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 1).as("p_retailprice")))
    write("orders", spark.range(Orders).select(id.as("o_orderkey"),
      below(id, "o_cust", seed, Customers).as("o_custkey"),
      pick(id, "o_status", seed, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(id, "o_price", seed) * 498964.89 + 1013.7, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + below(id, "o_date", seed, 2404) * day).as("o_orderdate"),
      pick(id, "o_prio", seed,
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    val qty = (below(id, "l_qty", seed, 50) + 1).cast("double")
    write("lineitem", spark.range(Lineitems).select(
      below(id, "l_order", seed, Orders).as("l_orderkey"),
      below(id, "l_part", seed, Parts).as("l_partkey"),
      below(id, "l_supp", seed, Suppliers).as("l_suppkey"),
      (below(id, "l_line", seed, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(id, "l_unit", seed) * 1100.0), 2).as("l_extendedprice"),
      (below(id, "l_disc", seed, 11).cast("double") / 100).as("l_discount"),
      (below(id, "l_tax", seed, 9).cast("double") / 100).as("l_tax"),
      pick(id, "l_flag", seed, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, "l_status", seed, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(789004800L) + below(id, "l_ship", seed, 2498) * day).as("l_shipdate")))
    write("events", spark.range(Events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        below(id, "e_ts", seed, 30L * day * 1000000L)).as("ts"),
      below(id, "e_user", seed, Users).as("user_id"),
      pick(id, "e_type", seed, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(u(id, "e_value", seed) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", below(id, "e_k", seed, 100)).as("props")))
    // unit-norm 64-d embeddings in 10 labels
    val raw = transform(sequence(lit(0), lit(63)),
      i => (pmod(xxhash64(id, i, lit(seed)), lit(1000000L)).cast("double") / 500000.0 - 1.0))
    write("embeddings", spark.range(Embeddings).select(id.as("vec_id"), raw.as("v"))
      .select(col("vec_id"),
        transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (a, y) => a + y * y))))
          .cast("array<float>").as("embedding"),
        below(col("vec_id"), "label", seed, 10).cast("int").as("label")))
    // documents: 8..99 words from a 30-word vocabulary; one in twenty
    // repeats an earlier document's text with " dup" appended (the
    // near-duplicates the dedup queries look for)
    def text(d: Column): Column = array_join(
      transform(sequence(lit(0), (below(d, "d_len", seed, 92) + 7).cast("int")),
        i => element_at(array(Vocab.map(lit): _*),
          (pmod(xxhash64(d, i, lit(seed)), lit(Vocab.length.toLong)) + 1).cast("int"))), " ")
    val src = greatest(lit(0L), id - below(id, "d_src", seed, 10) - 1)
    val body = when(u(id, "d_dup", seed) < 0.05 && id > 0, concat(text(src), lit(" dup")))
      .otherwise(text(id))
    write("documents", spark.range(Documents).select(id.as("doc_id"), body.as("text"))
      .select(col("doc_id"), col("text"),
        pick(col("doc_id"), "d_lang", seed, Seq("en", "en", "en", "fr", "es", "zh", "de")).as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars")))
  }
}
