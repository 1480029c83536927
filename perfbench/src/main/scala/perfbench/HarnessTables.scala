package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-ins for the ten harness parquet tables the query registry
  * reads (region, nation, customer, supplier, part, orders, lineitem, events,
  * documents, embeddings), with the schemas and value domains the queries
  * assume. Row counts scale with `sf` as the harness fixtures do (lineitem
  * about 6,000,000 x sf); documents and embeddings are fixed at 500 rows.
  * Every value is a hash of (seed, row id, column), so a table does not
  * depend on how Spark partitions the generating range.
  */
object HarnessTables {

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    val nCust = math.max(150, (150000 * sf).toLong)
    val nSupp = math.max(10, (10000 * sf).toLong)
    val nPart = math.max(200, (200000 * sf).toLong)
    val nOrders = math.max(1500, (1500000 * sf).toLong)
    val nEvents = math.max(1000, (1000000 * sf).toLong)

    /** Uniform in [0, 1), fixed by (seed, id, salt). */
    def u(id: Column, salt: Int): Column =
      pmod(xxhash64(lit(seed), id, lit(salt)), lit(1000003L)).cast("double") / 1000003.0
    def pick(id: Column, salt: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (u(id, salt) * values.length).cast("int") + 1)
    def intBelow(id: Column, salt: Int, n: Long): Column = (u(id, salt) * n).cast("long")
    def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def save(df: DataFrame, name: String): Unit = tables += name -> df
    val id = col("id")

    save(range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name")), "region")
    save(range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")), "nation")
    save(range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      intBelow(id, 1, 25).cast("int").as("c_nationkey"),
      round(u(id, 2) * 10999 - 999, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), "customer")
    save(range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      intBelow(id, 4, 25).cast("int").as("s_nationkey"),
      round(u(id, 5) * 10999 - 999, 2).as("s_acctbal")), "supplier")
    save(range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, Seq("red", "blue", "green", "small", "large", "shiny")),
        pick(id, 7, Seq("widget", "bolt", "ring", "gear", "valve", "panel"))).as("p_name"),
      concat(lit("Brand#"), intBelow(id, 8, 25) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (intBelow(id, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")), "part")

    val orderDate = timestamp_seconds(lit(788918400L) + intBelow(id, 13, 2404) * 86400L)
    save(range(nOrders).select(id.as("o_orderkey"), intBelow(id, 11, nCust).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(id, 14) * 498965 + 1013, 2).as("o_totalprice"),
      orderDate.as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), "orders")

    val line = col("l_linenumber").cast("long")
    val lkey = col("l_orderkey") * 8 + line
    save(range(nOrders)
      .select(id.as("l_orderkey"), orderDate.as("od"),
        explode(sequence(lit(1), (intBelow(id, 16, 7) + 1).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"), intBelow(lkey, 17, nPart).as("l_partkey"),
        intBelow(lkey, 18, nSupp).as("l_suppkey"), col("l_linenumber"),
        (intBelow(lkey, 19, 50) + 1).cast("double").as("l_quantity"),
        round(u(lkey, 20) * 94000 + 900, 2).as("l_extendedprice"),
        round(intBelow(lkey, 21, 11) / 100.0, 2).as("l_discount"),
        round(intBelow(lkey, 22, 9) / 100.0, 2).as("l_tax"),
        pick(lkey, 23, Seq("A", "N", "R")).as("l_returnflag"),
        pick(lkey, 24, Seq("F", "O")).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("od")) + intBelow(lkey, 25, 120) * 86400L)
          .as("l_shipdate")),
      "lineitem")

    val span = 30L * 86400L * 1000000L // 30 days of microseconds
    save(range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * (span / nEvents) +
        intBelow(id, 26, span / nEvents)).as("ts"),
      intBelow(id, 27, 150).as("user_id"),
      pick(id, 28, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(u(id, 29) * 490 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", intBelow(id, 30, 100)).as("props")), "events")

    val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
      "order", "data", "column", "join", "small", "big", "query", "customer",
      "group", "filter", "stream", "vector")
    val words = transform(sequence(lit(1), (intBelow(id, 31, 60) + 20).cast("int")),
      (k: Column) => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), id, k), lit(vocab.length.toLong)) + 1).cast("int")))
    val text = array_join(words, " ")
    save(range(500).select(id.as("doc_id"), text.as("text"),
      pick(id, 32, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), intBelow(id, 33, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // ten labelled clusters: a per-label centre plus small per-row noise
    val dims = 64
    val emb = transform(sequence(lit(0), lit(dims - 1)), (j: Column) =>
      ((pmod(xxhash64(lit(seed), id % 10, j), lit(2001L)).cast("double") / 1000.0 - 1.0) * 0.25 +
        (pmod(xxhash64(lit(seed), id, j, lit(34)), lit(2001L)).cast("double") / 1000.0 - 1.0) * 0.05)
        .cast("float"))
    save(range(500).select(id.as("vec_id"), emb.as("embedding"),
      (id % 10).cast("int").as("label")), "embeddings")

    // the ten writes are independent; running them side by side keeps
    // generation (part of the set-up time) short
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val writes = tables.map { case (name, df) =>
        pool.submit(new Runnable {
          def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }
      writes.foreach(_.get())
    } finally pool.shutdown()
  }
}
