package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic copies of the query suite's tables (the TPC-H-like star
  * schema plus `events`, `documents` and `embeddings`), with the schemas,
  * key ranges and value domains the queries expect. Each table is written
  * as one parquet file `<dir>/<name>.parquet`. Row counts follow `sf`
  * (lineitem = 6,000,000 x sf).
  */
object SynthTables {
  val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def write(spark: SparkSession, dir: File, sf: Double, seed: Long): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nUsers = n(15000)
    // deterministic per-row draws: u(salt) in [0, 1), pick(salt, m) in [0, m)
    def h(salt: Int): Column = xxhash64(col("id"), lit(salt), lit(seed))
    def pick(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
    def u(salt: Int): Column = pick(salt, 1000000L) / 1e6
    def oneOf(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(salt, xs.size) + 1).cast("int"))
    def ts(epochDay0: String, salt: Int, days: Int): Column =
      date_add(lit(epochDay0).cast("date"), pick(salt, days).cast("int")).cast("timestamp_ntz")
    def range(rows: Long): DataFrame = spark.range(0L, rows, 1L, 4).toDF()

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range(nCust).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
        pick(1, 25).cast("int").as("c_nationkey"),
        round(u(2) * 10999.8 - 999.99, 2).as("c_acctbal"),
        oneOf(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")).as("c_mktsegment")),
      "supplier" -> range(nSupp).select(col("id").as("s_suppkey"),
        concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
        pick(1, 25).cast("int").as("s_nationkey"),
        round(u(2) * 10999.8 - 999.99, 2).as("s_acctbal")),
      "part" -> range(nPart).select(col("id").as("p_partkey"),
        concat(oneOf(1, Seq("large", "hot", "blue", "old", "cold", "red", "small", "new")), lit(" "),
          oneOf(2, Seq("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"))).as("p_name"),
        concat(lit("Brand#"), pick(3, 25) + 1).as("p_brand"),
        oneOf(4, Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        (pick(5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")),
      "orders" -> range(nOrders).select(col("id").as("o_orderkey"),
        pick(1, nCust).as("o_custkey"),
        oneOf(2, Seq("F", "O", "P")).as("o_orderstatus"),
        round(u(3) * 498991.27 + 1001.91, 2).as("o_totalprice"),
        ts("1995-01-01", 4, 2405).as("o_orderdate"),
        oneOf(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range(n(6000000)).select(pick(1, nOrders).as("l_orderkey"),
        pick(2, nPart).as("l_partkey"), pick(3, nSupp).as("l_suppkey"),
        (pick(4, 7) + 1).cast("int").as("l_linenumber"),
        (pick(5, 50) + 1).cast("double").as("l_quantity"),
        round(u(6) * 104099.23 + 900.68, 2).as("l_extendedprice"),
        (pick(7, 11) / 100.0).as("l_discount"), (pick(8, 9) / 100.0).as("l_tax"),
        oneOf(9, Seq("N", "R", "A")).as("l_returnflag"), oneOf(10, Seq("F", "O")).as("l_linestatus"),
        ts("1995-01-02", 11, 2499).as("l_shipdate")),
      "events" -> range(n(1000000)).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * (2592000000000L / n(1000000)) +
          pick(1, 2592000000000L / n(1000000))).cast("timestamp_ntz").as("ts"),
        pick(2, nUsers).as("user_id"),
        oneOf(3, Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
        round(-log(lit(1.0) - u(4)) * 50.0, 2).as("value"),
        concat(lit("{\"k\": "), pick(5, 100), lit("}")).as("props")),
      "documents" -> documents(spark, n(50000), seed),
      "embeddings" -> embeddings(spark, n(20000), seed))

    dir.mkdirs()
    for ((name, df) <- tables) {
      val tmp = new File(dir, s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
  }

  /** 8-100 words from a 30-word vocabulary; one document in eight repeats
    * its predecessor's words plus a trailing "dup" (near-duplicates).
    */
  private def documents(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream", "value",
      "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order",
      "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
    val vocabArr = array(vocab.map(lit): _*)
    val dup = pmod(xxhash64(col("id"), lit(77), lit(seed)), lit(8)) === 0 && col("id") > 0
    val key = when(dup, col("id") - 1).otherwise(col("id"))
    val words = transform(sequence(lit(1), (pmod(xxhash64(key, lit(1), lit(seed)), lit(93)) + 8).cast("int")),
      j => element_at(vocabArr, (pmod(xxhash64(key, j, lit(seed)), lit(30)) + 1).cast("int")))
    val text = concat(array_join(words, " "), when(dup, lit(" dup")).otherwise(lit("")))
    spark.range(0L, rows, 1L, 4).select(col("id").as("doc_id"), text.as("text"),
      element_at(array(Seq("en", "en", "en", "zh", "es", "fr", "de", "en").map(lit): _*),
        (pmod(xxhash64(col("id"), lit(2), lit(seed)), lit(8)) + 1).cast("int")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim unit vectors around ten label centroids. */
  private def embeddings(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val label = pmod(xxhash64(col("id"), lit(1), lit(seed)), lit(10))
    def unif(a: Column, b: Column): Column = pmod(xxhash64(a, b, lit(seed)), lit(1000000)) / 1e6
    val raw = transform(sequence(lit(0), lit(63)), j =>
      unif(label + 1000, j) - 0.5 + (unif(col("id"), j + 64) + unif(col("id"), j + 128) - 1.0) * 0.6)
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    spark.range(0L, rows, 1L, 4).select(col("id").as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"), label.cast("int").as("label"))
  }
}
