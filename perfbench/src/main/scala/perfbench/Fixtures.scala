package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input tables. Every value is a hash of (row id, data seed,
  * column salt), so the same seed gives byte-identical tables whatever the
  * partitioning. The shapes follow the TPC-H-ish fixtures the program's
  * queries are written against (lineitem, orders, events, ... with the same
  * column names, types and value domains). */
object Fixtures {
  /** Data seed of every table: the workload seed only picks cutoffs and
    * orders, so the tables (and the operator-suite expected counts) are the
    * same on every run. */
  val DataSeed = 42L

  private def h(salt: Int): Column = xxhash64(col("id"), lit(DataSeed), lit(salt))
  private def uniform(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uniform(salt, values.size) + 1).cast("int"))
  /** A two-decimal double in [lo, hi]. */
  private def money(salt: Int, lo: Double, hi: Double): Column =
    (lit(lo) + uniform(salt, math.round((hi - lo) * 100) + 1) / 100.0).cast("double")
  private def dayTs(salt: Int, first: String, days: Int): Column =
    timestamp_seconds(unix_timestamp(lit(first), "yyyy-MM-dd") + uniform(salt, days) * 86400L)

  private def rows(spark: SparkSession, n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  /** TPC-H lineitem, 11 columns. `l_orderkey` spans [0, orderKeys). */
  def lineitem(spark: SparkSession, n: Long, orderKeys: Long,
      parts: Long, suppliers: Long): DataFrame =
    rows(spark, n).select(
      uniform(1, orderKeys).as("l_orderkey"),
      uniform(2, parts).as("l_partkey"),
      uniform(3, suppliers).as("l_suppkey"),
      (uniform(4, 7) + 1).cast("int").as("l_linenumber"),
      (uniform(5, 50) + 1).cast("double").as("l_quantity"),
      money(6, 901.0, 104999.0).as("l_extendedprice"),
      (uniform(7, 11) / 100.0).cast("double").as("l_discount"),
      (uniform(8, 9) / 100.0).cast("double").as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      dayTs(11, "1995-01-02", 2499).as("l_shipdate"))

  /** TPC-H orders; `o_orderkey` is unique and spans [0, n). */
  def orders(spark: SparkSession, n: Long, customers: Long): DataFrame =
    rows(spark, n).select(
      col("id").as("o_orderkey"),
      uniform(21, customers).as("o_custkey"),
      pick(22, Seq("F", "O", "P")).as("o_orderstatus"),
      money(23, 1000.0, 500000.0).as("o_totalprice"),
      dayTs(24, "1995-01-01", 2404).as("o_orderdate"),
      pick(25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  /** Click-stream events at microsecond precision over `days` days from
    * 2024-01-01, ordered by `event_id` = time order. */
  def events(spark: SparkSession, n: Long, days: Int, users: Long): DataFrame = {
    val step = days.toLong * 86400L * 1000000L / n
    rows(spark, n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * step + uniform(31, step)).as("ts"),
      uniform(32, users).as("user_id"),
      pick(33, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(34, 0.01, 490.0).as("value"),
      concat(lit("{\"k\": "), uniform(35, 100).cast("string"), lit("}")).as("props"))
  }

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** Word-salad documents; every 10th one repeats an earlier document with
    * a `dup` word appended, so the near-duplicate operators find pairs. */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val words = array(vocab.map(lit): _*)
    val text = concat_ws(" ", transform(sequence(lit(1), (uniform(41, 60) + 8).cast("int")),
      i => element_at(words,
        (pmod(xxhash64(col("id"), lit(DataSeed), i), lit(vocab.size.toLong)) + 1).cast("int"))))
    val base = rows(spark, n).select(col("id"), text.as("text"))
    val src = base.select(col("id").as("src_id"), col("text").as("src_text"))
    base.join(src, pmod(col("id") * 7, lit(n)) === col("src_id"), "left")
      .select(col("id"),
        when(col("id") % 10 === 9, concat(col("src_text"), lit(" dup")))
          .otherwise(col("text")).as("text"))
      .select(col("id").as("doc_id"), col("text"),
        pick(43, Seq("de", "en", "en", "en", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** 64-dimensional float embeddings around 10 labelled centroids. */
  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    val label = uniform(51, 10).cast("int")
    rows(spark, n).withColumn("label", label).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(col("label"), lit(DataSeed), i), lit(2000L)) - 1000) / 4000.0 +
          (pmod(xxhash64(col("id"), lit(DataSeed), i), lit(2000L)) - 1000) / 10000.0)
          .cast("float")).as("embedding"),
      col("label"))
  }

  /** The ten tables the operator suite reads, at TPC-H scale factor 0.001
    * (6,000 lineitems). */
  def suiteTables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val customers = 150L
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    Seq(
      "region" -> rows(spark, 5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> rows(spark, 25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> rows(spark, customers).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        uniform(61, 25).cast("int").as("c_nationkey"),
        money(62, -999.99, 9999.99).as("c_acctbal"),
        pick(63, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> rows(spark, 10).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        uniform(71, 25).cast("int").as("s_nationkey"),
        money(72, -999.99, 9999.99).as("s_acctbal")),
      "part" -> rows(spark, 200).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(81, Seq("blue", "cold", "hot", "large", "new", "red", "small", "old")),
          pick(82, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
          .as("p_name"),
        concat(lit("Brand#"), (uniform(83, 25) + 1).cast("string")).as("p_brand"),
        pick(84, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        (uniform(85, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).cast("double").as("p_retailprice")),
      "orders" -> orders(spark, 1500, customers),
      "lineitem" -> lineitem(spark, 6000, 1500, 200, 10),
      "events" -> events(spark, 1000, 30, 150),
      "documents" -> documents(spark, 500),
      "embeddings" -> embeddings(spark, 500))
  }

  /** Write one table as a single parquet file set, the shape the program's
    * fixtures have. */
  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}
