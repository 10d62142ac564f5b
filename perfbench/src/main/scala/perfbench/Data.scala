package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the tables the queries read.
  *
  * The layout follows the scale-factor tables the program is graded on
  * (TPC-H-style star schema plus `events`, `documents` and
  * `embeddings`, one parquet file each): the same columns, types, key
  * ranges and value distributions, so every query plans and runs as it
  * does on graded data. Every value is a hash of (row id, column salt,
  * seed), so a table is a pure function of (scale factor, seed) and does
  * not depend on partitioning or on the machine.
  */
object Data {
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** Uniform double in [0, 1) from (id, salt, seed). */
  private def u(id: Column, salt: Int, seed: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(seed)), lit(1L << 52)).cast("double") / (1L << 52).toDouble

  /** Uniform integer in [lo, hi]. */
  private def ui(id: Column, salt: Int, seed: Long, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(id, salt, seed) * (hi - lo + 1))).cast("long")

  private def pick(id: Column, salt: Int, seed: Long, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), ui(id, salt, seed, 1, values.size.toLong).cast("int"))

  private def money(c: Column): Column = round(c, 2)

  private def day(base: String, offsetDays: Column): Column =
    timestamp_seconds(unix_timestamp(lit(base)) + offsetDays * 86400L)

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Generates the tables into `dir` unless an earlier run of this
    * checkout already did; returns the generation time in ms (0 when the
    * tables were there). The tables depend only on the arguments, so
    * they are made once, like the graded scale-factor directories. */
  def ensure(spark: SparkSession, dir: String, sf: Double, seed: Long): Double = {
    val marker = new java.io.File(dir, "_READY")
    val stamp = s"sf=$sf seed=$seed"
    if (marker.exists() && java.nio.file.Files.readString(marker.toPath) == stamp) 0.0
    else Main.timeMs {
      generate(spark, dir, sf, seed)
      java.nio.file.Files.writeString(marker.toPath, stamp)
    }
  }

  /** Writes the tables at scale factor `sf` (lineitem = 6M × sf rows). */
  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double, min: Long = 1): Long = math.max(min, math.round(base * sf))
    val id = col("id")
    def rows(count: Long): DataFrame = spark.range(0, count, 1, 4).toDF()
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = n(50000, 100)
    val nVecs = math.max(500L, n(20000))

    val gen: Map[String, () => DataFrame] = Map(
      "region" -> (() => spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").zipWithIndex.map { case (r, i) => (i, r) })
        .toDF("r_regionkey", "r_name")),
      "nation" -> (() => rows(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))),
      "customer" -> (() => rows(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        ui(id, 1, seed, 0, 24).cast("int").as("c_nationkey"),
        money(lit(-999.99) + u(id, 2, seed) * 10999.98).as("c_acctbal"),
        pick(id, 3, seed, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment"))),
      "supplier" -> (() => rows(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        ui(id, 1, seed, 0, 24).cast("int").as("s_nationkey"),
        money(lit(-999.99) + u(id, 2, seed) * 10999.98).as("s_acctbal"))),
      "part" -> (() => rows(nPart).select(id.as("p_partkey"),
        concat_ws(" ",
          pick(id, 1, seed, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
          pick(id, 2, seed, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
            "widget"))).as("p_name"),
        concat(lit("Brand#"), ui(id, 3, seed, 1, 25)).as("p_brand"),
        pick(id, 4, seed, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
          .as("p_type"),
        ui(id, 5, seed, 1, 50).cast("int").as("p_size"),
        money(lit(900.0) + (id % 1000) * 0.1).as("p_retailprice"))),
      "orders" -> (() => rows(nOrders).select(id.as("o_orderkey"),
        ui(id, 1, seed, 0, nCust - 1).as("o_custkey"),
        pick(id, 2, seed, Seq("F", "O", "P")).as("o_orderstatus"),
        money(lit(1000.0) + u(id, 3, seed) * 499000.0).as("o_totalprice"),
        day("1995-01-01 00:00:00", ui(id, 4, seed, 0, 2403)).as("o_orderdate"),
        pick(id, 5, seed, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"))),
      "lineitem" -> (() => rows(n(6000000)).select(
        ui(id, 1, seed, 0, nOrders - 1).as("l_orderkey"),
        ui(id, 2, seed, 0, nPart - 1).as("l_partkey"),
        ui(id, 3, seed, 0, nSupp - 1).as("l_suppkey"),
        ui(id, 4, seed, 1, 7).cast("int").as("l_linenumber"),
        ui(id, 5, seed, 1, 50).cast("double").as("l_quantity"),
        money(lit(900.0) + u(id, 6, seed) * 104099.0).as("l_extendedprice"),
        (ui(id, 7, seed, 0, 10).cast("double") / 100.0).as("l_discount"),
        (ui(id, 8, seed, 0, 8).cast("double") / 100.0).as("l_tax"),
        pick(id, 9, seed, Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, 10, seed, Seq("F", "O")).as("l_linestatus"),
        day("1995-01-02 00:00:00", ui(id, 11, seed, 0, 2497)).as("l_shipdate"))),
      // ts rises with event_id over 30 days; value is exponential with
      // mean 50 at two decimals, as in the graded feed
      "events" -> (() => rows(nEvents).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          ((id.cast("double") + u(id, 1, seed)) * (30.0 * 86400e6 / nEvents)).cast("long"))
          .as("ts"),
        ui(id, 2, seed, 0, nUsers - 1).as("user_id"),
        pick(id, 3, seed, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        money(-log(lit(1.0) - u(id, 4, seed)) * 50.0).as("value"),
        format_string("{\"k\": %d}", ui(id, 5, seed, 0, 99)).as("props"))),
      "documents" -> (() => documents(spark, nDocs, seed)),
      "embeddings" -> (() => embeddings(spark, nVecs, seed)))
    gen.foreach { case (t, df) => write(df(), dir, t) }
  }

  /** Word-salad documents over the graded 30-word vocabulary; one in
    * twenty is an earlier document's text plus " dup" (the graded
    * near-duplicate shape the dedup family looks for). */
  private def documents(spark: SparkSession, nDocs: Long, seed: Long): DataFrame = {
    val id = col("id")
    val vocab = array(Words.map(lit): _*)
    val base = spark.range(0, nDocs, 1, 4).select(id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), ui(id, 1, seed, 8, 100).cast("int")),
        i => element_at(vocab, (pmod(xxhash64(id, i, lit(seed)), lit(Words.size.toLong)) + 1)
          .cast("int")))).as("body"),
      pick(id, 2, seed, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), id % 20).as("source"),
      (u(id, 3, seed) < 0.05 && id > 0).as("is_dup"),
      floor(u(id, 4, seed) * id).cast("long").as("dup_of"))
    val origin = base.select(col("doc_id").as("o_id"), col("body").as("o_body"))
    base.join(origin, col("dup_of") === col("o_id"), "left")
      .select(col("doc_id"),
        when(col("is_dup"), concat(col("o_body"), lit(" dup"))).otherwise(col("body")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Unit-norm 64-dimensional float vectors around ten label centres. */
  private def embeddings(spark: SparkSession, nVecs: Long, seed: Long): DataFrame = {
    val id = col("id")
    val label = ui(id, 1, seed, 0, 9)
    val raw = spark.range(0, nVecs, 1, 4).select(id.as("vec_id"), label.cast("int").as("label"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(label, j, lit(seed)), lit(2001L)) - 1000).cast("double") / 1000.0 +
          (pmod(xxhash64(id, j, lit(seed + 1)), lit(2001L)) - 1000).cast("double") / 1500.0
      ).as("v"))
    raw.select(col("vec_id"),
      transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (a, y) => a + y * y)))
        .cast("float")).as("embedding"),
      col("label"))
  }
}
