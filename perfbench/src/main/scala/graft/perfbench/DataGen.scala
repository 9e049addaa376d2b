package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic copies of the ten tables graft's entries read
  * (`graft.Tables.all`), at a given scale factor. Every value is a pure
  * function of the row id and a per-column salt (`xxhash64`), so the output
  * does not depend on partitioning, thread count or run: the same scale
  * factor always yields the same rows. Domains, key ranges, 2-decimal money
  * values and timestamp-without-time-zone columns follow the shape of the
  * TPC-H-ish star schema the entries and the official texts are written
  * against.
  */
object DataGen {

  private def h(salt: String): Column = xxhash64(col("id"), lit(salt))
  /** uniform integer in [0, n) */
  private def u(salt: String, n: Long): Column = pmod(h(salt), lit(n))
  private def pick(salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt, values.size) + 1).cast("int"))
  private def money(salt: String, lo: Long, hiExcl: Long): Column =
    round((u(salt, hiExcl - lo) + lo) / 100.0, 2)
  private def dayTs(base: String, salt: String, days: Int): Column =
    date_add(to_date(lit(base)), u(salt, days).cast("int")).cast("timestamp_ntz")

  val Words: Seq[String] = Seq("the", "stream", "query", "row", "fast", "small",
    "spark", "group", "customer", "line", "sort", "hash", "batch", "dup", "data",
    "filter", "value", "big", "key", "order", "table", "scan", "merge", "part",
    "window", "join", "slow", "agg", "column", "a", "vector")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Double, min: Long = 1L): Long = math.max(min, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000, 500); val nVec = n(20000, 500)
    def range(rows: Long): DataFrame = spark.range(0, rows, 1, 4).toDF()

    val region = range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))
    val customer = range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u("c_nation", 25).cast("int").as("c_nationkey"),
      money("c_acctbal", -99999, 1000000).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u("s_nation", 25).cast("int").as("s_nationkey"),
      money("s_acctbal", -99999, 1000000).as("s_acctbal"))
    val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val part = range(nPart).select(col("id").as("p_partkey"),
      concat(pick("p_adj", adjectives), lit(" "), pick("p_noun", nouns)).as("p_name"),
      concat(lit("Brand#"), u("p_brand", 25) + 1).as("p_brand"),
      pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (u("p_size", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 2).as("p_retailprice"))
    val orders = range(nOrders).select(col("id").as("o_orderkey"),
      u("o_cust", nCust).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_total", 100191, 49999319).as("o_totalprice"),
      dayTs("1995-01-01", "o_date", 2404).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val qty = (u("l_qty", 50) + 1).cast("double")
    val lineitem = range(nLine).select(u("l_order", nOrders).as("l_orderkey"),
      u("l_part", nPart).as("l_partkey"),
      u("l_supp", nSupp).as("l_suppkey"),
      (u("l_line", 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u("l_price", 120000) / 100.0), 2).as("l_extendedprice"),
      round(u("l_disc", 11) / 100.0, 2).as("l_discount"),
      round(u("l_tax", 9) / 100.0, 2).as("l_tax"),
      pick("l_rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_ls", Seq("F", "O")).as("l_linestatus"),
      dayTs("1995-01-02", "l_ship", 2499).as("l_shipdate"))
    // event time increases with event_id over 30 days: one slot per event
    // plus a jitter inside the slot
    val slotMicros = 30L * 86400L * 1000000L / nEvents
    val events = range(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * slotMicros +
        u("e_jit", slotMicros)).cast("timestamp_ntz").as("ts"),
      u("e_user", nUsers).as("user_id"),
      pick("e_type", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-lit(50.0) * ln((u("e_val", 1000000) + 1) / 1000001.0), 2).as("value"),
      concat(lit("{\"k\": "), u("e_k", 100), lit("}")).as("props"))
    val vocab = array(Words.map(lit): _*)
    // one document in a hundred repeats the text of its predecessor, so the
    // dedup entries have exact duplicates to find
    val textSeed = when(u("d_dup", 100) === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    val docs = range(nDocs).withColumn("ts_seed", textSeed)
      .withColumn("text", concat_ws(" ", transform(
        sequence(lit(1), (pmod(xxhash64(col("ts_seed"), lit("d_len")), lit(91)) + 10)
          .cast("int")),
        i => element_at(vocab, (pmod(xxhash64(col("ts_seed"), i), lit(Words.size)) + 1)
          .cast("int")))))
      .select(col("id").as("doc_id"), col("text"),
        pick("d_lang", Seq("de", "en", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), u("d_src", 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    // 64-dim unit vectors clustered around one centroid per label
    val label = u("v_label", 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (pmod(xxhash64(label, j), lit(2001)) - 1000) / 1000.0 +
        (pmod(xxhash64(col("id"), j), lit(2001)) - 1000) / 2500.0)
    val embeddings = range(nVec).withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        label.as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> docs,
      "embeddings" -> embeddings)
  }

  /** Write every table under `dir` (one parquet directory each) unless a
    * completed copy is already there.
    */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val done = Paths.get(dir, "_COMPLETE")
    if (!Files.exists(done)) {
      tables(spark, sf).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      Files.writeString(done, s"sf=$sf\n")
    }
  }
}
