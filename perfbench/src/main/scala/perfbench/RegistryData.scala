package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TPC-H-shaped corpus the registry queries read (FIXTURES.md B), for
  * the tables `region nation customer supplier part orders lineitem
  * events`: same schemas, key ranges and vocabularies, every column an
  * independent uniform draw, as in the engine's test corpus. Values are
  * hashes of (data seed, column, row id), so the data does not depend on
  * partitioning, and every table of more than one file's worth of rows is
  * written as several files, so scans run as parallel tasks.
  *
  * The data seed is fixed: registry results are checked against digests
  * recorded from an oracle-checked run on exactly this data. */
object RegistryData {

  val DataSeed = 42L
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  private def h(salt: String): Column = xxhash64(lit(DataSeed), lit(salt), col("id"))
  /** Uniform integer in [0, m). */
  private def u(salt: String, m: Long): Column = pmod(h(salt), lit(m))
  /** Uniform double in [lo, hi) rounded to cents. */
  private def money(salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt, 1000000L).cast("double") / 1000000.0 * (hi - lo), 2)
  private def pickOf(salt: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(salt, xs.size) + 1).cast("int"))
  private def day(salt: String, from: String, days: Int): Column =
    to_timestamp(date_add(lit(from).cast("date"), u(salt, days).cast("int")))

  /** Write the tables named in `only` at scale `sf` under `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double, only: Set[String]): Unit = {
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val nEvt = (1000000 * sf).toLong
    val nUser = (15000 * sf).toLong
    def range(n: Long): DataFrame = spark.range(0, n, 1, math.max(1, math.min(8, (n / 50000).toInt))).toDF()
    def save(name: String, df: => DataFrame): Unit =
      if (only(name)) df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5)).cast("int").as("n_regionkey")))
    save("customer", range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u("c_nationkey", 25).cast("int").as("c_nationkey"),
      money("c_acctbal", -999.99, 9999.99).as("c_acctbal"),
      pickOf("c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u("s_nationkey", 25).cast("int").as("s_nationkey"),
      money("s_acctbal", -999.99, 9999.99).as("s_acctbal")))
    save("part", range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pickOf("p_adj", Seq("blue", "old", "large", "hot", "cold", "red", "small", "new")),
        pickOf("p_noun", Seq("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"))).as("p_name"),
      concat(lit("Brand#"), u("p_brand", 25) + 1).as("p_brand"),
      pickOf("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (u("p_size", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)).cast("double") / 10, 1).as("p_retailprice")))
    save("orders", range(nOrd).select(col("id").as("o_orderkey"),
      u("o_custkey", nCust).as("o_custkey"),
      pickOf("o_orderstatus", Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_totalprice", 1000.0, 500000.0).as("o_totalprice"),
      day("o_orderdate", "1995-01-01", 2404).as("o_orderdate"),
      pickOf("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", range(nLine).select(u("l_orderkey", nOrd).as("l_orderkey"),
      u("l_partkey", nPart).as("l_partkey"),
      u("l_suppkey", nSupp).as("l_suppkey"),
      (u("l_linenumber", 7) + 1).cast("int").as("l_linenumber"),
      (u("l_quantity", 50) + 1).cast("double").as("l_quantity"),
      money("l_extendedprice", 900.0, 105000.0).as("l_extendedprice"),
      (u("l_discount", 11).cast("double") / 100).as("l_discount"),
      (u("l_tax", 9).cast("double") / 100).as("l_tax"),
      pickOf("l_returnflag", Seq("A", "N", "R")).as("l_returnflag"),
      pickOf("l_linestatus", Seq("F", "O")).as("l_linestatus"),
      day("l_shipdate", "1995-01-02", 2498).as("l_shipdate")))
    // events in id order over January 2024, a few minutes apart
    val stepUs = 30L * 24 * 3600 * 1000000 / math.max(nEvt, 1)
    save("events", range(nEvt).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + u("ts", stepUs)).as("ts"),
      u("user_id", nUser).as("user_id"),
      pickOf("event_type", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money("value", 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", u("props", 100)).as("props")))
  }
}
