package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic TPC-H-shaped input tables (nation, customer, orders,
  * lineitem) at a given scale factor.
  *
  * Every value is a hash of the row key and a per-column salt, so the tables
  * are the same on every machine and every run. They do not depend on the
  * workload seed: the seed picks each pipeline's parameters, key slices and
  * time-travel versions, and the tables are built once per checkout.
  */
object Data {

  val NationNames: Seq[String] = Seq(
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def dir(root: String, sf: Double): String = s"$root/sf$sf"

  /** Rows of `orders` at a scale factor (TPC-H: 1.5M per unit). */
  def orderRows(sf: Double): Long = math.round(1500000 * sf)

  /** Writes each of `tables` (of nation, customer, orders, lineitem) under
    * `dir(root, sf)` that no earlier call has written completely (marked by
    * the table's own `_SUCCESS`).
    */
  def generate(spark: SparkSession, root: String, sf: Double, tables: Set[String]): Unit = {
    val out = dir(root, sf)
    val nCust = math.max(1L, math.round(150000 * sf))
    val nOrd = orderRows(sf)
    def files(rows: Long) = math.max(1, (rows / 500000).toInt)
    def write(name: String, df: DataFrame, rows: Long): Unit =
      if (tables(name) && !new java.io.File(s"$out/$name.parquet/_SUCCESS").exists())
        df.coalesce(files(rows)).write.mode("overwrite").parquet(s"$out/$name.parquet")

    // uniform in [0, m) from the key columns and a salt
    def u(m: Long, salt: Int, keys: Column*): Column =
      pmod(xxhash64((keys :+ lit(salt)): _*), lit(m))
    def pick(values: Seq[String], salt: Int, keys: Column*): Column =
      element_at(array(values.map(lit): _*), (u(values.size, salt, keys: _*) + 1).cast("int"))
    def money(cents: Column) = (cents / 100).cast(DecimalType(12, 2))

    val nation = spark.range(0, NationNames.size).select(
      col("id").cast("int").as("n_nationkey"),
      element_at(array(NationNames.map(lit): _*), (col("id") + 1).cast("int")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    write("nation", nation, NationNames.size)

    val c = col("id")
    val customer = spark.range(1, nCust + 1).select(
      c.as("c_custkey"),
      concat(lit("Customer#"), lpad(c.cast("string"), 9, "0")).as("c_name"),
      u(NationNames.size, 1, c).cast("int").as("c_nationkey"),
      pick(Segments, 2, c).as("c_mktsegment"),
      money(u(1100000, 3, c) - 100000).as("c_acctbal"))
    write("customer", customer, nCust)

    val orders = spark.range(1, nOrd + 1).select(
      c.as("o_orderkey"),
      (u(nCust, 4, c) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), 5, c).as("o_orderstatus"),
      money(u(50000000, 6, c) + 100000).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), u(2405, 7, c).cast("int")).as("o_orderdate"),
      pick(Priorities, 8, c).as("o_orderpriority"))
    write("orders", orders, nOrd)

    val ln = col("l_linenumber")
    val lineitem = orders
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (u(7, 9, col("o_orderkey")) + 1).cast("int"))).as("l_linenumber"))
      .select(
        col("l_orderkey"), ln,
        money(u(50, 10, col("l_orderkey"), ln) * 100 + 100).as("l_quantity"),
        money((u(50, 10, col("l_orderkey"), ln) + 1) * (u(100000, 11, col("l_orderkey"), ln) + 90000))
          .as("l_extendedprice"),
        (u(11, 12, col("l_orderkey"), ln) / 100).cast(DecimalType(4, 2)).as("l_discount"),
        (u(9, 13, col("l_orderkey"), ln) / 100).cast(DecimalType(4, 2)).as("l_tax"),
        pick(Seq("R", "A", "N"), 14, col("l_orderkey"), ln).as("l_returnflag"),
        date_add(col("o_orderdate"), (u(121, 15, col("l_orderkey"), ln) + 1).cast("int")).as("l_shipdate"))
    write("lineitem", lineitem, nOrd * 4)
  }
}
