package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The synthetic TPC-H-shaped catalog the Datalog workloads read and the
  * event table the streaming workload draws its ops from.
  *
  * The tables have the fixture's sf0.1 shape (15k customers, 150k orders,
  * 100k events, same column names and types), so `TableSource.tpch` serves
  * them unchanged. Every column is a pure function of the row number and a
  * fixed salt: the catalog is the same on every machine and every run, and
  * only the workload seed varies what is asked of it. */
object Catalog {
  val Customers = 15000L
  val Orders = 150000L
  val Events = 100000L
  val Users = 2000L
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses: Seq[String] = Seq("F", "O", "P")
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
  /** o_orderdate spans [1992-01-01, 1992-01-01 + OrderDays). */
  val OrderDays = 3650
  val FirstOrderDay: java.time.LocalDateTime = java.time.LocalDateTime.parse("1992-01-01T00:00")
  val FirstEvent: java.time.LocalDateTime = java.time.LocalDateTime.parse("2024-01-01T00:00")

  private def h(salt: Int): Column = xxhash64(col("id"), lit(salt))
  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(h(salt), lit(values.size.toLong)) + 1).cast("int"))
  private def cents(salt: Int, lo: Long, span: Long): Column =
    ((pmod(h(salt), lit(span)) + lo) / 100.0).cast("double")
  private def ntz(micros: Column): Column =
    timestamp_micros(micros).cast("timestamp_ntz")

  def write(spark: SparkSession, dir: String): Unit = {
    def out(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val firstOrderMicros = FirstOrderDay.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val firstEventMicros = FirstEvent.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    out("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    out("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    out("customer", spark.range(Customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(1), lit(25L)).cast("int").as("c_nationkey"),
      cents(2, -99999L, 1099999L).as("c_acctbal"),
      pick(3, Segments).as("c_mktsegment")))
    out("orders", spark.range(Orders).select(col("id").as("o_orderkey"),
      pmod(h(11), lit(Customers)).as("o_custkey"),
      pick(12, Statuses).as("o_orderstatus"),
      cents(13, 100000L, 49900000L).as("o_totalprice"),
      ntz(lit(firstOrderMicros) + pmod(h(14), lit(OrderDays.toLong)) * 86400000000L)
        .as("o_orderdate"),
      pick(15, Priorities).as("o_orderpriority")))
    // ~26 s apart on average: the events cover about a month, in id order
    out("events", spark.range(Events).select(col("id").as("event_id"),
      ntz(lit(firstEventMicros) + col("id") * 26000000L + pmod(h(21), lit(26000000L))).as("ts"),
      pmod(h(22), lit(Users)).as("user_id"),
      pick(23, EventTypes).as("event_type"),
      cents(24, 0L, 50000L).as("value"),
      format_string("{\"k\": %d}", pmod(h(25), lit(100L))).as("props")))
  }
}
