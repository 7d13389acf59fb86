package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped inputs. Every value is a hash of (seed, row, column)
  * so the same seed gives the same tables whatever the partitioning, and
  * every seed gives tables of the same size. */
object Data {
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", DateType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  val Epoch: java.time.LocalDate = java.time.LocalDate.parse("1992-01-01")
  val DateSpanDays = 2400
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def u(seed: Long, k: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols :+ lit(k)): _*), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)

  private def pick(options: Seq[String], r: Column): Column =
    element_at(array(options.map(lit): _*), (r * options.size).cast("int") + 1)

  /** `n` orders with keys 1..n. Order dates rise with the key (plus a
    * week of jitter), as they do in a table loaded in arrival order, so
    * per-file date statistics are tight and a date range prunes. */
  def orders(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      (id + 1).as("o_orderkey"),
      (floor(u(seed, 1, id) * math.max(100L, n / 10)) + 1).cast("long").as("o_custkey"),
      when(u(seed, 2, id) < 0.49, "F").when(u(seed, 2, id) < 0.98, "O")
        .otherwise("P").as("o_orderstatus"),
      round(lit(900.0) + u(seed, 3, id) * 400000.0, 2).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf(Epoch)),
        (floor(id * DateSpanDays / n) + floor(u(seed, 4, id) * 7)).cast("int"))
        .as("o_orderdate"),
      pick(Priorities, u(seed, 5, id)).as("o_orderpriority"))
  }

  /** One to seven lines per order of `ord`. */
  def lineitem(ord: DataFrame, seed: Long): DataFrame = {
    val k = col("o_orderkey")
    val ln = col("l_linenumber")
    ord.select(k, col("o_orderdate"),
        explode(sequence(lit(1), (floor(u(seed, 10, k) * 7) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        k.as("l_orderkey"),
        (floor(u(seed, 11, k, ln) * 2000) + 1).cast("long").as("l_partkey"),
        (floor(u(seed, 12, k, ln) * 100) + 1).cast("long").as("l_suppkey"),
        ln,
        (floor(u(seed, 13, k, ln) * 50) + 1).as("l_quantity"),
        round((floor(u(seed, 13, k, ln) * 50) + 1) *
          (lit(900.0) + u(seed, 14, k, ln) * 1100.0), 2).as("l_extendedprice"),
        (floor(u(seed, 15, k, ln) * 11) / 100).as("l_discount"),
        (floor(u(seed, 16, k, ln) * 9) / 100).as("l_tax"),
        pick(Seq("A", "N", "R"), u(seed, 17, k, ln)).as("l_returnflag"),
        pick(Seq("F", "O"), u(seed, 18, k, ln)).as("l_linestatus"),
        date_add(col("o_orderdate"), (floor(u(seed, 19, k, ln) * 120) + 1).cast("int"))
          .as("l_shipdate"))
  }

  /** `n` events over 30 days of 2023; the DQ dashboard derives its check
    * history from them. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      (id + 1).as("event_id"),
      timestamp_seconds(lit(1672531200L) + floor(id * 2592000L / n)).as("ts"),
      (floor(u(seed, 30, id) * 1000) + 1).cast("long").as("user_id"),
      pick(Seq("view", "click", "purchase", "signup"), u(seed, 31, id)).as("event_type"),
      round(u(seed, 32, id) * 100.0, 2).as("value"),
      lit("{}").as("props"))
  }

  /** Write `orders`, `lineitem` and `events` (one parquet file each, the
    * layout the program's table readers expect) under `dir`. The pipeline
    * dates a row `o_orderkey % 300` days into 2023, so order keys are
    * spread (as TPC-H's are sparse) over the residues 1..`days` only: the
    * warehouse then holds `days` days of history. */
  def writeInputs(spark: SparkSession, dir: String, orderRows: Long, days: Int,
                  seed: Long): Unit = {
    val k = col("o_orderkey") - 1
    orders(spark, orderRows, seed)
      .withColumn("o_orderkey", floor(k / days) * 300 + k % days + 1)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    lineitem(spark.read.parquet(s"$dir/orders.parquet"), seed)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    events(spark, orderRows * 2 / 3, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
  }

  /** One orders row of the harness's in-memory replay model. */
  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         day: Int, prio: String) {
    def row: Row = Row(key, cust, status, price,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day.toLong)), prio)
  }

  object Order {
    def of(r: Row): Order = Order(r.getLong(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getDate(4).toLocalDate.toEpochDay.toInt, r.getString(5))
  }

  /** A fresh order with key `key`, drawn from `rnd`. */
  def newOrder(key: Long, rnd: java.util.SplittableRandom): Order = {
    val s = rnd.nextDouble()
    Order(key, rnd.nextLong(1L, 15001L),
      if (s < 0.49) "F" else if (s < 0.98) "O" else "P",
      math.round((900.0 + rnd.nextDouble() * 400000.0) * 100) / 100.0,
      Epoch.toEpochDay.toInt + DateSpanDays + rnd.nextInt(30),
      Priorities(rnd.nextInt(Priorities.size)))
  }

  def frame(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.row): _*), ordersSchema)
}
