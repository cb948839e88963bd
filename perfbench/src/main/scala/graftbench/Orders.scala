package graftbench

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types._

import graft.GraftSession

/** One `orders` row. Money is exact decimal(18,2), the measure type graft's
  * summaries maintain and serve, so sums and min/max compare exactly
  * against the in-memory model. */
final case class Order(key: Long, cust: Long, status: String, price: BigDecimal,
    day: Int, prio: String) {
  def row: Row = Row(key, cust, status, price.bigDecimal, java.sql.Date.valueOf(LocalDate.ofEpochDay(day)), prio)
}

object Orders {
  val Statuses = Vector("F", "O", "P")

  val Columns: Seq[(String, String)] = Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
    "o_orderstatus" -> "varchar(1)", "o_totalprice" -> "decimal(18,2)",
    "o_orderdate" -> "date", "o_orderpriority" -> "varchar(15)")
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(18, 2)),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  /** User bytes of one row: Spark's default size estimate for the schema. */
  val RowBytes: Long = Schema.defaultSize.toLong

  /** The benchmark's slice of the test `orders` table in the table's
    * schema (price as decimal(18,2), date as a date), with `_pool` set on
    * the seeded fifth of the rows held out of the starting table. */
  def slice(spark: SparkSession, dataDir: String, seed: Long): DataFrame =
    GraftSession.table(spark, dataDir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("o_totalprice"),
      col("o_orderdate").cast(DateType).as("o_orderdate"), col("o_orderpriority"),
      (pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(5L)) === 0).as("_pool"))

  def fromRow(r: Row): Order = Order(r.getLong(0), r.getLong(1), r.getString(2),
    BigDecimal(r.getDecimal(3)), r.getDate(4).toLocalDate.toEpochDay.toInt, r.getString(5))

  def df(spark: SparkSession, rows: Iterable[Order]): DataFrame =
    spark.createDataFrame(rows.map(_.row).toSeq.asJava, Schema)

  def date(day: Int): String = LocalDate.ofEpochDay(day).toString
}

/** The expected `orders` table: what every acknowledged write left behind.
  * Rows not in the table wait in a pool of real rows: new keys come from
  * it, changed values are copied from it, and deleted rows go back to it,
  * so every row the workload writes is a row of the test table. */
final class OrdersModel(all: Seq[(Order, Boolean)]) {
  val rows = new java.util.TreeMap[Long, Order]()
  private val pool = ArrayBuffer.empty[Order]
  all.foreach { case (o, held) => if (held) pool += o else rows.put(o.key, o) }

  /** A live key, close to uniform. */
  def liveKey(r: Random): Long = {
    val probe = rows.firstKey + (r.nextDouble() * (rows.lastKey - rows.firstKey + 1)).toLong
    Option(rows.ceilingKey(probe)).orElse(Option(rows.floorKey(probe))).get
  }

  /** `n` distinct live keys. */
  def liveKeys(r: Random, n: Int): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    val want = math.min(n, rows.size)
    while (out.size < want) out += liveKey(r)
    out.toSeq
  }

  /** `n` pool rows, taken out of the pool (their keys are not live). */
  def takeNew(r: Random, n: Int): Seq[Order] = (0 until n).map { _ =>
    val i = r.nextInt(pool.size)
    val o = pool(i)
    pool(i) = pool.last
    pool.dropRightInPlace(1)
    o
  }

  /** A pool row to copy values from; it stays in the pool. */
  def donor(r: Random): Order = pool(r.nextInt(pool.size))

  def put(o: Order): Unit = rows.put(o.key, o)

  def remove(key: Long): Unit = pool += rows.remove(key)

  def values: Iterable[Order] = rows.values.asScala
}
