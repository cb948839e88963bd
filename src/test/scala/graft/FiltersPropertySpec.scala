package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.HoistedLiteral

/** Differential property test for the where-parser (C7): random
  * predicate trees are rendered to filter strings and parsed back;
  * the parsed Column must select exactly the rows the directly-built
  * Column selects, across AND/OR precedence, nested parens, NOT
  * variants, quoted literals with embedded quotes/keywords, and NULL
  * semantics. A seeded RNG keeps failures reproducible.
  *
  * The hoisted-literal inputs check that a filter whose literals read
  * from the generated class's `references` (`graft.plans.HoistedLiteral`)
  * selects exactly the rows Spark's comparison semantics select,
  * computed here in Scala, for every hoisted type and edge value. */
class FiltersPropertySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession.spark
  import spark.implicits._

  private val df = {
    val rows = (0 until 200).map { i =>
      val s = i % 7 match {
        case 0 => "alpha"
        case 1 => "it's"            // embedded quote
        case 2 => "we like it"      // embedded keyword LIKE
        case 3 => "in and or"       // embedded keywords
        case 4 => "Beta"
        case 5 => null
        case _ => s"v$i"
      }
      (i, if (i % 11 == 0) None else Some(i * 3 % 97), s)
    }
    rows.toDF("k", "m", "s")
  }

  // leaf pool: (rendered fragment, equivalent Column)
  private val leaves: Seq[(String, Column)] = Seq(
    ("k > 100", col("k") > 100),
    ("k <= 42", col("k") <= 42),
    ("k <> 7", col("k") =!= 7),
    ("k != 13", col("k") =!= 13),
    ("k !> 150", col("k") <= 150),
    ("k !< 50", col("k") >= 50),
    ("m IS NULL", col("m").isNull),
    ("m IS NOT NULL", col("m").isNotNull),
    ("m >= 48", col("m") >= 48),
    ("s = 'it''s'", col("s") === "it's"),
    ("s = 'we like it'", col("s") === "we like it"),
    ("s = 'in and or'", col("s") === "in and or"),
    ("s LIKE 'a%'", col("s").like("a%")),
    ("s NOT LIKE 'v%'", !col("s").like("v%")),
    ("s IN ('alpha', 'Beta', 'it''s')", col("s").isin("alpha", "Beta", "it's")),
    ("k IN (1, 2, 3, 50, 51)", col("k").isin(1, 2, 3, 50, 51)),
    ("k NOT IN (10, 20)", !col("k").isin(10, 20)))

  private def keys(c: Column): Seq[Int] =
    df.filter(c).select("k").as[Int].collect().sorted.toSeq

  test("random predicate trees parse to the same row set as direct Columns") {
    val rnd = new scala.util.Random(42)
    def gen(depth: Int): (String, Column) = {
      if (depth == 0 || rnd.nextInt(3) == 0) leaves(rnd.nextInt(leaves.length))
      else {
        val (ls, lc) = gen(depth - 1)
        val (rs, rc) = gen(depth - 1)
        val (op, oc) = if (rnd.nextBoolean()) ("AND", lc && rc) else ("OR", lc || rc)
        // compound children are always parenthesized so the rendered
        // string's structure matches the built tree exactly; the
        // flat-string precedence rule has its own dedicated test below
        (s"($ls $op $rs)", oc)
      }
    }
    (1 to 200).foreach { i =>
      val (str, expect) = gen(3)
      val got = Filters.parseWhere(df, str)
      // string-rendered trees without parens bind AND tighter than OR,
      // exactly like the Column operators — so the row sets must agree
      assert(keys(got) == keys(expect), s"iteration $i diverged for: $str")
    }
  }

  test("operator precedence: AND binds tighter than OR in flat strings") {
    val c = Filters.parseWhere(df, "k <= 42 OR k > 100 AND s LIKE 'v%'")
    val expect = col("k") <= 42 || (col("k") > 100 && col("s").like("v%"))
    assert(keys(c) == keys(expect))
  }

  // ---- hoisted filter literals -------------------------------------

  /** Spark's order on doubles: NaN above everything and equal to
    * itself, -0.0 equal to 0.0. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a.isNaN || b.isNaN) java.lang.Boolean.compare(a.isNaN, b.isNaN)
    else if (a == b) 0 else if (a < b) -1 else 1

  /** One hoisted type: its edge values (the literals and part of the
    * data) and a random value source, both as Scala values of the
    * Row's external type, and their order. */
  private case class Typed(dt: DataType, edges: Seq[Any], rnd: scala.util.Random => Any,
      cmp: (Any, Any) => Int)

  private val typed: Seq[Typed] = Seq(
    Typed(BooleanType, Seq(false, true), _.nextBoolean(),
      (a, b) => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])),
    Typed(ByteType, Seq(Byte.MinValue, (-1).toByte, 0.toByte, 42.toByte, Byte.MaxValue),
      r => r.nextInt(256).-(128).toByte, (a, b) => a.asInstanceOf[Byte].compare(b.asInstanceOf[Byte])),
    Typed(ShortType, Seq(Short.MinValue, (-1).toShort, 0.toShort, 7.toShort, Short.MaxValue),
      r => r.nextInt(65536).-(32768).toShort,
      (a, b) => a.asInstanceOf[Short].compare(b.asInstanceOf[Short])),
    Typed(IntegerType, Seq(Int.MinValue, -1, 0, 123456, Int.MaxValue), _.nextInt(),
      (a, b) => a.asInstanceOf[Int].compare(b.asInstanceOf[Int])),
    Typed(LongType, Seq(Long.MinValue, -1L, 0L, 35461L, Long.MaxValue), _.nextLong(),
      (a, b) => a.asInstanceOf[Long].compare(b.asInstanceOf[Long])),
    Typed(FloatType, Seq(Float.NaN, Float.NegativeInfinity, Float.MinValue, -1.5f, -0.0f, 0.0f,
      Float.MinPositiveValue, Float.MaxValue, Float.PositiveInfinity), r => (r.nextFloat() - 0.5f) * 1e6f,
      (a, b) => cmpDouble(a.asInstanceOf[Float].toDouble, b.asInstanceOf[Float].toDouble)),
    Typed(DoubleType, Seq(Double.NaN, Double.NegativeInfinity, Double.MinValue, -2.5, -0.0, 0.0,
      Double.MinPositiveValue, Double.MaxValue, Double.PositiveInfinity), r => (r.nextDouble() - 0.5) * 1e12,
      (a, b) => cmpDouble(a.asInstanceOf[Double], b.asInstanceOf[Double])),
    // 0001-01-01, 1900-03-01, 1969-12-31, 1970-01-01, 9999-12-31
    Typed(DateType, Seq(-719162L, -25508L, -1L, 0L, 2932896L).map(LocalDate.ofEpochDay),
      r => LocalDate.ofEpochDay(r.nextInt(80000) - 40000L),
      (a, b) => a.asInstanceOf[LocalDate].compareTo(b.asInstanceOf[LocalDate])),
    Typed(TimestampType, Seq(Instant.parse("0001-01-01T00:00:00Z"),
      Instant.parse("1969-12-31T23:59:59.999999Z"), Instant.EPOCH, Instant.parse("1900-06-15T12:30:00.5Z"),
      Instant.parse("9999-12-31T23:59:59.999999Z")),
      r => Instant.EPOCH.plusSeconds(r.nextInt() * 2L).plusNanos(r.nextInt(1000000) * 1000L),
      (a, b) => a.asInstanceOf[Instant].compareTo(b.asInstanceOf[Instant])))

  /** 120 rows: row `i` of column `c<j>` holds an edge value, a random
    * value or NULL. */
  private lazy val typedRows: Seq[Seq[Any]] = {
    val r = new scala.util.Random(7)
    (0 until 120).map { _ =>
      typed.map { t =>
        r.nextInt(4) match {
          case 0 => null
          case 1 => t.rnd(r)
          case _ => t.edges(r.nextInt(t.edges.size))
        }
      }
    }
  }

  /** The rows behind an RDD scan: a local relation would be filtered by
    * the optimizer, not by a FilterExec. Each row is repeated per op tag. */
  private lazy val typedDf = {
    val schema = StructType(StructField("id", IntegerType) +: StructField("op", IntegerType) +:
      typed.indices.map(j => StructField(s"c$j", typed(j).dt)))
    val rows = for ((vs, i) <- typedRows.zipWithIndex; op <- 0 until 7) yield Row.fromSeq(i +: op +: vs)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private val ops: Seq[(Column, Column) => Column] = Seq(
    _ === _, _ < _, _ <= _, _ > _, _ >= _, _ <=> _, _ =!= _)

  /** Spark's verdict of op `k` for a (possibly NULL) value against a
    * non-NULL literal; NULL counts as not selected. */
  private def verdict(t: Typed, k: Int, v: Any, l: Any): Boolean =
    if (v == null) false
    else {
      val c = t.cmp(v, l)
      Seq(c == 0, c < 0, c <= 0, c > 0, c >= 0, c == 0, c != 0)(k)
    }

  private def hoisted(df: org.apache.spark.sql.DataFrame): Seq[DataType] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec =>
      f.condition.collect { case h: HoistedLiteral => h.dataType }
    }.flatten

  test("hoisted filter literals select the rows Spark's comparison semantics select") {
    for ((t, j) <- typed.zipWithIndex; l <- t.edges) {
      val c = col(s"c$j")
      val cond = ops.zipWithIndex.map { case (op, k) => op(c, lit(l)) && col("op") === k }.reduce(_ || _)
      val df = typedDf.filter(cond).select("id", "op")
      val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val want = (for ((vs, i) <- typedRows.zipWithIndex; k <- ops.indices
        if verdict(t, k, vs(j), l)) yield (i, k)).toSet
      assert(got == want, s"${t.dt} against $l: got-want ${got -- want}, want-got ${want -- got}")
      assert(hoisted(df).contains(t.dt), s"${t.dt} literal $l not hoisted:\n${df.queryExecution.executedPlan}")
    }
  }

  test("hoisted IN lists below the InSet threshold select the rows Spark's equality selects") {
    for ((t, j) <- typed.zipWithIndex) {
      val list = t.edges.take(3)
      val df = typedDf.filter(col(s"c$j").isin(list: _*) && col("op") === 0).select("id")
      assert(df.queryExecution.optimizedPlan.toString.contains(" IN ("), "still an In, not an InSet")
      val got = df.collect().map(_.getInt(0)).toSet
      val want = typedRows.zipWithIndex.collect {
        case (vs, i) if vs(j) != null && list.exists(l => t.cmp(vs(j), l) == 0) => i
      }.toSet
      assert(got == want, s"${t.dt} IN $list: got-want ${got -- want}, want-got ${want -- got}")
      assert(hoisted(df).contains(t.dt), s"${t.dt} IN list not hoisted")
    }
  }
}
