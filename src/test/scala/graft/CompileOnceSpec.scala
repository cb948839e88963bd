package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** A steady-state process compiles each plan shape once: after one warm
  * pass of a keyed sequence, a second pass with other keys and range
  * bounds compiles no class. The count is the JVM-wide number of Janino
  * compiles (`CodegenMetrics`), so this suite must not share the JVM
  * with suites running in parallel. */
class CompileOnceSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def rows(s: SparkSession, ks: Seq[Long], salt: Int): DataFrame = {
    import s.implicits._
    ks.map(k => (k, s"g${k % 3}", java.sql.Date.valueOf(LocalDate.ofEpochDay(18000 + k % 50)),
      BigDecimal(k * 10 + salt))).toDF("k", "grp", "d", "v")
  }

  /** A 4-bucket keyed table, auto-analyzed on key and date, with a
    * `multi` and a `minmax` summary. */
  private def base(s: SparkSession): Graft = {
    val g = Graft(s, Files.createTempDirectory("graft_compile_once_").toString)
    g.create.table("t", Seq("k" -> "bigint", "grp" -> "nvarchar(8)", "d" -> "date",
      "v" -> "decimal(18,2)"), primaryKey = Seq("k"), buckets = 4)
    g.maintenance.autoAnalyze("t", Seq("k", "d"))
    g.write.insert("t", rows(s, 0L until 200L, 0))
    g.summaries.define("t_multi", "t", Seq("grp"), Seq("v"), kind = "multi")
    g.summaries.define("t_minmax", "t", Seq("grp"), Seq("v"), kind = "minmax")
    g
  }

  /** insert, upsert, update, delete, applyChanges, one maintain of both
    * summaries, then point, range and projected reads; pass `p` uses its
    * own keys, dates and bounds. Each read prunes alike in every pass:
    * the point read keeps one bucket, the range and the date window keep
    * every file. A read that keeps every file scans the whole generation,
    * which is another plan shape than a pruned subset. */
  private def pass(s: SparkSession, g: Graft, p: Int): Unit = {
    val o = 40L * p
    g.write.insert("t", rows(s, (0L until 10L).map(_ + 10000 + 1000 * p), p))
    g.write.merge("t", rows(s, (o until o + 10) ++ (20000L + 1000 * p until 20005L + 1000 * p), p),
      upsert = true)
    g.write.update("t", rows(s, o + 10 until o + 15, p + 1).select("k", "v"))
    g.write.delete("t", rows(s, o + 20 until o + 25, 0).select("k"))
    g.write.applyChanges("t",
      rows(s, (o + 25 until o + 30) ++ (30000L + 1000 * p until 30003L + 1000 * p), p)
        .withColumn("_del", lit(false))
        .unionByName(rows(s, o + 30 until o + 33, 0).withColumn("_del", lit(true))),
      "_del")
    g.summaries.maintain("t_multi")
    g.summaries.maintain("t_minmax")
    assert(g.read.table("t", where = Some(s"k = ${o + 5}")).count() == 1)
    assert(g.read.table("t", where = Some(s"k >= ${o + 50} and k < ${o + 60}")).count() == 10)
    val d0 = LocalDate.ofEpochDay(18000 + 5 * p)
    g.read.table("t", columns = Seq("v", "d"),
      where = Some(s"d >= '$d0' and d < '${d0.plusDays(20)}' and grp = 'g${p % 3}'"),
      orderBy = Seq("v", "k"), orderDesc = true, limit = Some(5)).collect()
  }

  /** Compiles of a second pass, after a warm first pass. */
  private def secondPassCompiles(s: SparkSession): Long = {
    val g = base(s)
    try {
      pass(s, g, 0)
      val before = compiles
      pass(s, g, 1)
      compiles - before
    } finally { g.summaries.detach("t"); g.close() }
  }

  test("after a warm pass, a keyed pass with other keys and bounds compiles no class") {
    assert(secondPassCompiles(spark) == 0)
  }

  test("without hoisted filter literals the cache alone recompiles per key") {
    // a session sharing the SparkContext, and so the cache size, but
    // built without graft's session extensions (the shared session is
    // built first, so the context carries its configuration)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val plain = SparkSession.builder().create()
    try assert(secondPassCompiles(plain) > 0)
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
