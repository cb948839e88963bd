package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FileStats, TableStore}

/** Stats ride the write: on an auto-analyzed table every commit path's
  * write job collects the per-file entries `analyze` would compute, and
  * the commit merges them into the sidecar with no job of its own. Each
  * case runs the commit paths in turn and, after each, checks that the
  * sidecar equals a fresh `analyze(incremental = false)` entry for entry
  * and that no analyze scan ran. */
class WriteStatsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val cols = Seq("k", "d", "s", "dt", "ts", "dto", "z")
  private val schema = Seq("k" -> "bigint", "d" -> "decimal(18,2)", "s" -> "nvarchar(20)",
    "dt" -> "date", "ts" -> "datetime2", "dto" -> "datetimeoffset", "z" -> "int")

  /** Rows k ∈ ks; `z` is NULL everywhere (the all-NULL column), `s` and
    * `dto` NULL on every seventh key. */
  private def rows(ks: Seq[Long], salt: Int = 0): DataFrame =
    ks.map { k =>
      (k, BigDecimal(k * 37 % 1000 + salt) / 100, if (k % 7 == 0) None else Some(s"s${(k * 13 + salt) % 50}"),
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(k % 400 + salt)),
        java.time.LocalDateTime.of(2021, 3, 1, 0, 0).plusMinutes(k * 91 + salt),
        if (k % 7 == 0) None else Some(f"2022-05-0${1 + k % 5} 1${k % 10}:00:00.000000 +0${k % 3}:00"))
    }.toDF("k", "d", "s", "dt", "ts", "dto")
      .withColumn("z", lit(null).cast("int"))

  /** Scans `analyze` runs: a query over `input_file_name()`. */
  private val analyzeScans = new java.util.concurrent.atomic.AtomicInteger
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.analyzed.toString.contains("input_file_name")) analyzeScans.incrementAndGet()
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  private def scansDuring(body: => Unit): Int = {
    org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
    val before = analyzeScans.get
    body
    org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
    analyzeScans.get - before
  }

  for (buckets <- Seq(0, 4); bloomBits <- Seq(0, 256))
    test(s"write-job stats equal a fresh analyze on every commit path ($buckets buckets, bloom $bloomBits)") {
      val root = Files.createTempDirectory("graft_wstats_").toString
      val store = new TableStore(spark, root)
      val sidecar = new Path(root, "t/stats.json")
      val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      store.createTable("t", schema, Seq("k"), buckets = buckets)
      store.setAutoAnalyze("t", cols, bloomBits)
      val ops: Seq[(String, () => Unit)] = Seq(
        "insert" -> (() => store.insert("t", rows(0L until 40L))),
        "empty insert" -> (() => store.insert("t", rows(Nil))),
        "upsert" -> (() => store.upsert("t", rows((30L until 45L), salt = 3))),
        "update" -> (() => store.update("t", rows(Seq(2L, 9L), salt = 5).select("k", "d", "s"))),
        "delete" -> (() => store.delete("t", Seq(1L, 14L).toDF("k"))),
        "applyChanges" -> (() => store.applyChanges("t",
          rows(Seq(3L, 50L), salt = 7).withColumn("_del", lit(false))
            .unionByName(rows(Seq(4L)).withColumn("_del", lit(true))), "_del")),
        "merge" -> (() => store.merge("t", rows(Seq(5L, 60L), salt = 11))),
        "compact" -> (() => store.compact("t")),
        "rebucket" -> (() => store.rebucket("t", if (buckets > 0) 0 else 3)))
      ops.foreach { case (op, run) =>
        assert(scansDuring(run()) == 0, s"$op: the commit ran an analyze scan")
        val written = FileStats.read(fs, sidecar).get
        // the guard above can see a scan: a full analyze is one
        assert(scansDuring(store.analyze("t", cols, bloomBits = bloomBits)) > 0)
        val fresh = FileStats.read(fs, sidecar).get
        assert(fresh.nonEmpty)
        fresh.foreach { case (rel, st) =>
          assert(written.get(rel).contains(st), s"$op, $rel:\n write job ${written.get(rel)}\n analyze   $st")
        }
      }
      if (buckets == 0) {
        val all = FileStats.read(fs, sidecar).get
        assert(all.values.exists(_.rows == 0), "the empty batch's file has an entry")
        assert(all.values.exists(st => st.rows > 0 && st.cols("z").nulls == st.rows))
      }
    }
}
