package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{IncrementalAgg, TableStore}

/** One change feed per maintain: a bucketed table's change feed diffs
  * bucket-locally, and `summaries.maintain` folds every summary attached
  * to the base from one materialized feed, each summary committing on
  * its own. */
class MaintainGroupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession.spark
  import spark.implicits._

  /** Queries over a change feed's diff join, by the join's struct alias. */
  private val feedQueries = new java.util.concurrent.atomic.AtomicInteger
  /** The executed plans of the store writes, while `capture` is on. */
  @volatile private var capture = false
  private val writes = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      if (qe.analyzed.toString.contains("__cdf_pre")) feedQueries.incrementAndGet()
      if (capture && f == "save") writes.add(qe.executedPlan)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  private def feedQueriesDuring(body: => Unit): Int = {
    org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
    val before = feedQueries.get
    body
    org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
    feedQueries.get - before
  }

  private def rows(ks: Seq[Long], salt: Long): DataFrame =
    ks.map(k => (k, s"g${k % 3}", k * 10 + salt)).toDF("k", "grp", "v")

  /** gen 1: keys 0..39 plus one NULL key (unless `nullKey` is off);
    * gen 2: an upsert over half the keys (some values unchanged) and new
    * keys; gen 3: a delete. `analyzed`: every commit auto-analyzes `k`. */
  private def history(store: TableStore, buckets: Int, nullKey: Boolean = true,
      analyzed: Boolean = false): Unit = {
    store.createTable("t", Seq("k" -> "bigint", "grp" -> "nvarchar(8)", "v" -> "bigint"), Seq("k"),
      buckets = buckets)
    if (analyzed) store.setAutoAnalyze("t", Seq("k"))
    store.insert("t", rows(0L until 40L, 0).unionByName(
      Seq((Option.empty[Long], "g0", 7L)).toDF("k", "grp", "v").filter(lit(nullKey))))
    store.upsert("t", rows((0L until 40L by 2) ++ (50L until 55L), 0)
      .withColumn("v", $"v" + ($"k" % 4)))
    store.delete("t", Seq(1L, 3L, 50L).toDF("k"))
  }

  test("a bucketed change feed between same-layout generations plans no shuffle; NULL keys match") {
    val local = new TableStore(spark, Files.createTempDirectory("graft_cdf_local_").toString)
    val flat = new TableStore(spark, Files.createTempDirectory("graft_cdf_flat_").toString)
    history(local, 4)
    history(flat, 0)
    for ((from, to) <- Seq((1, 2), (2, 3), (1, 3))) {
      val feed = local.readChanges("t", from, to)
      Equality.compareDfs(feed, flat.readChanges("t", from, to))
      val shuffles = collect(feed.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"$from→$to shuffles:\n${feed.queryExecution.executedPlan}")
      // the NULL-key row is rewritten unchanged with its bucket: no change
      assert(feed.filter($"k".isNull).isEmpty, s"$from→$to: the NULL key row shows up as a change")
    }
    // the upsert changes the value of the even keys ≡ 2 (mod 4) only
    assert(local.readChanges("t", 1, 2).filter($"_change_type" === "update_postimage").count() == 10)
  }

  test("the NULL-key branch is planned exactly when the stats sidecar cannot rule NULL keys out") {
    // the plan as planned: adaptive execution drops a join whose sides
    // both turn out empty
    def nestedLoops(feed: DataFrame): Int =
      collect(feed.queryExecution.executedPlan) { case j: BroadcastNestedLoopJoinExec => j }.size
    // analyzed, with a NULL key: the branch stays
    val withNull = new TableStore(spark, Files.createTempDirectory("graft_cdf_nk_").toString)
    history(withNull, 4, analyzed = true)
    assert(nestedLoops(withNull.readChanges("t", 1, 3)) == 1)
    // not analyzed: the branch stays; analyzed with no NULL key: it goes
    val unknown = new TableStore(spark, Files.createTempDirectory("graft_cdf_nu_").toString)
    history(unknown, 4, nullKey = false)
    assert(nestedLoops(unknown.readChanges("t", 1, 3)) == 1)
    val noNull = new TableStore(spark, Files.createTempDirectory("graft_cdf_nn_").toString)
    history(noNull, 4, nullKey = false, analyzed = true)
    val feed = noNull.readChanges("t", 1, 3)
    assert(nestedLoops(feed) == 0)
    val flat = new TableStore(spark, Files.createTempDirectory("graft_cdf_nnf_").toString)
    history(flat, 0, nullKey = false)
    Equality.compareDfs(feed, flat.readChanges("t", 1, 3))
  }

  private def newBase(audit: String => Unit = _ => ()): Graft = {
    val g = Graft(spark, Files.createTempDirectory("graft_mgroup_").toString, audit = audit)
    g.create.table("base", Seq("k" -> "bigint", "grp" -> "nvarchar(8)", "v" -> "decimal(18,2)"),
      primaryKey = Seq("k"), buckets = 4)
    g.write.insert("base", rows(0L until 30L, 0))
    g
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.collect().map(_.toString).toSeq.sorted == b.collect().map(_.toString).toSeq.sorted

  private def changeBase(g: Graft): Unit = {
    g.write.merge("base", rows((0L until 30L by 3) ++ (40L until 44L), 5), upsert = true)
    g.write.delete("base", Seq(2L, 4L).toDF("k"))
  }

  test("one maintain folds every attached summary of the base from one feed") {
    val g = newBase()
    try {
      g.summaries.define("s_multi", "base", Seq("grp"), Seq("v"), kind = "multi")
      g.summaries.define("s_minmax", "base", Seq("grp"), Seq("v"), kind = "minmax")
      changeBase(g)
      assert(feedQueriesDuring(g.summaries.maintain("s_multi")) == 1, "the feed is computed once")
      val base = g.read.table("base")
      assert(sameRows(g.read.table("s_multi"), IncrementalAgg.summarizeMulti(base, Seq("grp"), Seq("v"))))
      assert(sameRows(g.read.table("s_minmax"), IncrementalAgg.summarizeMinMax(base, Seq("grp"), "v")))
      for (s <- Seq("s_multi", "s_minmax")) {
        val st = g.summaries.status(s)
        assert(st("fresh") == "true", s)
        assert(st("fold_feed_rows").toLong > 0, s"$s: $st")
        assert(st("fold_ms").toLong >= 0, s"$s: $st")
      }
      // a delete touched minmax groups: they were rescanned; multi never rescans
      assert(g.summaries.status("s_minmax")("fold_rescanned_groups").toLong > 0)
      assert(g.summaries.status("s_multi")("fold_rescanned_groups") == "0")
      // the sibling is already fresh: its own maintain is a watermark check
      assert(feedQueriesDuring(g.summaries.maintain("s_minmax")) == 0)
    } finally { g.summaries.detach("base"); g.close() }
  }

  test("a summary commit keeps the fold's partitioning: no exchange over the fold output") {
    val g = newBase()
    try {
      g.summaries.define("s_multi", "base", Seq("grp"), Seq("v"), kind = "multi")
      g.summaries.define("s_minmax", "base", Seq("grp"), Seq("v"), kind = "minmax")
      changeBase(g)
      org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
      writes.clear(); capture = true
      try g.summaries.maintain("s_multi") finally {
        org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
        capture = false
      }
      val plans = writes.toArray.toSeq.map(_.asInstanceOf[org.apache.spark.sql.execution.SparkPlan])
      assert(plans.size == 2, "one commit per summary")
      // the dup-key guard groups the renamed source keys (`__src_grp`):
      // a shuffle by them would re-exchange the fold output
      for (p <- plans) {
        val bySource = collect(p) { case ShuffleExchangeExec(h: HashPartitioning, _, _, _)
          if h.references.exists(_.name.startsWith("__src_")) => h }
        assert(bySource.isEmpty, s"shuffle over the fold output:\n$p")
      }
      assert(sameRows(g.read.table("s_multi"),
        IncrementalAgg.summarizeMulti(g.read.table("base"), Seq("grp"), Seq("v"))))
    } finally { g.summaries.detach("base"); g.close() }
  }

  test("a sibling's failed fold is audited and leaves it stale; the named summary is maintained") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val g = newBase(m => { log.add(m); () })
    try {
      g.summaries.define("s_ok", "base", Seq("grp"), Seq("v"), kind = "multi")
      g.summaries.define("s_bad", "base", Seq("grp"), Seq("v"), kind = "minmax")
      // a summary table the fold cannot read back: its stored counts are gone
      new TableStore(spark, g.root).dropColumn("s_bad", "n_rows")
      changeBase(g)
      g.summaries.maintain("s_ok")
      assert(g.summaries.status("s_ok")("fresh") == "true")
      assert(sameRows(g.read.table("s_ok"),
        IncrementalAgg.summarizeMulti(g.read.table("base"), Seq("grp"), Seq("v"))))
      assert(g.summaries.status("s_bad")("fresh") == "false")
      assert(log.toArray.exists(_.toString.contains("maintain of s_bad")), log.toArray.mkString("\n"))
      // the named summary's own failure is thrown
      assertThrows[Exception](g.summaries.maintain("s_bad"))
    } finally { g.summaries.detach("base"); g.close() }
  }
}
