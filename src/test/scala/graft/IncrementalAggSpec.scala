package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{IncrementalAgg, TableStore}

/** C41: the maintained summary must be bit-identical to a full
  * recompute of the final base state after every batch — that is the
  * whole contract. */
class IncrementalAggSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def newStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft_incr_").toString)

  private def recompute(store: TableStore) =
    IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v")
      .orderBy("g").collect().toSeq

  private def maintained(store: TableStore) =
    store.readTable("summary", orderBy = Seq("g")).collect().toSeq

  test("summary follows inserts, value updates, deletes and group death batch by batch") {
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    var gen = store.snapshots("base").last._1

    // batch 1: value update (k=1), new key in an existing group (k=4),
    // new group entirely (k=5)
    store.upsert("base",
      Seq((1L, "a", 15.5), (4L, "b", 40.0), (5L, "c", 50.0)).toDF("k", "g", "v"))
    var next = store.snapshots("base").last._1
    IncrementalAgg.maintain(store, "base", "summary", Seq("g"), "v", gen, next)
    assert(maintained(store) == recompute(store))
    gen = next

    // batch 2: delete k=3 and k=4 — group b dies, its summary row must go
    store.delete("base", Seq(3L, 4L).toDF("k"))
    next = store.snapshots("base").last._1
    IncrementalAgg.maintain(store, "base", "summary", Seq("g"), "v", gen, next)
    assert(maintained(store) == recompute(store))
    assert(!maintained(store).exists(_.getString(0) == "b"), "dead group must be deleted")
    gen = next

    // batch 3: a row MOVES groups (update changes g) — −1 on the old
    // group, +1 on the new, both from the same pre/post image pair
    store.upsert("base", Seq((5L, "a", 50.0)).toDF("k", "g", "v"))
    next = store.snapshots("base").last._1
    IncrementalAgg.maintain(store, "base", "summary", Seq("g"), "v", gen, next)
    assert(maintained(store) == recompute(store))
    assert(!maintained(store).exists(_.getString(0) == "c"), "emptied source group must go")
  }

  test("a pure rewrite (compaction) produces an empty feed and commits nothing") {
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "g", "v"), Seq("k"), infer = false)
    store.insert("base", Seq((3L, "b", 3.0)).toDF("k", "g", "v"))
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    val gen = store.snapshots("base").last._1
    store.compact("base")
    val next = store.snapshots("base").last._1
    assert(next > gen, "compaction must commit a base generation")
    val summaryGens = store.snapshots("summary").size
    IncrementalAgg.maintain(store, "base", "summary", Seq("g"), "v", gen, next)
    assert(store.snapshots("summary").size == summaryGens,
      "an empty change feed must not commit to the summary")
    assert(maintained(store) == recompute(store))
  }

  test("maintenance with group deaths is ONE summary commit (no stale-dead window)") {
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"), Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    val gen = store.snapshots("base").last._1
    // one batch that both updates a live group AND kills another
    store.upsert("base", Seq((1L, "a", 11.0)).toDF("k", "g", "v"))
    store.delete("base", Seq(2L).toDF("k"))
    val next = store.snapshots("base").last._1
    val summaryGens = store.snapshots("summary").size
    IncrementalAgg.maintain(store, "base", "summary", Seq("g"), "v", gen, next)
    assert(store.snapshots("summary").size == summaryGens + 1,
      "upsert-live + delete-dead must be one atomic commit, not two")
    assert(maintained(store) == recompute(store))
  }

  test("maintainToCurrent survives a crash at every protocol point (S36 replay contract)") {
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0)).toDF("k", "g", "v"), Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)

    // crash point 1: base committed, maintenance never ran — the next
    // call folds the backlog (TWO base generations) from the watermark
    store.upsert("base", Seq((2L, "a", 20.0)).toDF("k", "g", "v"))
    store.upsert("base", Seq((3L, "b", 30.0)).toDF("k", "g", "v"))
    IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g"), "v")
    assert(maintained(store) == recompute(store))

    // crash point 2: intent written, maintenance commit never landed —
    // recovery drops the intent and refolds the same range exactly once
    store.upsert("base", Seq((4L, "b", 40.0)).toDF("k", "g", "v"))
    val cur = store.snapshots("base").last._1
    store.setProperties("summary", Map(
      "graft.maint.base.pending" -> cur.toString,
      "graft.maint.base.sgen" -> store.snapshots("summary").last._1.toString))
    IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g"), "v")
    assert(maintained(store) == recompute(store))
    assert(IncrementalAgg.maintainedGen(store, "base", "summary").contains(cur))

    // crash point 3: maintenance committed, watermark never advanced —
    // the intent record decides it landed; the delta is NOT re-applied
    store.upsert("base", Seq((5L, "c", 50.0)).toDF("k", "g", "v"))
    val sgenBefore = store.snapshots("summary").last._1
    IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g"), "v")
    val afterGen = store.snapshots("base").last._1
    // wind the clock back to just after the commit: pending present,
    // summary generation advanced past the recorded one
    store.setProperties("summary", Map(
      "graft.maint.base.pending" -> afterGen.toString,
      "graft.maint.base.sgen" -> sgenBefore.toString,
      "graft.maint.base.applied" -> (afterGen - 1).toString))
    IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g"), "v")
    assert(maintained(store) == recompute(store),
      "a committed delta must not be applied twice")
    assert(IncrementalAgg.maintainedGen(store, "base", "summary").contains(afterGen))

    // streaming replay: re-upserting the same rows yields a
    // self-cancelling feed diff — folding a range that spans it is exact
    store.upsert("base", Seq((5L, "c", 50.0)).toDF("k", "g", "v"))
    IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g"), "v")
    assert(maintained(store) == recompute(store))
  }

  test("C44: matching aggregates rewrite onto the FRESH summary and stand down when stale or reshaped") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 5.0)).toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
    try {
      def q = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").cast(DecimalType(18, 2))).as("sum_val"))
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def expect() = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").cast(DecimalType(18, 2))).as("sum_val"))
        .orderBy("g").collect().toSeq

      // fresh: the aggregate reads the SUMMARY, never the base scan
      assert(scanPaths(q).forall(_.contains("summary")),
        s"expected a summary-only plan: ${q.queryExecution.optimizedPlan}")
      assert(q.orderBy("g").collect().toSeq == expect())

      // stale: a base commit without maintenance makes the rule stand
      // down — plain aggregate over the base, still correct
      store.upsert("base", Seq((4L, "b", 7.0)).toDF("k", "g", "v"))
      assert(scanPaths(q).exists(_.contains("base")),
        "a stale summary must never be served")
      assert(q.orderBy("g").collect().toSeq == expect())

      // maintenance catches up → rewrite resumes, rows track the base
      IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g"), "v")
      assert(scanPaths(q).forall(_.contains("summary")))
      assert(q.orderBy("g").collect().toSeq == expect())

      // the rewrite serves SQL-text queries too: a view over the base
      // read bottoms at the same scan, so C34's sql() surface benefits
      store.readTable("base").createOrReplaceTempView("c44_base")
      val viaSql = spark.sql(
        "SELECT g, count(1) AS n_rows, sum(CAST(v AS DECIMAL(18,2))) AS sum_val " +
          "FROM c44_base GROUP BY g")
      assert(scanPaths(viaSql).forall(_.contains("summary")),
        s"SQL-text aggregate not rewritten: ${viaSql.queryExecution.optimizedPlan}")
      assert(viaSql.orderBy("g").collect().toSeq == expect())

      // a VALUE-column filter cannot be answered from the summary
      val filtered = store.readTable("base").filter(col("v") > 6.0).groupBy("g")
        .agg(count(lit(1)).as("n_rows"))
      assert(scanPaths(filtered).exists(_.contains("base")))

      // avg over the raw DOUBLE column is a float sum, not the
      // summary's exact decimal — never rewritten
      val other = store.readTable("base").groupBy("g").agg(avg(col("v")).as("m"))
      assert(scanPaths(other).exists(_.contains("base")))

      // a FILTER-clause aggregate ranges over different rows than the
      // summary was maintained from — must stand down (and DISTINCT too)
      for (shape <- Seq(
          "count(1) FILTER (WHERE v > 6.0) AS n_rows",
          "sum(CAST(v AS DECIMAL(18,2))) FILTER (WHERE k > 1) AS sum_val",
          "avg(CAST(v AS DECIMAL(18,2))) FILTER (WHERE v > 6.0) AS m",
          "count(DISTINCT v) AS n_rows")) {
        val fq = spark.sql(s"SELECT g, $shape FROM c44_base GROUP BY g")
        assert(scanPaths(fq).exists(_.contains("base")),
          s"'$shape' must not be served from the summary: ${fq.queryExecution.optimizedPlan}")
      }

      // a GROUP-column filter IS answerable: groups are atomic under
      // it, so the summary rows are filtered instead — and the rows
      // must equal the plain aggregate's
      def gFiltered = store.readTable("base").filter(col("g") =!= "zzz")
        .groupBy("g").agg(count(lit(1)).as("n_rows"),
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("sum_val"))
      assert(scanPaths(gFiltered).forall(_.contains("summary")),
        s"group-column filter should rewrite: ${gFiltered.queryExecution.optimizedPlan}")
      assert(gFiltered.orderBy("g").collect().toSeq == expect())

      // avg over the summarize-shaped decimal cast IS answerable as
      // sum_val/n_rows — served through Average's own expression tree,
      // so the values are bit-identical to the plain aggregate's
      def avgQ = store.readTable("base").groupBy("g")
        .agg(avg(col("v").cast(DecimalType(18, 2))).as("m"))
      assert(scanPaths(avgQ).forall(_.contains("summary")),
        s"decimal avg should rewrite: ${avgQ.queryExecution.optimizedPlan}")
      SummaryRewrite.unregister(store, "base")
      val rawAvg = store.readTable("base").groupBy("g")
        .agg(avg(col("v").cast(DecimalType(18, 2))).as("m"))
        .orderBy("g").collect().toSeq
      SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
      assert(avgQ.orderBy("g").collect().toSeq == rawAvg)

      // a LOSSY cast feeding the aggregate breaks faithfulness —
      // decimal(10,0) truncates cents, so the sum ranges over
      // different values than the summary holds (a count-only
      // aggregate over the same plan is still rewritable: pruning
      // drops the cast column entirely)
      val lossy = store.readTable("base")
        .withColumn("v", col("v").cast(DecimalType(10, 0)))
        .groupBy("g")
        .agg(sum(col("v").cast(DecimalType(18, 2))).as("sum_val"))
      assert(scanPaths(lossy).exists(_.contains("base")),
        s"lossy cast must stand down: ${lossy.queryExecution.optimizedPlan}")

      // HAVING composes for free: a filter ABOVE the aggregate sits on
      // the rewritten Project's preserved exprIds, so it filters the
      // summary-served rows
      def having = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").cast(DecimalType(18, 2))).as("sum_val"))
        .filter(col("n_rows") >= 2)
      assert(scanPaths(having).forall(_.contains("summary")),
        s"HAVING should compose over the rewrite: ${having.queryExecution.optimizedPlan}")
      assert(having.orderBy("g").collect().toSeq ==
        expect().filter(_.getLong(1) >= 2))

      // consecutive compiles hit the store's freshness probe ONCE —
      // the cache is invalidated by commits, not by compiles
      val before = SummaryRewrite.freshnessProbes.get()
      q.queryExecution.optimizedPlan
      q.queryExecution.optimizedPlan
      gFiltered.queryExecution.optimizedPlan
      val missesAcrossCompiles = SummaryRewrite.freshnessProbes.get() - before
      assert(missesAcrossCompiles <= 1,
        s"expected at most one store probe across compiles, saw $missesAcrossCompiles")
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44: SUBSET groupings re-aggregate the summary — finer rollup serves coarser queries") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", "x", 10.0), (2L, "b", "x", 20.0), (3L, "a", "y", 5.0),
        (4L, "b", "y", 7.25), (5L, "a", "x", 2.5)).toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g", "h"), "v"),
      Seq("g", "h"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def raw[T](mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
        SummaryRewrite.unregister(store, "base")
        val r = mk.collect().toSeq.map(_.toString)
        SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
        r
      }
      // coarser grouping (g ⊂ {g,h}): count/sum/avg all served
      def byG = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("m"))
        .orderBy("g")
      assert(scanPaths(byG).forall(_.contains("summary")),
        s"subset grouping should rewrite: ${byG.queryExecution.optimizedPlan}")
      assert(byG.collect().toSeq.map(_.toString) == raw(byG))
      // GLOBAL aggregate (empty grouping) — one row from the rollup
      def global = store.readTable("base")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("m"))
      assert(scanPaths(global).forall(_.contains("summary")),
        s"global aggregate should rewrite: ${global.queryExecution.optimizedPlan}")
      assert(global.collect().toSeq.map(_.toString) == raw(global))
      // subset grouping + filter on ANY summary group column composes
      def filtered = store.readTable("base").filter(col("h") === "x")
        .groupBy("g").agg(count(lit(1)).as("n")).orderBy("g")
      assert(scanPaths(filtered).forall(_.contains("summary")),
        s"filtered subset should rewrite: ${filtered.queryExecution.optimizedPlan}")
      assert(filtered.collect().toSeq.map(_.toString) == raw(filtered))
      // a grouping OUTSIDE the summary's columns stands down
      val byK = store.readTable("base").groupBy("k").agg(count(lit(1)).as("n"))
      assert(scanPaths(byK).exists(_.contains("base")))
      // GLOBAL count over an EMPTIED base: rollup over the empty
      // summary must serve 0, not null
      store.delete("base", Seq(1L, 2L, 3L, 4L, 5L).toDF("k"))
      IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g", "h"), "v")
      assert(store.readTable("summary").count() == 0)
      def emptyCount = store.readTable("base").agg(count(lit(1)).as("n"))
      assert(scanPaths(emptyCount).forall(_.contains("summary")))
      assert(emptyCount.collect().head.getLong(0) == 0L)
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44d: multi-summary routing — cheapest fresh summary answers, stale falls through") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", "x", 10.0), (2L, "b", "x", 20.0), (3L, "a", "y", 5.0))
        .toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    for ((name, cols) <- Seq("s_fine" -> Seq("g", "h"), "s_coarse" -> Seq("g"))) {
      store.createTableFromDataFrame(name,
        IncrementalAgg.summarize(store.readTable("base"), cols, "v"), cols, infer = false)
      IncrementalAgg.markMaintained(store, "base", name, store.snapshots("base").last._1)
      SummaryRewrite.register(spark, store, "base", name, cols, "v")
    }
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"))
        .orderBy("g")
      def raw = {
        SummaryRewrite.unregister(store, "base")
        val r = q.collect().toSeq.map(_.toString)
        for ((name, cols) <- Seq("s_fine" -> Seq("g", "h"), "s_coarse" -> Seq("g")))
          SummaryRewrite.register(spark, store, "base", name, cols, "v")
        r
      }
      // both fresh: the by-g query routes to the COARSE summary (fewer
      // rows than the fine one — the cheaper answer)
      assert(scanPaths(q).forall(_.contains("s_coarse")),
        s"expected the coarse summary: ${q.queryExecution.optimizedPlan}")
      assert(q.collect().toSeq.map(_.toString) == raw)
      // mutate, maintain ONLY the fine summary: coarse is stale, so the
      // query falls through to a ROLLUP of the fine one — never the base
      store.upsert("base", Seq((4L, "b", "y", 7.0)).toDF("k", "g", "h", "v"))
      IncrementalAgg.maintainToCurrent(store, "base", "s_fine", Seq("g", "h"), "v")
      assert(scanPaths(q).forall(_.contains("s_fine")),
        s"stale coarse should fall through to fine: ${q.queryExecution.optimizedPlan}")
      assert(q.collect().toSeq.map(_.toString) == raw)
      // coarse catches up → routing returns to it
      IncrementalAgg.maintainToCurrent(store, "base", "s_coarse", Seq("g"), "v")
      assert(scanPaths(q).forall(_.contains("s_coarse")))
      // both stale → plain base aggregate, still correct
      store.upsert("base", Seq((5L, "a", "x", 1.0)).toDF("k", "g", "h", "v"))
      assert(scanPaths(q).exists(_.contains("base")))
      assert(q.collect().toSeq.map(_.toString) == raw)
      // a (g,h) query can only be served by the fine summary — and it
      // is stale, so the base answers until maintenance catches up
      IncrementalAgg.maintainToCurrent(store, "base", "s_fine", Seq("g", "h"), "v")
      def qFine = store.readTable("base").groupBy("g", "h")
        .agg(count(lit(1)).as("n")).orderBy("g", "h")
      assert(scanPaths(qFine).forall(_.contains("s_fine")))
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C41b: min/max summary — inserts fold incrementally, deletes rescan ONLY touched groups, rewrite serves all five shapes") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMinMax(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    def checkMM(): Unit = {
      val got = store.readTable("summary", orderBy = Seq("g")).collect().toSeq
      val want = IncrementalAgg.summarizeMinMax(store.readTable("base"), Seq("g"), "v")
        .orderBy("g").collect().toSeq
      assert(got == want, s"minmax summary diverged: $got vs $want")
    }
    def sync(): Unit = {
      IncrementalAgg.maintainMinMaxToCurrent(store, "base", "summary", Seq("g"), "v")
      checkMM()
    }
    // pure growth: min/max tighten from the feed alone
    store.insert("base", Seq((4L, "a", 5.0), (5L, "b", 99.0)).toDF("k", "g", "v"))
    sync()
    // a value UPDATE (preimage counts as a delete) — rescan path
    store.upsert("base", Seq((4L, "a", 50.0)).toDF("k", "g", "v")) // old min leaves
    sync()
    // deleting the current MAX of b — the next-best must come back
    store.delete("base", Seq(5L).toDF("k"))
    sync()
    // group death
    store.delete("base", Seq(3L).toDF("k"))
    sync()
    assert(store.readTable("summary").filter(col("g") === "b").count() == 0)
    // multi-generation backlog folded in one call
    store.insert("base", Seq((6L, "c", 1.0)).toDF("k", "g", "v"))
    store.upsert("base", Seq((6L, "c", 2.0)).toDF("k", "g", "v"))
    store.delete("base", Seq(1L).toDF("k"))
    sync()

    // the rewrite serves min/max (exact grouping AND subset rollup)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("m"),
          min(col("v").cast(DecimalType(18, 2))).as("lo"),
          max(col("v").cast(DecimalType(18, 2))).as("hi"))
        .orderBy("g")
      def qGlobal = store.readTable("base")
        .agg(min(col("v").cast(DecimalType(18, 2))).as("lo"),
          max(col("v").cast(DecimalType(18, 2))).as("hi"))
      assert(scanPaths(q).forall(_.contains("summary")),
        s"five-shape aggregate should rewrite: ${q.queryExecution.optimizedPlan}")
      assert(scanPaths(qGlobal).forall(_.contains("summary")))
      def raw[T](mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
        SummaryRewrite.unregister(store, "base")
        val r = mk.collect().toSeq.map(_.toString)
        SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
        r
      }
      assert(q.collect().toSeq.map(_.toString) == raw(q))
      assert(qGlobal.collect().toSeq.map(_.toString) == raw(qGlobal))
    } finally SummaryRewrite.unregister(store, "base")

    // a PLAIN count/sum summary never serves a min query (column check)
    store.createTableFromDataFrame("plain",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "plain",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "plain", Seq("g"), "v")
    try {
      val qMin = store.readTable("base").groupBy("g")
        .agg(min(col("v").cast(DecimalType(18, 2))).as("lo"))
      val paths = qMin.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten
      assert(paths.exists(_.contains("base")),
        "a count/sum summary must not serve min")
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C41c: multi-measure summary — one fold maintains every sum; rewrite serves multi-measure aggregates") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0, 1.0), (2L, "a", 20.0, 2.5), (3L, "b", 30.0, 4.0))
        .toDF("k", "g", "v1", "v2"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMulti(store.readTable("base"), Seq("g"), Seq("v1", "v2")),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    def checkM(): Unit = {
      val got = store.readTable("summary", orderBy = Seq("g")).collect().toSeq
      val want = IncrementalAgg.summarizeMulti(
        store.readTable("base"), Seq("g"), Seq("v1", "v2"))
        .orderBy("g").collect().toSeq
      assert(got == want, s"multi summary diverged: $got vs $want")
    }
    // growth, update, delete, group death — one fold each
    store.insert("base", Seq((4L, "b", 5.0, 0.5)).toDF("k", "g", "v1", "v2"))
    IncrementalAgg.maintainMultiToCurrent(store, "base", "summary", Seq("g"), Seq("v1", "v2"))
    checkM()
    store.upsert("base", Seq((1L, "a", 11.0, 1.5)).toDF("k", "g", "v1", "v2"))
    store.delete("base", Seq(3L).toDF("k"))
    IncrementalAgg.maintainMultiToCurrent(store, "base", "summary", Seq("g"), Seq("v1", "v2"))
    checkM()

    SummaryRewrite.registerMulti(spark, store, "base", "summary", Seq("g"), Seq("v1", "v2"))
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      // a MULTI-measure aggregate (both sums + an avg + count) rewrites
      def q = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(col("v1").cast(DecimalType(18, 2))).as("s1"),
          sum(col("v2").cast(DecimalType(18, 2))).as("s2"),
          avg(col("v2").cast(DecimalType(18, 2))).as("m2"))
        .orderBy("g")
      assert(scanPaths(q).forall(_.contains("summary")),
        s"multi-measure aggregate should rewrite: ${q.queryExecution.optimizedPlan}")
      def raw = {
        SummaryRewrite.unregister(store, "base")
        val r = q.collect().toSeq.map(_.toString)
        SummaryRewrite.registerMulti(spark, store, "base", "summary", Seq("g"), Seq("v1", "v2"))
        r
      }
      assert(q.collect().toSeq.map(_.toString) == raw)
      // the global rollup works across measures too
      def g = store.readTable("base")
        .agg(sum(col("v1").cast(DecimalType(18, 2))).as("s1"),
          avg(col("v2").cast(DecimalType(18, 2))).as("m2"))
      assert(scanPaths(g).forall(_.contains("summary")))
      // a sum over a NON-summarized column stands down
      val other = store.readTable("base").groupBy("g")
        .agg(sum(col("k").cast(DecimalType(18, 2))).as("sk"))
      assert(scanPaths(other).exists(_.contains("base")))
      // min is never served from a multi summary (no min_val column)
      val mn = store.readTable("base").groupBy("g")
        .agg(min(col("v1").cast(DecimalType(18, 2))).as("lo"))
      assert(scanPaths(mn).exists(_.contains("base")))
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C41c×C41b: multi-measure MIN/MAX summary — one fold maintains sums and extrema; rewrite mixes min/avg/count from ONE summary") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0, 1.0), (2L, "a", 20.0, 2.5), (3L, "b", 30.0, 4.0),
        (4L, "b", 5.0, 9.0)).toDF("k", "g", "v1", "v2"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMultiMinMax(
        store.readTable("base"), Seq("g"), Seq("v1", "v2")),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    def checkMM(): Unit = {
      val got = store.readTable("summary", orderBy = Seq("g")).collect().toSeq
      val want = IncrementalAgg.summarizeMultiMinMax(
        store.readTable("base"), Seq("g"), Seq("v1", "v2"))
        .orderBy("g").collect().toSeq
      assert(got == want, s"multi-minmax summary diverged: $got vs $want")
    }
    def sync(): Unit = {
      IncrementalAgg.maintainMultiMinMaxToCurrent(
        store, "base", "summary", Seq("g"), Seq("v1", "v2"))
      checkMM()
    }
    // pure growth tightens extrema per measure from the feed alone
    store.insert("base", Seq((5L, "a", 3.0, 7.0)).toDF("k", "g", "v1", "v2"))
    sync()
    // deleting the min of one measure AND the max of the other in one
    // group — the rescan must restore both next-best extrema
    store.delete("base", Seq(4L).toDF("k"))
    sync()
    // value update (preimage = delete) + group death in one backlog
    store.upsert("base", Seq((5L, "a", 100.0, 0.5)).toDF("k", "g", "v1", "v2"))
    store.delete("base", Seq(3L).toDF("k"))
    sync()
    assert(store.readTable("summary").filter(col("g") === "b").count() == 0)

    // the rewrite serves min(v1), max(v2), avg(v2), count from ONE summary
    SummaryRewrite.registerMulti(spark, store, "base", "summary", Seq("g"), Seq("v1", "v2"))
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n"),
          min(col("v1").cast(DecimalType(18, 2))).as("lo1"),
          max(col("v2").cast(DecimalType(18, 2))).as("hi2"),
          avg(col("v2").cast(DecimalType(18, 2))).as("m2"),
          sum(col("v1").cast(DecimalType(18, 2))).as("s1"))
        .orderBy("g")
      def qGlobal = store.readTable("base")
        .agg(min(col("v2").cast(DecimalType(18, 2))).as("lo2"),
          max(col("v1").cast(DecimalType(18, 2))).as("hi1"))
      assert(scanPaths(q).forall(_.contains("summary")),
        s"multi-minmax aggregate should rewrite: ${q.queryExecution.optimizedPlan}")
      assert(scanPaths(qGlobal).forall(_.contains("summary")),
        "global min/max rollup should rewrite")
      def raw[T](mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
        SummaryRewrite.unregister(store, "base")
        val r = mk.collect().toSeq.map(_.toString)
        SummaryRewrite.registerMulti(spark, store, "base", "summary", Seq("g"), Seq("v1", "v2"))
        r
      }
      assert(q.collect().toSeq.map(_.toString) == raw(q))
      assert(qGlobal.collect().toSeq.map(_.toString) == raw(qGlobal))
      // min over a NON-summarized column stands down
      val mk = store.readTable("base").groupBy("g")
        .agg(min(col("k").cast(DecimalType(18, 2))).as("lo"))
      assert(scanPaths(mk).exists(_.contains("base")))
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C41d: distinct-count (KMV) summary — inserts union registers, deletes rescan touched groups, rewrite serves kmvDistinct") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.{GraftFunctions, SummaryRewrite}
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 20L), (4L, "b", 30L))
        .toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeDistinct(store.readTable("base"), Seq("g"), "v", k = 4),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    def checkD(): Unit = {
      val got = store.readTable("summary", orderBy = Seq("g")).collect().toSeq
      val want = IncrementalAgg.summarizeDistinct(
        store.readTable("base"), Seq("g"), "v", k = 4)
        .orderBy("g").collect().toSeq
      assert(got == want, s"distinct summary diverged: $got vs $want")
    }
    def sync(): Unit = {
      IncrementalAgg.maintainDistinctToCurrent(store, "base", "summary", Seq("g"), "v", k = 4)
      checkD()
    }
    // growth: new values union in (incl. past k — registers stay the k
    // smallest), duplicate values change nothing
    store.insert("base", Seq((5L, "a", 40L), (6L, "a", 50L), (7L, "a", 20L),
      (8L, "b", 60L)).toDF("k", "g", "v"))
    sync()
    // a value update (preimage = delete) and a plain delete — rescan
    store.upsert("base", Seq((1L, "a", 99L)).toDF("k", "g", "v"))
    store.delete("base", Seq(4L).toDF("k"))
    sync()
    // group death
    store.delete("base", Seq(8L).toDF("k"))
    sync()
    assert(store.readTable("summary").filter(col("g") === "b").count() == 0)

    // the rewrite serves kmvDistinct (exact grouping AND global rollup)
    SummaryRewrite.registerDistinct(spark, store, "base", "summary", Seq("g"), "v", k = 4)
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n"),
          GraftFunctions.kmvDistinct(col("v"), 4).as("d"))
        .orderBy("g")
      def qGlobal = store.readTable("base")
        .agg(GraftFunctions.kmvDistinct(col("v"), 4).as("d"))
      assert(scanPaths(q).forall(_.contains("summary")),
        s"kmvDistinct should rewrite: ${q.queryExecution.optimizedPlan}")
      assert(scanPaths(qGlobal).forall(_.contains("summary")),
        "global kmv rollup should rewrite")
      def raw[T](mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
        SummaryRewrite.unregister(store, "base")
        val r = mk.collect().toSeq.map(_.toString)
        SummaryRewrite.registerDistinct(spark, store, "base", "summary", Seq("g"), "v", k = 4)
        r
      }
      assert(q.collect().toSeq.map(_.toString) == raw(q))
      assert(qGlobal.collect().toSeq.map(_.toString) == raw(qGlobal))
      // a DIFFERENT k never matches the registration
      val qK8 = store.readTable("base").groupBy("g")
        .agg(GraftFunctions.kmvDistinct(col("v"), 8).as("d"))
      assert(scanPaths(qK8).exists(_.contains("base")))
      // kmvDistinct over a non-summarized column stands down
      val qOther = store.readTable("base").groupBy("g")
        .agg(GraftFunctions.kmvDistinct(col("k"), 4).as("d"))
      assert(scanPaths(qOther).exists(_.contains("base")))
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("NULL values in the measure: avg divides by the NON-NULL count, count(v) is servable, count(cast) is not") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", Some(10.0)), (2L, "a", None), (3L, "a", Some(20.0)),
        (4L, "b", None), (5L, "b", None)).toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n"), count(col("v")).as("nn"),
          avg(col("v").cast(DecimalType(18, 2))).as("m"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"))
        .orderBy("g")
      def qGlobal = store.readTable("base")
        .agg(count(col("v")).as("nn"), avg(col("v").cast(DecimalType(18, 2))).as("m"))
      assert(scanPaths(q).forall(_.contains("summary")),
        s"count(v)+avg under NULLs should rewrite: ${q.queryExecution.optimizedPlan}")
      assert(scanPaths(qGlobal).forall(_.contains("summary")))
      def raw[T](mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
        SummaryRewrite.unregister(store, "base")
        val r = mk.collect().toSeq.map(_.toString)
        SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
        r
      }
      assert(q.collect().toSeq.map(_.toString) == raw(q),
        "avg over a NULL-bearing measure must divide by the non-null count")
      assert(qGlobal.collect().toSeq.map(_.toString) == raw(qGlobal))
      // group b is ALL-NULL: avg must be null, count(v) 0 — from the summary
      val b = q.collect().find(_.getString(0) == "b").get
      assert(b.getLong(2) == 0L && b.isNullAt(3), s"all-null group wrong: $b")
      // count over the decimal CAST is NOT the raw column's null-ness
      // (non-ANSI overflow casts to null) — must stand down
      val qCast = store.readTable("base").groupBy("g")
        .agg(count(col("v").cast(DecimalType(18, 2))).as("nn"))
      assert(scanPaths(qCast).exists(_.contains("base")))
      // maintenance keeps nn right through NULL inserts and deletes
      store.insert("base", Seq((6L, "a", Option.empty[Double]),
        (7L, "b", Some(9.0))).toDF("k", "g", "v"))
      store.delete("base", Seq(3L).toDF("k"))
      IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g"), "v")
      assert(scanPaths(q).forall(_.contains("summary")))
      assert(q.collect().toSeq.map(_.toString) == raw(q))
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("cross-process staleness: a SECOND store instance's commit stands the cached rewrite down") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val dir = Files.createTempDirectory("graft_xproc_").toString
    val storeA = new TableStore(spark, dir)
    storeA.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"), Seq("k"), infer = false)
    storeA.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(storeA.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(storeA, "base", "summary",
      storeA.snapshots("base").last._1)
    SummaryRewrite.register(spark, storeA, "base", "summary", Seq("g"), "v")
    try {
      def q = storeA.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").cast(DecimalType(18, 2))).as("sum_val"))
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      // session A compiles and caches fresh=true
      assert(scanPaths(q).forall(_.contains("summary")))
      // a SECOND TableStore instance (a different "process": its own
      // commitEpoch — A's in-process cache invalidation cannot see it)
      // commits to the base. NO sleep: the base-side signature is the
      // EXISTENCE of the next manifest file (content-derived), so a
      // commit landing in the same filesystem-mtime tick as A's cached
      // probe is still caught — the r12 directory-mtime scheme needed
      // the granularity sleep here, the r13 scheme must not
      val storeB = new TableStore(spark, dir)
      storeB.upsert("base", Seq((3L, "a", 5.0)).toDF("k", "g", "v"))
      // A's NEXT compile must stand down — the out-of-band signature
      // (next-manifest existence) moved even though A's epoch did not
      assert(scanPaths(q).exists(_.contains("base")),
        "a foreign commit must not leave session A serving the stale summary")
      assert(q.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 1L)))
      // B maintains the summary and advances the watermark; A resumes
      // serving it (props.json mtime moved → re-probe → fresh). The
      // props side IS still mtime-based — safe, because a props-only
      // change can only flip STALE→fresh (delayed serving at worst),
      // never fresh→stale; the sleep covers the granularity here
      Thread.sleep(15)
      IncrementalAgg.maintainToCurrent(storeB, "base", "summary", Seq("g"), "v")
      assert(scanPaths(q).forall(_.contains("summary")),
        "a foreign maintenance catch-up must be visible without a local commit")
      assert(q.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 1L)))
    } finally SummaryRewrite.unregister(storeA, "base")
  }

  test("a NULL group value in the feed raises instead of silently diverging") {
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, Some("a"), 1.0)).toDF("k", "g", "v"), Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    val gen = store.snapshots("base").last._1
    store.insert("base", Seq((2L, Option.empty[String], 2.0)).toDF("k", "g", "v"))
    val next = store.snapshots("base").last._1
    val e = intercept[Exception] {
      IncrementalAgg.maintain(store, "base", "summary", Seq("g"), "v", gen, next)
    }
    assert(e.getMessage != null)
  }

  test("C41g: quantile-sketch summary — pure counter maintenance under any feed; rewrite serves the valueSketch shape") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.SummaryRewrite
    import graft.operators.Analytics
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", Some(0.05)), (2L, "a", Some(1.20)), (3L, "a", Some(7.00)),
        (4L, "a", Some(1.20)), (5L, "b", Some(42.0)), (6L, "b", Option.empty[Double]))
        .toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeQuantile(store.readTable("base"), Seq("g"), "v"),
      Seq("g", "bin_id", "bin_upper"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    def checkQ(): Unit = {
      val got = store.readTable("summary", orderBy = Seq("g", "bin_id")).collect().toSeq
      val want = IncrementalAgg.summarizeQuantile(store.readTable("base"), Seq("g"), "v")
        .orderBy("g", "bin_id").collect().toSeq
      assert(got == want, s"quantile summary diverged:\n$got\nvs\n$want")
    }
    def sync(): Unit = {
      IncrementalAgg.maintainQuantileToCurrent(store, "base", "summary", Seq("g"), "v")
      checkQ()
    }
    // inserts: same-bucket duplicates just increment; a NULL value is
    // no observation
    store.insert("base", Seq((7L, "a", Some(1.21)), (8L, "a", Some(900.0)),
      (9L, "b", Option.empty[Double])).toDF("k", "g", "v"))
    sync()
    // value updates move observations BETWEEN buckets (preimage −1,
    // postimage +1) — counters, no rescan; null→value and value→null
    store.upsert("base", Seq((1L, "a", Some(950.0)), (6L, "b", Some(0.10)),
      (5L, "b", Option.empty[Double])).toDF("k", "g", "v"))
    sync()
    // deletes: bucket decrement, bucket death, and group death
    store.delete("base", Seq(6L).toDF("k")) // b's only observation → group dies
    store.delete("base", Seq(4L).toDF("k")) // one of the two 1.20s → decrement
    sync()
    assert(store.readTable("summary").filter(col("g") === "b").count() == 0,
      "a group with no surviving observations must leave no bucket rows")

    // the rewrite serves the valueSketch aggregate (buckets are derived
    // group columns; the units-not-null filter is the BASE filter)
    SummaryRewrite.registerQuantile(spark, store, "base", "summary", Seq("g"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def sk = Analytics.valueSketch(store.readTable("base"), Seq("g"), "v")
      assert(scanPaths(sk).forall(_.contains("summary")),
        s"valueSketch should rewrite to the quantile summary: ${sk.queryExecution.optimizedPlan}")
      // the full quantile read composes ON TOP of the served sketch
      def quant = Analytics.sketchQuantiles(sk, Seq("g")).orderBy("g")
      assert(scanPaths(quant).forall(_.contains("summary")))
      def raw(mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
        SummaryRewrite.unregister(store, "base")
        val r = mk.collect().toSeq.map(_.toString)
        SummaryRewrite.registerQuantile(spark, store, "base", "summary", Seq("g"), "v")
        r
      }
      assert(sk.orderBy("g", "bin_id").collect().toSeq.map(_.toString) ==
        raw(sk.orderBy("g", "bin_id")))
      assert(quant.collect().toSeq.map(_.toString) == raw(quant))
      // a plain aggregate WITHOUT the units filter ranges over more
      // rows than the summary covers (null observations) — stands down
      val qPlain = store.readTable("base").groupBy("g").agg(count(lit(1)).as("n"))
      assert(scanPaths(qPlain).exists(_.contains("base")),
        "a query missing the base filter must not be served")
      // a sketch over a DIFFERENT value column stands down
      val skOther = Analytics.valueSketch(
        store.readTable("base").withColumn("w", col("k").cast("double"))
          .select("g", "w"), Seq("g"), "w")
      assert(scanPaths(skOther).exists(_.contains("base")))
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C41d×C41c: multi-measure KMV summary — one fold, kmvDistinct served per measure") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.{GraftFunctions, SummaryRewrite}
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10L, "x"), (2L, "a", 20L, "x"), (3L, "a", 20L, "y"),
        (4L, "b", 30L, "z")).toDF("k", "g", "v", "w"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeDistinctMulti(store.readTable("base"), Seq("g"),
        Seq("v", "w"), k = 4),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    def checkDm(): Unit = {
      val got = store.readTable("summary", orderBy = Seq("g")).collect().toSeq
      val want = IncrementalAgg.summarizeDistinctMulti(
        store.readTable("base"), Seq("g"), Seq("v", "w"), k = 4)
        .orderBy("g").collect().toSeq
      assert(got == want, s"multi-distinct summary diverged: $got vs $want")
    }
    def sync(): Unit = {
      IncrementalAgg.maintainDistinctMultiToCurrent(store, "base", "summary",
        Seq("g"), Seq("v", "w"), k = 4)
      checkDm()
    }
    store.insert("base", Seq((5L, "a", 40L, "y"), (6L, "b", 30L, "q"))
      .toDF("k", "g", "v", "w"))
    sync()
    store.upsert("base", Seq((1L, "a", 99L, "p")).toDF("k", "g", "v", "w"))
    store.delete("base", Seq(4L).toDF("k"))
    sync()
    SummaryRewrite.registerDistinctMulti(spark, store, "base", "summary",
      Seq("g"), Seq("v", "w"), k = 4)
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g")
        .agg(GraftFunctions.kmvDistinct(col("v"), 4).as("dv"),
          GraftFunctions.kmvDistinct(col("w"), 4).as("dw"),
          count(lit(1)).as("n"))
        .orderBy("g")
      assert(scanPaths(q).forall(_.contains("summary")),
        s"multi-measure kmv should rewrite: ${q.queryExecution.optimizedPlan}")
      SummaryRewrite.unregister(store, "base")
      val raw = q.collect().toSeq.map(_.toString)
      SummaryRewrite.registerDistinctMulti(spark, store, "base", "summary",
        Seq("g"), Seq("v", "w"), k = 4)
      assert(q.collect().toSeq.map(_.toString) == raw)
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44l: FILTER (WHERE <group cols>) serves — exact grouping, subset rollup, and value-filter stand-down") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", "x", Some(10.0)), (2L, "a", "y", Some(20.0)),
        (3L, "b", "x", Some(30.0)), (4L, "b", "y", None),
        (5L, "c", "x", Some(50.0))).toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMinMax(
        IncrementalAgg.derivedView(store.readTable("base"), Nil), Seq("g", "h"), "v"),
      Seq("g", "h"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    // NB: summarizeMinMax is single-measure but two group cols — use
    // register (sum_val naming) with BOTH group columns
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def raw(mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
        SummaryRewrite.unregister(store, "base")
        val r = mk.collect().toSeq.map(_.toString)
        SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
        r
      }
      // EXACT grouping: every aggregate shape under a group-col filter
      def qe = store.readTable("base").groupBy("g", "h").agg(
        expr("count(1) FILTER (WHERE g = 'a')").as("cnt_a"),
        expr("count(v) FILTER (WHERE h = 'x')").as("nn_x"),
        expr("sum(CAST(v AS DECIMAL(18,2))) FILTER (WHERE g = 'a')").as("sum_a"),
        expr("avg(CAST(v AS DECIMAL(18,2))) FILTER (WHERE g IN ('a','b'))").as("avg_ab"),
        expr("min(CAST(v AS DECIMAL(18,2))) FILTER (WHERE h = 'y')").as("min_y"),
        expr("max(CAST(v AS DECIMAL(18,2))) FILTER (WHERE g <> 'c')").as("max_nc"),
        count(lit(1)).as("n")).orderBy("g", "h")
      assert(scanPaths(qe).forall(_.contains("summary")),
        s"group-col FILTER should serve: ${qe.queryExecution.optimizedPlan}")
      assert(qe.collect().toSeq.map(_.toString) == raw(qe))
      // SUBSET rollup: filters over a group column NOT in the output
      // grouping (the rollup aggregates If(p, col, null) cells)
      def qr = store.readTable("base").groupBy("g").agg(
        expr("sum(CAST(v AS DECIMAL(18,2))) FILTER (WHERE h = 'x')").as("sum_x"),
        expr("count(1) FILTER (WHERE h = 'y')").as("cnt_y"),
        expr("min(CAST(v AS DECIMAL(18,2))) FILTER (WHERE h = 'x')").as("min_x"),
        expr("sum(CAST(v AS DECIMAL(18,2)))").as("sum_all")).orderBy("g")
      assert(scanPaths(qr).forall(_.contains("summary")),
        s"rollup FILTER should serve: ${qr.queryExecution.optimizedPlan}")
      assert(qr.collect().toSeq.map(_.toString) == raw(qr))
      // GLOBAL rollup with filter — the empty-set count must be 0L
      def qg = store.readTable("base").agg(
        expr("count(1) FILTER (WHERE g = 'zzz')").as("cnt_none"),
        expr("sum(CAST(v AS DECIMAL(18,2))) FILTER (WHERE g = 'zzz')").as("sum_none"),
        expr("avg(CAST(v AS DECIMAL(18,2))) FILTER (WHERE g = 'zzz')").as("avg_none"))
      assert(scanPaths(qg).forall(_.contains("summary")))
      assert(qg.collect().toSeq.map(_.toString) == raw(qg))
      // a VALUE-column filter must stand down
      val qv = store.readTable("base").groupBy("g").agg(
        expr("count(1) FILTER (WHERE v > 0)").as("cnt_pos"))
      assert(scanPaths(qv).exists(_.contains("base")),
        "value-column FILTER must fall through to the base scan")
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44m: derived VALUE columns — sum(p*q) maintained through derivedView and served by template") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 2.0, 3.0), (2L, "a", 5.0, 4.0), (3L, "b", 7.0, 2.0))
        .toDF("k", "g", "p", "q"),
      Seq("k"), infer = false)
    val derive = Seq("rev" -> "p * q")
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMulti(
        IncrementalAgg.derivedView(store.readTable("base"), derive),
        Seq("g"), Seq("rev")),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    // mutate THROUGH the fold — maintenance already takes arbitrary
    // derive projections; the r12 gap was registration/matching only
    store.upsert("base", Seq((1L, "a", 2.5, 3.0), (4L, "c", 1.0, 9.0))
      .toDF("k", "g", "p", "q"))
    store.delete("base", Seq(3L).toDF("k"))
    IncrementalAgg.maintainMultiToCurrent(store, "base", "summary",
      Seq("g"), Seq("rev"), derive)
    val got = store.readTable("summary", orderBy = Seq("g")).collect().toSeq
    val want = IncrementalAgg.summarizeMulti(
      IncrementalAgg.derivedView(store.readTable("base"), derive), Seq("g"), Seq("rev"))
      .orderBy("g").collect().toSeq
    assert(got == want, s"derived-measure summary diverged: $got vs $want")
    SummaryRewrite.registerMulti(spark, store, "base", "summary",
      Seq("g"), Seq("rev"), derive)
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      // sum/avg/count over the EXPRESSION serve from the summary
      def q = store.readTable("base").groupBy("g").agg(
        sum(expr("p * q").cast(DecimalType(18, 2))).as("rev_sum"),
        avg(expr("p * q").cast(DecimalType(18, 2))).as("rev_avg"),
        count(expr("p * q")).as("rev_n"),
        count(lit(1)).as("n")).orderBy("g")
      assert(scanPaths(q).forall(_.contains("summary")),
        s"derived-measure aggregate should serve: ${q.queryExecution.optimizedPlan}")
      SummaryRewrite.unregister(store, "base")
      val raw = q.collect().toSeq.map(_.toString)
      SummaryRewrite.registerMulti(spark, store, "base", "summary",
        Seq("g"), Seq("rev"), derive)
      assert(q.collect().toSeq.map(_.toString) == raw)
      // a DIFFERENT expression over the same columns stands down
      val qOther = store.readTable("base").groupBy("g").agg(
        sum(expr("p + q").cast(DecimalType(18, 2))).as("s"))
      assert(scanPaths(qOther).exists(_.contains("base")),
        "a non-registered derived measure must fall through")
      // min/max over the derived measure need a minmax-CAPABLE summary:
      // the plain multi summary lacks min_rev/max_rev, so the column
      // check stands the candidate down rather than serving a wrong row
      val qMin = store.readTable("base").groupBy("g").agg(
        min(expr("p * q").cast(DecimalType(18, 2))).as("lo"))
      assert(scanPaths(qMin).exists(_.contains("base")),
        "min over a derived measure must not serve from a sum-only summary")
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44m-b: min/max over a DERIVED measure serve from a multiminmax summary") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 2.0, 3.0), (2L, "a", 5.0, 4.0), (3L, "b", 7.0, 2.0))
        .toDF("k", "g", "p", "q"),
      Seq("k"), infer = false)
    val derive = Seq("rev" -> "p * q")
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMultiMinMax(
        IncrementalAgg.derivedView(store.readTable("base"), derive),
        Seq("g"), Seq("rev")),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    store.upsert("base", Seq((1L, "a", 9.0, 9.0), (4L, "c", 1.0, 1.0))
      .toDF("k", "g", "p", "q"))
    store.delete("base", Seq(3L).toDF("k"))
    IncrementalAgg.maintainMultiMinMaxToCurrent(store, "base", "summary",
      Seq("g"), Seq("rev"), derive)
    val got = store.readTable("summary", orderBy = Seq("g")).collect().toSeq
    val want = IncrementalAgg.summarizeMultiMinMax(
      IncrementalAgg.derivedView(store.readTable("base"), derive), Seq("g"), Seq("rev"))
      .orderBy("g").collect().toSeq
    assert(got == want, s"derived minmax summary diverged: $got vs $want")
    SummaryRewrite.registerMulti(spark, store, "base", "summary",
      Seq("g"), Seq("rev"), derive)
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g").agg(
        min(expr("p * q").cast(DecimalType(18, 2))).as("lo"),
        max(expr("p * q").cast(DecimalType(18, 2))).as("hi"),
        sum(expr("p * q").cast(DecimalType(18, 2))).as("s")).orderBy("g")
      assert(scanPaths(q).forall(_.contains("summary")),
        s"derived min/max should serve: ${q.queryExecution.optimizedPlan}")
      SummaryRewrite.unregister(store, "base")
      val raw = q.collect().toSeq.map(_.toString)
      SummaryRewrite.registerMulti(spark, store, "base", "summary",
        Seq("g"), Seq("rev"), derive)
      assert(q.collect().toSeq.map(_.toString) == raw)
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44n: HAVING over served aggregates pushes below the Project onto the summary scan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", "x", 10.0), (2L, "a", "y", 20.0), (3L, "a", "y", 21.0),
        (4L, "b", "x", 30.0), (5L, "c", "x", 50.0), (6L, "c", "x", 51.0))
        .toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g", "h"), "v"),
      Seq("g", "h"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      // exact grain: HAVING mixes a group column (main-optimizer
      // pushdown) and a served COUNT (only this rule can push it — the
      // count doesn't exist below the Aggregate)
      def q = store.readTable("base").groupBy("g", "h")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"))
        .filter(col("n") >= 2 && col("g") =!= "b")
      assert(scanPaths(q).forall(_.contains("summary")),
        s"HAVING aggregate should still serve: ${q.queryExecution.optimizedPlan}")
      val opt = q.queryExecution.optimizedPlan
      // the Filter must sit DIRECTLY on the summary relation (below the
      // Project), not compose above it
      val scanFilters = opt.collect {
        case LFilter(cond, _: LogicalRelation) => cond }
      assert(scanFilters.nonEmpty && scanFilters.head.references
          .map(_.name).toSeq.toSet == Set("n_rows", "g"),
        s"HAVING must land on the summary scan: $opt")
      assert(opt.collect { case LFilter(_, _: LProject) => () }.isEmpty,
        s"no residual Filter above the Project: $opt")
      // the simple count comparison reaches the parquet source as a
      // pushed data filter — the scan prunes row groups on it
      val pushedStr = q.queryExecution.executedPlan.toString
      assert(pushedStr.contains("PushedFilters") && pushedStr.contains("n_rows"),
        s"n_rows filter should push into the parquet scan:\n$pushedStr")
      SummaryRewrite.unregister(store, "base")
      val raw = q.orderBy("g", "h").collect().toSeq.map(_.toString)
      SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
      assert(q.orderBy("g", "h").collect().toSeq.map(_.toString) == raw)
      // subset-grain rollup: the served count exists only AFTER the
      // re-aggregation — HAVING stays above the Project, still served
      def qr = store.readTable("base").groupBy("g")
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      assert(scanPaths(qr).forall(_.contains("summary")))
      SummaryRewrite.unregister(store, "base")
      val rawR = qr.orderBy("g").collect().toSeq.map(_.toString)
      SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
      assert(qr.orderBy("g").collect().toSeq.map(_.toString) == rawR)
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C41g×C47: quantile summary over a DERIVED day column — counter folds + template serve") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.SummaryRewrite
    import graft.operators.Analytics
    val store = newStore()
    def d(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2026-02-$day%02d $h%02d:00:00")
    store.createTableFromDataFrame("base",
      Seq((1L, d(1, 3), Some(0.05)), (2L, d(1, 9), Some(1.20)), (3L, d(2, 4), Some(7.0)),
        (4L, d(2, 5), Some(1.20)), (5L, d(3, 1), Option.empty[Double]))
        .toDF("k", "ts", "v"),
      Seq("k"), infer = false)
    val derive = Seq("day" -> "to_date(ts)")
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeQuantile(
        IncrementalAgg.derivedView(store.readTable("base"), derive), Seq("day"), "v"),
      Seq("day", "bin_id", "bin_upper"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    def checkQ(): Unit = {
      val got = store.readTable("summary", orderBy = Seq("day", "bin_id")).collect().toSeq
      val want = IncrementalAgg.summarizeQuantile(
        IncrementalAgg.derivedView(store.readTable("base"), derive), Seq("day"), "v")
        .orderBy("day", "bin_id").collect().toSeq
      assert(got == want, s"derived quantile summary diverged:\n$got\nvs\n$want")
    }
    // churn across days and buckets; a day dies entirely
    store.insert("base", Seq((6L, d(3, 2), Some(900.0)), (7L, d(1, 11), Some(1.21)))
      .toDF("k", "ts", "v"))
    IncrementalAgg.maintainQuantileToCurrent(store, "base", "summary", Seq("day"), "v", derive)
    checkQ()
    store.upsert("base", Seq((3L, d(2, 4), Some(0.10)), (6L, d(3, 2), Option.empty[Double]))
      .toDF("k", "ts", "v"))
    store.delete("base", Seq(1L, 2L, 7L).toDF("k")) // day 1 dies
    IncrementalAgg.maintainQuantileToCurrent(store, "base", "summary", Seq("day"), "v", derive)
    checkQ()
    assert(store.readTable("summary").filter(col("day") === "2026-02-01").count() == 0)
    SummaryRewrite.registerQuantile(spark, store, "base", "summary", Seq("day"), "v", derive)
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def sk = Analytics.valueSketch(
        store.readTable("base").withColumn("day", expr("to_date(ts)")), Seq("day"), "v")
      assert(scanPaths(sk).forall(_.contains("summary")),
        s"derived-day valueSketch should serve: ${sk.queryExecution.optimizedPlan}")
      def quant = Analytics.sketchQuantiles(sk, Seq("day")).orderBy("day")
      SummaryRewrite.unregister(store, "base")
      val raw = quant.collect().toSeq.map(_.toString)
      SummaryRewrite.registerQuantile(spark, store, "base", "summary", Seq("day"), "v", derive)
      assert(quant.collect().toSeq.map(_.toString) == raw)
      // shadowing a physical column is rejected outright
      intercept[IllegalArgumentException] {
        SummaryRewrite.registerQuantile(spark, store, "base", "summary",
          Seq("ts"), "v", Seq("ts" -> "to_date(ts)"))
      }
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44q: COUNT(DISTINCT <group col>) serves exactly off the summary's PK rows; measures stand down") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", "x", 10.0), (2L, "a", "y", 20.0), (3L, "a", "y", 21.0),
        (4L, "b", "x", 30.0), (5L, "c", "x", 50.0), (6L, "c", "z", 51.0))
        .toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g", "h"), "v"),
      Seq("g", "h"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def checkServed(mk: => org.apache.spark.sql.DataFrame, by: String): Unit = {
        assert(scanPaths(mk).forall(_.contains("summary")),
          s"should serve: ${mk.queryExecution.optimizedPlan}")
        SummaryRewrite.unregister(store, "base")
        val raw = mk.orderBy(by).collect().toSeq.map(_.toString)
        SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
        assert(mk.orderBy(by).collect().toSeq.map(_.toString) == raw)
      }
      // rollup grain: distinct h per g off summary rows
      checkServed(store.readTable("base").groupBy("g")
        .agg(count_distinct(col("h")).as("nh"),
          count(lit(1)).as("n")), "g")
      // global grain: one row, distinct over everything
      checkServed(store.readTable("base")
        .agg(count_distinct(col("h")).as("nh"), count(lit(1)).as("n")), "nh")
      // exact grain: the column is part of the grouping — constant 1
      checkServed(store.readTable("base").groupBy("g", "h")
        .agg(count_distinct(col("h")).as("nh"), count(lit(1)).as("n")), "g")
      // DISTINCT over a MEASURE must stand down (exact vs estimate)
      val qv = store.readTable("base").groupBy("g")
        .agg(count_distinct(col("v")).as("nv"))
      assert(scanPaths(qv).exists(_.contains("base")),
        "count(DISTINCT measure) must fall through to the base scan")
      // a FILTER on a DISTINCT aggregate is expanded by the main
      // optimizer's RewriteDistinctAggregates before this rule runs —
      // the expanded shape correctly stands down (values still exact
      // from the base)
      val qf = store.readTable("base").groupBy("g")
        .agg(expr("count(DISTINCT h) FILTER (WHERE h <> 'x')").as("nh_rest"))
      assert(scanPaths(qf).exists(_.contains("base")),
        "FILTER+DISTINCT is pre-expanded and must fall through")
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44r: JOIN-aware serving — agg(fact ⋈ dim) GROUP BY dim.attr reads summary ⋈ dim, exactly") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    // fact: PK k, group g (the dim key), measure v — g=42 has NO dim row
    // (inner join drops it) and dim key "d" has NO fact rows
    store.createTableFromDataFrame("fact",
      Seq((1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0), (4L, 2, 31.0),
        (5L, 3, 50.0), (6L, 42, 99.0)).toDF("k", "g", "v"),
      Seq("k"), infer = false)
    // dim carries a DUPLICATE key (g=3 twice) — the multiplicity case
    store.createTableFromDataFrame("dim",
      Seq((1, "east", 1.5), (2, "west", 2.5), (3, "east", 3.5), (3, "east2", 3.6),
        (4, "south", 4.5)).toDF("g", "attr", "w"),
      Seq.empty, infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMinMax(store.readTable("fact"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "fact", "summary",
      store.snapshots("fact").last._1)
    SummaryRewrite.register(spark, store, "fact", "summary", Seq("g"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def checkServed(mk: => org.apache.spark.sql.DataFrame, by: String*): Unit = {
        val paths = scanPaths(mk)
        assert(!paths.exists(_.contains("fact")),
          s"the fact table must NOT be scanned: ${mk.queryExecution.optimizedPlan}")
        assert(paths.exists(_.contains("summary")), "the summary must be scanned")
        SummaryRewrite.unregister(store, "fact")
        val raw = mk.orderBy(by.map(col): _*).collect().toSeq.map(_.toString)
        SummaryRewrite.register(spark, store, "fact", "summary", Seq("g"), "v")
        val served = mk.orderBy(by.map(col): _*).collect().toSeq.map(_.toString)
        assert(served == raw, s"served=$served raw=$raw")
      }
      val fact = store.readTable("fact")
      val dim = store.readTable("dim")
      // the star shape: group by dim attr, full aggregate menu
      checkServed(fact.join(dim, fact("g") === dim("g")).groupBy("attr")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("a"),
          min(col("v").cast(DecimalType(18, 2))).as("lo"),
          max(col("v").cast(DecimalType(18, 2))).as("hi")), "attr")
      // grouping by BOTH a dim attr and the fact group column
      checkServed(fact.join(dim, fact("g") === dim("g")).groupBy(dim("attr"), fact("g"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(DecimalType(18, 2))).as("s")),
        "attr", "g")
      // GLOBAL aggregate over the join (empty grouping)
      checkServed(fact.join(dim, fact("g") === dim("g"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(DecimalType(18, 2))).as("s")), "n")
      // fact-side WHERE over a group column still serves (filter lands
      // on the summary scan)
      checkServed(fact.filter(col("g") =!= 2).join(dim, fact("g") === dim("g"))
        .groupBy("attr").agg(count(lit(1)).as("n")), "attr")
      // exact COUNT(DISTINCT fact group col) per dim attr
      checkServed(fact.join(dim, fact("g") === dim("g")).groupBy("attr")
        .agg(count_distinct(fact("g")).as("ng"), count(lit(1)).as("n")), "attr")
      // FILTER clauses over DIM attributes serve (constant per joined
      // row — the predicate gates whole (group, dim-row) pairs)
      checkServed(fact.join(dim, fact("g") === dim("g")).groupBy("attr")
        .agg(expr("sum(cast(v as decimal(18,2))) FILTER (WHERE w > 2)").as("s_hi"),
          expr("count(1) FILTER (WHERE w <= 3)").as("n_lo"),
          count(lit(1)).as("n")), "attr")
      // ── stand-downs ──
      def standsDown(df: org.apache.spark.sql.DataFrame, why: String): Unit =
        assert(scanPaths(df).exists(_.contains("fact")),
          s"$why must fall back to the fact scan: ${df.queryExecution.optimizedPlan}")
      // non-equi join
      standsDown(fact.join(dim, fact("g") <= dim("g")).groupBy("attr")
        .agg(count(lit(1)).as("n")), "a non-equi join")
      // join key not a summary group column
      standsDown(fact.join(dim, fact("k") === dim("g")).groupBy("attr")
        .agg(count(lit(1)).as("n")), "a non-group join key")
      // dim-side measure in the aggregate
      standsDown(fact.join(dim, fact("g") === dim("g")).groupBy("attr")
        .agg(sum(col("w").cast(DecimalType(18, 2))).as("sw")), "a dim-side measure")
      // mixed-side aggregate
      standsDown(fact.join(dim, fact("g") === dim("g")).groupBy("attr")
        .agg(sum((col("v") * col("w")).cast(DecimalType(18, 2))).as("svw")),
        "a mixed-side measure")
      // fact-side filter on a MEASURE (not answerable over summary rows)
      standsDown(fact.filter(col("v") > 15).join(dim, fact("g") === dim("g"))
        .groupBy("attr").agg(count(lit(1)).as("n")), "a fact measure filter")
      // FILTER clause over a fact MEASURE stands down too
      standsDown(fact.join(dim, fact("g") === dim("g")).groupBy("attr")
        .agg(expr("count(1) FILTER (WHERE v > 15)").as("n_hi")),
        "a fact-measure FILTER clause")
      // FACT-PRESERVED LEFT OUTER serves (r15): g=42 has no dim row —
      // its summary row survives the outer join null-padded with its
      // cells intact, exactly as each of its fact rows would
      checkServed(fact.join(dim, fact("g") === dim("g"), "left")
        .groupBy("attr")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("a"),
          min(col("v").cast(DecimalType(18, 2))).as("lo"),
          max(col("v").cast(DecimalType(18, 2))).as("hi")), "attr")
      // the unmatched-group probe: FILTER over a dim attr that is NULL
      // exactly for the outer-padded rows
      checkServed(fact.join(dim, fact("g") === dim("g"), "left")
        .groupBy(fact("g"))
        .agg(expr("count(1) FILTER (WHERE attr IS NULL)").as("n_unmatched"),
          count(lit(1)).as("n")), "g")
      // DIM-PRESERVED left outer stands down (an unmatched dim row
      // contributes count 1, not n_rows — unservable off the summary)
      standsDown(dim.join(fact, fact("g") === dim("g"), "left")
        .groupBy("attr").agg(count(lit(1)).as("n")), "a dim-preserved left outer")
      standsDown(fact.join(dim, fact("g") === dim("g"), "right")
        .groupBy("attr").agg(count(lit(1)).as("n")), "a right outer join")
      standsDown(fact.join(dim, fact("g") === dim("g"), "full")
        .groupBy("attr").agg(count(lit(1)).as("n")), "a full outer join")
      // stale summary: a fact commit without maintenance stands down
      store.insert("fact", Seq((7L, 1, 70.0)).toDF("k", "g", "v"))
      standsDown(fact.join(dim, fact("g") === dim("g")).groupBy("attr")
        .agg(count(lit(1)).as("n")), "a stale summary")
      IncrementalAgg.maintainMinMaxToCurrent(store, "fact", "summary", Seq("g"), "v")
      val fact2 = store.readTable("fact")
      checkServed(fact2.join(dim, fact2("g") === dim("g"))
        .groupBy("attr").agg(count(lit(1)).as("n")), "attr")
    } finally SummaryRewrite.unregister(store, "fact")
  }

  test("C44r: multi-dimension star — the fact leaf swaps anywhere in the inner-join spine") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("fact",
      Seq((1L, 1, 10, 10.0), (2L, 1, 20, 20.0), (3L, 2, 10, 30.0),
        (4L, 2, 20, 31.0), (5L, 3, 10, 50.0)).toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("dim1",
      Seq((1, "east"), (2, "west"), (3, "east")).toDF("g", "region"),
      Seq.empty, infer = false)
    store.createTableFromDataFrame("dim2",
      Seq((10, "big"), (20, "small")).toDF("h", "size"),
      Seq.empty, infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("fact"), Seq("g", "h"), "v"),
      Seq("g", "h"), infer = false)
    IncrementalAgg.markMaintained(store, "fact", "summary",
      store.snapshots("fact").last._1)
    SummaryRewrite.register(spark, store, "fact", "summary", Seq("g", "h"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def checkServed(mk: => org.apache.spark.sql.DataFrame, by: String*): Unit = {
        val paths = scanPaths(mk)
        assert(!paths.exists(_.contains("fact")),
          s"the fact table must NOT be scanned: ${mk.queryExecution.optimizedPlan}")
        SummaryRewrite.unregister(store, "fact")
        val raw = mk.orderBy(by.map(col): _*).collect().toSeq.map(_.toString)
        SummaryRewrite.register(spark, store, "fact", "summary", Seq("g", "h"), "v")
        assert(mk.orderBy(by.map(col): _*).collect().toSeq.map(_.toString) == raw)
      }
      val fact = store.readTable("fact")
      val d1 = store.readTable("dim1")
      val d2 = store.readTable("dim2")
      // two dims, grouped by one attribute from each
      checkServed(fact.join(d1, fact("g") === d1("g")).join(d2, fact("h") === d2("h"))
        .groupBy("region", "size")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("a")), "region", "size")
      // fact joined LAST (the leaf sits deep on the right of the spine)
      checkServed(d1.join(fact, fact("g") === d1("g")).join(d2, fact("h") === d2("h"))
        .groupBy("region").agg(count(lit(1)).as("n")), "region")
      // a dim-side filter composes (kept verbatim in the dim branch)
      checkServed(fact.join(d1.filter(col("region") === "east"), fact("g") === d1("g"))
        .join(d2, fact("h") === d2("h"))
        .groupBy("size").agg(sum(col("v").cast(DecimalType(18, 2))).as("s")), "size")
      // stand-down: one of the two join keys is not a group column
      val bad = fact.join(d1, fact("g") === d1("g")).join(d2, fact("k") === d2("h"))
        .groupBy("region").agg(count(lit(1)).as("n"))
      assert(scanPaths(bad).exists(_.contains("fact")),
        s"a non-group key in the spine must stand down: ${bad.queryExecution.optimizedPlan}")
      // LEFT SEMI (EXISTS): whole groups survive per key match — the
      // same semi over the summary is exact
      checkServed(fact.join(d1.filter(col("region") === "east"),
          fact("g") === d1("g"), "left_semi")
        .groupBy("h").agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s")), "h")
      // LEFT ANTI (NOT EXISTS)
      checkServed(fact.join(d1.filter(col("region") === "east"),
          fact("g") === d1("g"), "left_anti")
        .groupBy("h").agg(count(lit(1)).as("n")), "h")
      // semi composed with an inner dim in one spine
      checkServed(fact.join(d2, fact("h") === d2("h"))
        .join(d1.filter(col("region") === "west"), fact("g") === d1("g"), "left_semi")
        .groupBy("size").agg(count(lit(1)).as("n")), "size")
      // stand-down: semi key not a group column
      val badSemi = fact.join(d2, fact("k") === d2("h"), "left_semi")
        .groupBy("g").agg(count(lit(1)).as("n"))
      assert(scanPaths(badSemi).exists(_.contains("fact")),
        "a non-group semi key must stand down")
      // ADVICE r14: a FILTER over a fact group column that is NEITHER a
      // join key NOR a grouping — the pruned summary Project must keep
      // it (this crashed with ATTRIBUTE_NOT_FOUND at execution before)
      checkServed(fact.join(d1, fact("g") === d1("g")).groupBy("region")
        .agg(expr("count(1) FILTER (WHERE h = 10)").as("n_h10"),
          expr("sum(cast(v as decimal(18,2))) FILTER (WHERE h = 20)").as("s_h20"),
          count(lit(1)).as("n")), "region")
    } finally SummaryRewrite.unregister(store, "fact")
  }

  test("C44s: ROLLUP/CUBE/GROUPING SETS serve from the summary — Expand over cells, never the base") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", "x", 10.0), (2L, "a", "y", 20.0), (3L, "a", "y", 21.0),
        (4L, "b", "x", 30.0), (5L, "c", "x", 50.0), (6L, "c", "z", 51.0))
        .toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMinMax(store.readTable("base"), Seq("g", "h"), "v"),
      Seq("g", "h"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def checkServed(mk: => org.apache.spark.sql.DataFrame): Unit = {
        assert(scanPaths(mk).forall(_.contains("summary")),
          s"should serve: ${mk.queryExecution.optimizedPlan}")
        SummaryRewrite.unregister(store, "base")
        val raw = mk.collect().toSeq.map(_.toString).sorted
        SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "h"), "v")
        assert(mk.collect().toSeq.map(_.toString).sorted == raw)
      }
      val base = store.readTable("base")
      // ROLLUP over both grains, full measure menu
      checkServed(base.rollup("g", "h")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("a"),
          min(col("v").cast(DecimalType(18, 2))).as("lo"),
          max(col("v").cast(DecimalType(18, 2))).as("hi")))
      // CUBE (adds the (h)-only set), count(v) non-null count rides
      checkServed(base.cube("g", "h")
        .agg(count(col("v")).as("nv"),
          sum(col("v").cast(DecimalType(18, 2))).as("s")))
      // subset rollup (one group col), with a served WHERE on the other
      checkServed(base.filter(col("h") =!= "z").rollup("g")
        .agg(count(lit(1)).as("n"),
          max(col("v").cast(DecimalType(18, 2))).as("hi")))
      // grouping() marker functions ride over the grouping-id slot
      checkServed(base.rollup("g", "h")
        .agg(grouping(col("g")).as("gg"), count(lit(1)).as("n")))
      // COUNT(DISTINCT h) under ROLLUP(g): h is a passthrough slot read
      // verbatim off preserved summary values
      checkServed(base.rollup("g")
        .agg(count_distinct(col("h")).as("nh"), count(lit(1)).as("n")))
      // r15: FILTER clauses serve on the Expand path — over the OTHER
      // group column (a pass-through slot) and over the grouping col
      checkServed(base.rollup("g")
        .agg(expr("count(1) FILTER (WHERE h = 'x')").as("n_x"),
          expr("sum(cast(v as decimal(18,2))) FILTER (WHERE g = 'a')").as("s_a"),
          expr("min(cast(v as decimal(18,2))) FILTER (WHERE h <> 'z')").as("lo_nz"),
          count(lit(1)).as("n")))
      // FILTER over a rollup slot that is NULLED per set — null for
      // subtotal rows in the real plan and the rebuilt one alike
      checkServed(base.rollup("g", "h")
        .agg(expr("count(1) FILTER (WHERE g IS NOT NULL)").as("n_gnn"),
          expr("avg(cast(v as decimal(18,2))) FILTER (WHERE h = 'y')").as("a_y"),
          count(lit(1)).as("n")))
      // ── stand-downs ──
      def standsDown(df: org.apache.spark.sql.DataFrame, why: String): Unit =
        assert(scanPaths(df).exists(_.contains("base")),
          s"$why must fall back: ${df.queryExecution.optimizedPlan}")
      // COUNT(DISTINCT …) FILTER on grouping sets stands down: Spark's
      // distinct-aggregate rewrite pre-projects `if(p, h, null)` into a
      // Project BETWEEN the Aggregate and the Expand, so the rule sees
      // neither a bare Expand child nor a servable aggregate — the
      // plain plan runs (correct, just unserved)
      standsDown(base.rollup("g")
        .agg(expr("count(DISTINCT h) FILTER (WHERE g = 'a')").as("nh_a"),
          count(lit(1)).as("n")),
        "a filtered DISTINCT on the Expand path")
      // a FILTER over a fact MEASURE pass-through slot stands down
      standsDown(base.rollup("g")
        .agg(expr("count(1) FILTER (WHERE v > 15)").as("n_hi")),
        "a measure FILTER clause on the Expand path")
      // a grouping-set column that is NOT a summary group column
      standsDown(base.rollup("g", "v").agg(count(lit(1)).as("n")),
        "a non-group grouping-set column")
      // a measure the summary does not carry
      standsDown(base.rollup("g").agg(sum(col("k").cast(DecimalType(18, 2))).as("sk")),
        "an unsummarized measure")
      // a measure filter
      standsDown(base.filter(col("v") > 15).rollup("g").agg(count(lit(1)).as("n")),
        "a measure-filtered rollup")
      // staleness
      store.insert("base", Seq((7L, "a", "x", 70.0)).toDF("k", "g", "h", "v"))
      standsDown(base.rollup("g", "h").agg(count(lit(1)).as("n")), "a stale summary")
      IncrementalAgg.maintainMinMaxToCurrent(store, "base", "summary", Seq("g", "h"), "v")
      checkServed(store.readTable("base").rollup("g", "h")
        .agg(count(lit(1)).as("n"), sum(col("v").cast(DecimalType(18, 2))).as("s")))
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44t: ROLLUP/CUBE over a STAR — Expand over (summary ⋈ dim), never the fact") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.SummaryRewrite
    val store = newStore()
    // g=42 has no dim row; dim g=3 duplicates (multiplicity); dim g=4
    // has no fact rows. NB: the queries are SQL over temp views — the
    // Dataset API's rollup-over-join trips Spark's
    // DetectAmbiguousSelfJoin tag check before any optimizer rule runs
    // (plain Spark, no graft); SQL is how the shape is written in
    // practice and compiles to the same Aggregate-over-Expand-over-Join.
    store.createTableFromDataFrame("fact",
      Seq((1L, 1, 10, 10.0), (2L, 1, 20, 20.0), (3L, 2, 10, 30.0),
        (4L, 2, 20, 31.0), (5L, 3, 10, 50.0), (6L, 42, 20, 99.0))
        .toDF("k", "g", "h", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("dim",
      Seq((1, "east", 1.5), (2, "west", 2.5), (3, "east", 3.5), (3, "east2", 3.6),
        (4, "south", 4.5)).toDF("g", "region", "w"),
      Seq.empty, infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarizeMinMax(store.readTable("fact"), Seq("g", "h"), "v"),
      Seq("g", "h"), infer = false)
    IncrementalAgg.markMaintained(store, "fact", "summary",
      store.snapshots("fact").last._1)
    SummaryRewrite.register(spark, store, "fact", "summary", Seq("g", "h"), "v")
    store.readTable("fact").createOrReplaceTempView("c44t_f")
    store.readTable("dim").createOrReplaceTempView("c44t_d")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def checkServed(sql: String): Unit = {
        def mk = spark.sql(sql)
        val paths = scanPaths(mk)
        assert(!paths.exists(_.contains("fact")),
          s"the fact table must NOT be scanned: ${mk.queryExecution.optimizedPlan}")
        assert(paths.exists(_.contains("summary")), "the summary must be scanned")
        SummaryRewrite.unregister(store, "fact")
        val raw = mk.collect().toSeq.map(_.toString).sorted
        SummaryRewrite.register(spark, store, "fact", "summary", Seq("g", "h"), "v")
        assert(mk.collect().toSeq.map(_.toString).sorted == raw)
      }
      def standsDown(sql: String, why: String): Unit =
        assert(scanPaths(spark.sql(sql)).exists(_.contains("fact")),
          s"$why must fall back to the fact scan")
      // the flagship compose: ROLLUP over (dim attr, fact group col),
      // full measure menu
      checkServed("""SELECT region, h, count(1) AS n,
        sum(cast(v as decimal(18,2))) AS s, avg(cast(v as decimal(18,2))) AS a,
        min(cast(v as decimal(18,2))) AS lo, max(cast(v as decimal(18,2))) AS hi
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(region, h)""")
      // CUBE over the dim attr alone; count(v) rides the nn column
      checkServed("""SELECT region, count(v) AS nv,
        sum(cast(v as decimal(18,2))) AS s
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY CUBE(region)""")
      // grouping() marker + grouping by the fact group col only
      checkServed("""SELECT h, grouping(h) AS gh, count(1) AS n
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(h)""")
      // FILTER clauses on the composed path: fact-slot and dim-slot refs
      checkServed("""SELECT region,
        count(1) FILTER (WHERE h = 10) AS n_h10,
        sum(cast(v as decimal(18,2))) FILTER (WHERE w > 2) AS s_hi,
        count(1) AS n
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(region)""")
      // exact COUNT(DISTINCT fact group col) per set
      checkServed("""SELECT region, count(DISTINCT h) AS nh, count(1) AS n
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(region)""")
      // fact-side WHERE over a group column + a dim-side filter compose
      checkServed("""SELECT region, count(1) AS n
        FROM c44t_f JOIN c44t_d USING (g)
        WHERE c44t_f.g <> 2 AND region <> 'south' GROUP BY ROLLUP(region)""")
      // fact-preserved LEFT OUTER composes with the rollup
      checkServed("""SELECT region, count(1) AS n,
        sum(cast(v as decimal(18,2))) AS s
        FROM c44t_f LEFT JOIN c44t_d USING (g) GROUP BY ROLLUP(region)""")
      // GROUPING SETS with a mixed (dim, fact) set
      checkServed("""SELECT region, h, count(1) AS n
        FROM c44t_f JOIN c44t_d USING (g)
        GROUP BY GROUPING SETS ((region, h), (region), ())""")
      // ── stand-downs ──
      standsDown("""SELECT region, sum(cast(w as decimal(18,2))) AS sw
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(region)""",
        "a dim-side measure under a star rollup")
      standsDown("""SELECT v, count(1) AS n
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(v)""",
        "a fact-measure grouping-set column")
      standsDown("""SELECT region, count(1) FILTER (WHERE v > 15) AS n_hi
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(region)""",
        "a fact-measure FILTER on the composed path")
      standsDown("""SELECT region, count(1) AS n
        FROM c44t_f JOIN c44t_d ON c44t_f.k = c44t_d.g GROUP BY ROLLUP(region)""",
        "a non-group join key under a rollup")
      // staleness (the view re-reads the table so the raw compare and
      // the scan both range over the post-insert generation)
      store.insert("fact", Seq((7L, 1, 10, 70.0)).toDF("k", "g", "h", "v"))
      store.readTable("fact").createOrReplaceTempView("c44t_f")
      standsDown("""SELECT region, count(1) AS n
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(region)""",
        "a stale summary under a star rollup")
      IncrementalAgg.maintainMinMaxToCurrent(store, "fact", "summary",
        Seq("g", "h"), "v")
      checkServed("""SELECT region, h, count(1) AS n,
        sum(cast(v as decimal(18,2))) AS s
        FROM c44t_f JOIN c44t_d USING (g) GROUP BY ROLLUP(region, h)""")
    } finally {
      SummaryRewrite.unregister(store, "fact")
      spark.catalog.dropTempView("c44t_f")
      spark.catalog.dropTempView("c44t_d")
      ()
    }
  }

  test("C44u (r15): fact-fact joins serve BOTH registered sides with multiplicity scaling") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    // fa: g=42 has no fb rows; fb: per-g multiplicities 3 (g=1) / 1 (g=2)
    store.createTableFromDataFrame("fa",
      Seq((1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0), (4L, 42, 99.0))
        .toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("fb",
      Seq((1L, 1, 7, "x", 1.0), (2L, 1, 8, "y", 2.0), (3L, 1, 9, "x", 3.0),
        (4L, 2, 1, "x", 4.0)).toDF("k2", "g", "m", "st", "w"),
      Seq("k2"), infer = false)
    store.createTableFromDataFrame("suma",
      IncrementalAgg.summarizeMinMax(store.readTable("fa"), Seq("g"), "v"),
      Seq("g"), infer = false)
    store.createTableFromDataFrame("sumb",
      IncrementalAgg.summarize(store.readTable("fb"), Seq("g", "st"), "w"),
      Seq("g", "st"), infer = false)
    IncrementalAgg.markMaintained(store, "fa", "suma", store.snapshots("fa").last._1)
    IncrementalAgg.markMaintained(store, "fb", "sumb", store.snapshots("fb").last._1)
    def registerBoth(): Unit = {
      SummaryRewrite.register(spark, store, "fa", "suma", Seq("g"), "v")
      SummaryRewrite.register(spark, store, "fb", "sumb", Seq("g", "st"), "w")
    }
    def unregisterBoth(): Unit = {
      SummaryRewrite.unregister(store, "fa")
      SummaryRewrite.unregister(store, "fb")
    }
    registerBoth()
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def checkServed(mk: => org.apache.spark.sql.DataFrame,
          expectB: Boolean = true): Unit = {
        val paths = scanPaths(mk)
        assert(!paths.exists(_.contains("/fa/")),
          s"fa must NOT be scanned: ${mk.queryExecution.optimizedPlan}")
        assert(!paths.exists(_.contains("/fb/")) == expectB,
          s"fb scan expectation ($expectB) failed: ${mk.queryExecution.optimizedPlan}")
        unregisterBoth()
        val raw = mk.collect().toSeq.map(_.toString).sorted
        registerBoth()
        assert(mk.collect().toSeq.map(_.toString).sorted == raw,
          s"served rows diverged: ${mk.queryExecution.optimizedPlan}")
      }
      val a = store.readTable("fa")
      val b = store.readTable("fb")
      // count/sum/avg scale by fb's per-(g,st) multiplicities; NEITHER
      // base is scanned
      checkServed(a.join(b, a("g") === b("g")).groupBy("st")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          avg(col("v").cast(DecimalType(18, 2))).as("m"),
          min(col("v").cast(DecimalType(18, 2))).as("lo")))
      // grouping by BOTH sides' group columns
      checkServed(a.join(b, a("g") === b("g")).groupBy(b("st"), a("g"))
        .agg(count(lit(1)).as("n"),
          max(col("v").cast(DecimalType(18, 2))).as("hi")))
      // GLOBAL aggregate; count(v) rides the scaled nn cell
      checkServed(a.join(b, a("g") === b("g"))
        .agg(count(col("v")).as("nv"),
          sum(col("v").cast(DecimalType(18, 2))).as("s")))
      // exact COUNT(DISTINCT primary group col) — multiplicity-proof
      checkServed(a.join(b, a("g") === b("g")).groupBy("st")
        .agg(count_distinct(a("g")).as("ng"), count(lit(1)).as("n")))
      // FILTER over the secondary's group column (consumed, re-aliased)
      checkServed(a.join(b, a("g") === b("g"))
        .agg(expr("count(1) FILTER (WHERE st = 'x')").as("n_x"),
          count(lit(1)).as("n")))
      // a WHERE on the secondary's group columns lands on ITS summary
      checkServed(a.join(b.filter(col("st") =!= "y"), a("g") === b("g"))
        .groupBy("st").agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s")))
      // a measure over the SECONDARY stands the whole rewrite down
      // (aggregates range over one side only, by design)
      val both = a.join(b, a("g") === b("g")).groupBy("st")
        .agg(sum(col("v").cast(DecimalType(18, 2))).as("sv"),
          sum(col("w").cast(DecimalType(18, 2))).as("sw"))
      assert(scanPaths(both).exists(_.contains("/fa/")) ||
        scanPaths(both).exists(_.contains("/fb/")),
        "measures over both sides must stand down")
      // a non-group fb join key (m, same type as g): fb stays a
      // verbatim scan, fa STILL serves (secondary failure is never a
      // stand-down of the whole rewrite)
      checkServed(a.join(b, a("g") === b("m")).groupBy("st")
        .agg(count(lit(1)).as("n")), expectB = false)
      // r15: a LEFT SEMI/ANTI reference set served from ITS summary —
      // the EXISTS check needs only the key SET, which the grain
      // projection preserves (multiplicity-free, no n_rows needed)
      checkServed(a.join(b.filter(col("st") === "x"), a("g") === b("g"), "left_semi")
        .groupBy("g").agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s")))
      checkServed(a.join(b.filter(col("st") === "x"), a("g") === b("g"), "left_anti")
        .groupBy("g").agg(count(lit(1)).as("n")))
      // a reference filter on a NON-group column: the ref stays a
      // verbatim scan, the fact still serves
      checkServed(a.join(b.filter(col("w") > 1.5), a("g") === b("g"), "left_semi")
        .groupBy("g").agg(count(lit(1)).as("n")), expectB = false)
      // fb stale: falls back to the verbatim fb scan, fa still serves
      store.insert("fb", Seq((5L, 2, 2, "y", 5.0)).toDF("k2", "g", "m", "st", "w"))
      val a2 = store.readTable("fa")
      val b2 = store.readTable("fb")
      checkServed(a2.join(b2, a2("g") === b2("g")).groupBy("st")
        .agg(count(lit(1)).as("n")), expectB = false)
    } finally unregisterBoth()
  }

  test("C44v (r15): exact COUNT(DISTINCT measure) — the distinct-grain summary (classic distinct-MV)") {
    // the composition that serves it: a summary whose GRAIN includes
    // the measure ((g, v), n_rows per pair) makes COUNT(DISTINCT v)
    // GROUP BY g a C44q group-column distinct under a SUBSET grouping —
    // counting summary rows per group, exact and maintained
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DecimalType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "a", 10.0), (3L, "a", 20.0),
        (4L, "b", 10.0), (5L, "b", 30.0)).toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g", "v"), "v"),
      Seq("g", "v"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "v"), "v")
    try {
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def checkServed(mk: => org.apache.spark.sql.DataFrame): Unit = {
        assert(scanPaths(mk).forall(_.contains("summary")),
          s"should serve: ${mk.queryExecution.optimizedPlan}")
        SummaryRewrite.unregister(store, "base")
        val raw = mk.collect().toSeq.map(_.toString).sorted
        SummaryRewrite.register(spark, store, "base", "summary", Seq("g", "v"), "v")
        assert(mk.collect().toSeq.map(_.toString).sorted == raw)
      }
      def query = store.readTable("base").groupBy("g")
        .agg(count_distinct(col("v")).as("nv"),
          count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"))
      checkServed(query)
      // the global distinct too (subset grouping = empty set)
      checkServed(store.readTable("base")
        .agg(count_distinct(col("v")).as("nv"), count(lit(1)).as("n")))
      // maintenance property: value updates move pairs between grain
      // rows; deletes kill pairs; the distinct count follows exactly
      store.upsert("base", Seq((2L, "a", 20.0), (6L, "b", 40.0)).toDF("k", "g", "v"))
      store.delete("base", Seq(5L).toDF("k"))
      IncrementalAgg.maintainToCurrent(store, "base", "summary", Seq("g", "v"), "v")
      checkServed(query)
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44s guard: an Expand slot carrying a NON-NULL literal row stands down (ADVICE r14)") {
    // constructExpand only ever emits (source expr | null) per group
    // slot, but the rule matches ANY Expand — a hand-built projection
    // row holding a non-null literal (neither null nor the source
    // expression) must stand the rewrite down instead of being silently
    // rewritten as the source expression (wrong values)
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.LongType
    import graft.plans.SummaryRewrite
    val store = newStore()
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
    try {
      val scan = store.readTable("base").queryExecution.optimizedPlan
      val gAttr = scan.output.find(_.name == "g").get
      val gOut = AttributeReference("g", gAttr.dataType)()
      val gid = AttributeReference("spark_grouping_id", LongType, nullable = false)()
      def mkPlan(row1: org.apache.spark.sql.catalyst.expressions.Expression) = {
        val expand = Expand(
          Seq(Seq(gAttr, Literal(0L)), Seq(row1, Literal(1L))),
          Seq(gOut, gid), scan)
        Aggregate(Seq(gOut, gid),
          Seq(gOut, Alias(Count(Seq(Literal(1))).toAggregateExpression(), "n")()),
          expand)
      }
      def scans(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
        org.apache.spark.sql.graftx.bridge.ofRows(spark, p)
          .queryExecution.optimizedPlan.collect {
            case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
              fs.location.rootPaths.map(_.toString)
          }.flatten
      // the legitimate shape (source expr | null) serves
      val good = scans(mkPlan(Literal.create(null, gAttr.dataType)))
      assert(good.nonEmpty && good.forall(_.contains("summary")),
        s"the (expr | null) slot shape must serve — scans $good")
      // a non-null literal row must stand down to the base scan
      val bad = scans(mkPlan(Literal("zz")))
      assert(bad.exists(_.contains("base")),
        s"a non-null literal slot row must stand down — scans $bad")
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("r14: content-derived props signature — a same-mtime foreign maintenance write still flips freshness") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.SummaryRewrite
    val dir = Files.createTempDirectory("graft_propsv_").toString
    val store = new TableStore(spark, dir)
    store.createTableFromDataFrame("base",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"), Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq("g"), infer = false)
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
    try {
      def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = store.readTable("base").groupBy("g").agg(count(lit(1)).as("n"))
      assert(scans(q).forall(_.contains("summary")))
      // stale it in-process, and compile twice so the not-fresh probe
      // result is CACHED with the current signature
      store.insert("base", Seq((3L, "c", 30.0)).toDF("k", "g", "v"))
      assert(scans(q).exists(_.contains("base")))
      assert(scans(q).exists(_.contains("base")))
      val props = new java.io.File(dir, "summary/props.json")
      val pinned = props.lastModified()
      // FOREIGN maintenance (a second store instance = second process):
      // advances the watermark through a props write this session's
      // in-process commit epoch cannot see
      val store2 = new TableStore(spark, dir)
      IncrementalAgg.maintainToCurrent(store2, "base", "summary", Seq("g"), "v")
      // pin the file's mtime back to the pre-write value — on a
      // coarse-mtime store the write is invisible to any timestamp
      // signature; the in-payload monotonic version is not
      assert(props.setLastModified(pinned))
      assert(scans(q).forall(_.contains("summary")),
        "a same-mtime foreign maintenance write must still flip the summary fresh")
    } finally SummaryRewrite.unregister(store, "base")
  }

  test("C44q: exact-grain COUNT(DISTINCT group col) answers 0 for a NULL group (public register() path)") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.SummaryRewrite
    val store = newStore()
    // the managed define() path makes groups PK-non-null, but
    // register() is public — a hand-registered base may carry NULL
    // group rows (groupBy keeps a NULL group; DISTINCT ignores it)
    store.createTableFromDataFrame("base",
      Seq((1L, Some("a"), 10.0), (2L, Some("a"), 20.0),
        (3L, Option.empty[String], 30.0), (4L, Option.empty[String], 31.0))
        .toDF("k", "g", "v"),
      Seq("k"), infer = false)
    store.createTableFromDataFrame("summary",
      IncrementalAgg.summarize(store.readTable("base"), Seq("g"), "v"),
      Seq.empty, infer = false) // NO PK: g is nullable here
    IncrementalAgg.markMaintained(store, "base", "summary",
      store.snapshots("base").last._1)
    SummaryRewrite.register(spark, store, "base", "summary", Seq("g"), "v")
    try {
      val q = store.readTable("base").groupBy("g")
        .agg(count_distinct(col("g")).as("ng"), count(lit(1)).as("n"))
      val scans = q.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten
      assert(scans.forall(_.contains("summary")),
        s"should serve: ${q.queryExecution.optimizedPlan}")
      val served = q.orderBy(asc_nulls_first("g")).collect().toSeq.map(_.toString)
      SummaryRewrite.unregister(store, "base")
      val raw = q.orderBy(asc_nulls_first("g")).collect().toSeq.map(_.toString)
      assert(served == raw, s"served=$served raw=$raw")
      assert(raw.head.contains("0"), "the NULL group's COUNT(DISTINCT g) is 0")
    } finally SummaryRewrite.unregister(store, "base")
  }
}
