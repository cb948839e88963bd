package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Drives the reference's documented workflow (merge.py doctest
  * merge.py:44-89 + package.py example) through the Graft facade
  * end-to-end. */
class GraftApiSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("the reference's merge doctest workflow runs 1:1 through the facade") {
    val clock = lit("2026-02-03 04:05:06").cast(TimestampType)
    val sql = Graft(spark, Files.createTempDirectory("graft_api_").toString,
      includeMetadataTimestamps = true, clock = () => clock)

    // create.table with SQL types + PK, insert initial rows
    sql.create.table("ExampleMergeDF",
      Seq("State" -> "CHAR(1)", "ColumnA" -> "TINYINT", "ColumnB" -> "CHAR(1)", "PK" -> "TINYINT"),
      primaryKey = Seq("PK"))
    sql.write.insert("ExampleMergeDF",
      Seq(("A", 3, "a", 0), ("B", 4, "b", 1)).toDF("State", "ColumnA", "ColumnB", "PK"))

    // merge: delete PK=0, update PK=1, insert PK=2
    sql.write.merge("ExampleMergeDF",
      Seq(("B", 5, "b", 1), ("C", 6, "d", 2)).toDF("State", "ColumnA", "ColumnB", "PK"))
    val afterMerge = sql.read.table("ExampleMergeDF", orderBy = Seq("PK"))
    assert(afterMerge.select("PK", "State", "ColumnA").as[(Int, String, Int)].collect().toSeq ==
      Seq((1, "B", 5), (2, "C", 6)))
    // timestamps: PK=1 was inserted under the session flag (_time_insert
    // from the initial insert) and updated by the merge (_time_update);
    // PK=2 inserted by the merge (no _time_update yet)
    val ts = afterMerge.select("PK", "_time_insert", "_time_update").collect()
      .map(r => (r.getShort(0).toInt, !r.isNullAt(1), !r.isNullAt(2))).toSeq // TINYINT → ShortType
    assert(ts == Seq((1, true, true), (2, true, false)))

    // incremental merge with delete_requires: PK=2 (State=C) survives
    sql.write.merge("ExampleMergeDF",
      Seq(("B", 6, "d", 1), ("D", 6, "d", 3)).toDF("State", "ColumnA", "ColumnB", "PK"),
      deleteRequires = Seq("State"))
    assert(sql.read.table("ExampleMergeDF", orderBy = Seq("PK"))
      .select("PK").as[Int].collect().toSeq == Seq(1, 2, 3))

    // upsert: never deletes
    sql.write.merge("ExampleMergeDF",
      Seq(("B", 10, "x", 1), ("E", 0, "y", 4)).toDF("State", "ColumnA", "ColumnB", "PK"),
      upsert = true)
    assert(sql.read.table("ExampleMergeDF", orderBy = Seq("PK"))
      .select("PK").as[Int].collect().toSeq == Seq(1, 2, 3, 4))

    // read with where/projection (PK always included), schema description
    val filtered = sql.read.table("ExampleMergeDF",
      columns = Seq("ColumnA"), where = Some("ColumnA >= 6"), orderBy = Seq("PK"))
    assert(filtered.columns.toSeq == Seq("PK", "ColumnA"))
    // PK=1 has ColumnA=10 after the upsert; 2 and 3 hold 6
    assert(filtered.select("PK").as[Int].collect().toSeq == Seq(1, 2, 3))
    assert(sql.getSchema("ExampleMergeDF").filter(col("column_name") === "State")
      .select("sql_type").as[String].collect().head == "char(1)")

    // upsert + delete_requires rejected, like the reference (merge.py:92)
    assertThrows[IllegalArgumentException](
      sql.write.merge("ExampleMergeDF", Seq(("X", 1, "x", 9)).toDF("State", "ColumnA", "ColumnB", "PK"),
        upsert = true, deleteRequires = Seq("State")))
  }

  test("maintenance + scd2 surfaces run through the facade") {
    val clock = lit("2026-02-03 04:05:06").cast(TimestampType)
    val sql = Graft(spark, Files.createTempDirectory("graft_api2_").toString,
      clock = () => clock)
    sql.create.table("dim", Seq("k" -> "bigint", "v" -> "varchar(10)"), Seq("k"))
    sql.write.insert("dim", spark.range(0, 100).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    sql.maintenance.compact("dim")
    sql.maintenance.analyze("dim")
    sql.maintenance.cluster("dim", Seq("k"), filesTarget = 4)
    assert(sql.read.table("dim").count() == 100)
    // scd2 through write: change one key, history grows by exactly one
    sql.write.scd2("dim", Seq((5L, "CHANGED")).toDF("k", "v"))
    assert(sql.read.table("dim").count() == 101)
    assert(sql.read.table("dim", where = Some("k = 5"), orderBy = Seq("_valid_from"))
      .select("v").as[String].collect().toSeq == Seq("v5", "CHANGED"))
  }

  test("audit callback traces DDL and auto-adjust actions (package.py:52)") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val sql = Graft(spark, Files.createTempDirectory("graft_audit_").toString,
      audit = events += _)
    sql.create.table("t", Seq("k" -> "tinyint"))
    // auto-adjust: unknown column added + k widened by the 70000 value
    sql.write.insert("t", Seq((70000, "x")).toDF("k", "extra"), autoAdjust = true)
    sql.modify.addColumn("t", "w", "varchar(5)")
    sql.modify.dropColumn("t", "w")
    val log = events.toSeq
    assert(log.head.startsWith("create table t (k tinyint)"), log.mkString("\n"))
    assert(log.exists(e => e.startsWith("auto-adjust: adding missing column t.extra")), log.mkString("\n"))
    assert(log.exists(_ == "auto-adjust: widening t.k tinyint -> int"), log.mkString("\n"))
    assert(log.contains("add column t.w varchar(5)") && log.contains("drop column t.w"))
    // snapshot surface rides the same facade: the first generation (the
    // auto-adjust alter's rewrite, committed BEFORE the append) is empty
    val g1 = sql.read.snapshots("t").head._1
    assert(sql.read.tableAt("t", g1).count() == 0)
    sql.maintenance.vacuum("t")
    assert(log.size < events.size) // vacuum audited too
  }

  test("logInit reports runtime versions through the audit channel") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val g = Graft(spark, Files.createTempDirectory("graft_ver_").toString,
      audit = lines += _)
    val info = g.logInit()
    assert(info("spark") == spark.version && info.contains("scala") && info.contains("java"))
    assert(lines.exists(_.startsWith("version info: ")))
  }

  test("C34: Spark SQL runs over managed tables through the facade") {
    val g = Graft(spark, Files.createTempDirectory("graft_sql_").toString)
    g.create.table("dim", Seq("k" -> "int", "name" -> "varchar(10)"), Seq("k"))
    g.create.table("fact", Seq("id" -> "int", "k" -> "int", "v" -> "int"), Seq("id"))
    g.write.insert("dim", Seq((1, "one"), (2, "two")).toDF("k", "name"))
    g.write.insert("fact",
      Seq((10, 1, 5), (11, 1, 7), (12, 2, 9)).toDF("id", "k", "v"))
    assert(g.sql("SELECT 1").count() == 1) // registers every table by default
    val out = g.sql(
      """SELECT d.name, SUM(f.v) AS total
        |FROM fact f JOIN dim d ON f.k = d.k
        |GROUP BY d.name ORDER BY d.name""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("one", 12L), ("two", 9L)))
    // views are point-in-time: a mutation after registration is not
    // visible to an already-captured view until the next sql() call
    g.write.insert("fact", Seq((13, 2, 1)).toDF("id", "k", "v"))
    val again = g.sql("SELECT COUNT(*) AS n FROM fact").as[Long].head()
    assert(again == 4)
    // asOf pins a table to a generation: SQL over history (the
    // second-latest generation is the pre-append 3-row state)
    val preAppend = g.read.snapshots("fact").map(_._1).sorted.takeRight(2).head
    val old = g.sql("SELECT COUNT(*) AS n FROM fact", asOf = Map("fact" -> preAppend))
      .as[Long].head()
    assert(old == 3, "asOf view must serve the pinned snapshot")
  }

  test("C37: partitioned export of a managed table is point-in-time and re-readable pruned") {
    val root = Files.createTempDirectory("graft_api_exp_").toString
    val g = Graft(spark, root)
    g.create.tableFromDataFrame("t",
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
        .toDF("k", "grp", "v"), primaryKey = Seq("k"))
    val genBefore = g.read.snapshots("t").map(_._1).max
    g.write.insert("t", Seq((4L, "b", 40L)).toDF("k", "grp", "v"))
    // current export carries all four rows, laid out by grp
    val cur = s"$root/export_cur"
    g.export.partitioned("t", cur, Seq("grp"))
    val back = spark.read.parquet(cur)
    assert(back.count() == 4)
    assert(new java.io.File(cur).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("grp=")) == 2)
    // snapshot-pinned export reproduces the pre-insert state exactly
    val old = s"$root/export_old"
    g.export.partitioned("t", old, Seq("grp"), asOf = Some(genBefore))
    val oldBack = spark.read.parquet(old)
    assert(oldBack.count() == 3)
    // infer narrows k to SMALLINT — cast back for the comparison
    assert(oldBack.select(col("k").cast("long")).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("schema-qualified names (dbo.Example) work end to end, addressed as dbo_Example in SQL") {
    val sql = Graft(spark, Files.createTempDirectory("graft_dbo_").toString)
    sql.create.table("dbo.Example", Seq("A" -> "INT", "B" -> "VARCHAR(5)"),
      primaryKey = Seq("A"))
    sql.write.insert("dbo.Example", Seq((1, "x"), (2, "y")).toDF("A", "B"))
    sql.write.merge("dbo.Example", Seq((2, "z"), (3, "w")).toDF("A", "B"), upsert = true)
    assert(sql.read.table("dbo.Example", orderBy = Seq("A"))
      .select("B").as[String].collect().toSeq == Seq("x", "z", "w"))
    assert(sql.sql("SELECT count(*) AS n FROM dbo_Example").collect().head.getLong(0) == 3L)
  }

  test("## session temp tables: create/mutate/sql like the reference doctests, dropped on close") {
    val root = Files.createTempDirectory("graft_tmp_").toString
    val sql = Graft(spark, root)
    // reference create.py:54 doctest shape: ##-prefixed scratch table
    sql.create.table("##ExampleCreateTable",
      Seq("A" -> "VARCHAR(100)", "B" -> "INT"), primaryKey = Seq("B"))
    sql.write.insert("##ExampleCreateTable", Seq(("x", 1), ("y", 2)).toDF("A", "B"))
    // participates in keyed mutation
    sql.write.merge("##ExampleCreateTable", Seq(("z", 2), ("w", 3)).toDF("A", "B"), upsert = true)
    assert(sql.read.table("##ExampleCreateTable", orderBy = Seq("B"))
      .select("A").as[String].collect().toSeq == Seq("x", "z", "w"))
    // a permanent table of the same base name is a DIFFERENT table
    sql.create.table("ExampleCreateTable", Seq("A" -> "VARCHAR(100)"))
    assert(sql.read.table("##ExampleCreateTable").count() == 3)
    assert(sql.read.table("ExampleCreateTable").count() == 0)
    // SQL surface: session tables register under their physical name
    assert(sql.sql("SELECT count(*) AS n FROM tmp_ExampleCreateTable")
      .collect().head.getLong(0) == 3L)
    // close drops every session table; permanent tables survive
    sql.close()
    assertThrows[errors.TableDoesNotExist](sql.read.table("##ExampleCreateTable").count())
    assert(sql.read.table("ExampleCreateTable").count() == 0)
    // and the session keeps working after close (fresh scratch space)
    sql.create.table("##Again", Seq("A" -> "INT"), primaryKey = Seq("A"))
    sql.write.insert("##Again", Seq(7).toDF("A"))
    assert(sql.read.table("##Again").count() == 1)
    sql.close()
  }

  test("sql() refuses ambiguous mangled view names instead of silently picking one") {
    val g = Graft(spark, Files.createTempDirectory("graft_clash_").toString)
    // '##X' registers as view tmp_X — identical to a permanent table
    // literally named tmp_X
    g.create.table("##X", Seq("A" -> "INT"), primaryKey = Seq("A"))
    g.write.insert("##X", Seq(1).toDF("A"))
    g.create.table("tmp_X", Seq("A" -> "INT"), primaryKey = Seq("A"))
    val e1 = intercept[IllegalArgumentException](g.sql("SELECT count(*) FROM tmp_X"))
    assert(e1.getMessage.contains("tmp_X"))
    // an explicit disjoint tables list resolves it
    assert(g.sql("SELECT count(*) AS n FROM tmp_X", tables = Seq("##X"))
      .collect().head.getLong(0) == 1L)
    assert(g.sql("SELECT count(*) AS n FROM tmp_X", tables = Seq("tmp_X"))
      .collect().head.getLong(0) == 0L)
    g.close()
    // 'a.b' registers as a_b — identical to a table literally named a_b
    val h = Graft(spark, Files.createTempDirectory("graft_clash2_").toString)
    h.create.table("a.b", Seq("A" -> "INT"), primaryKey = Seq("A"))
    h.create.table("a_b", Seq("A" -> "INT"), primaryKey = Seq("A"))
    val e2 = intercept[IllegalArgumentException](h.sql("SELECT count(*) FROM a_b"))
    assert(e2.getMessage.contains("a_b"))
    h.close()
  }

  test("C46: summaries facade — define/attach/maintain/detach across all five kinds") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    import graft.store.IncrementalAgg
    val g = Graft(spark, Files.createTempDirectory("graft_mvapi_").toString)
    try {
      g.create.tableFromDataFrame("base",
        Seq((1L, "a", 10.0, 1.0), (2L, "a", 20.0, 2.0), (3L, "b", 30.0, 3.0))
          .toDF("k", "grp", "v", "w"), Seq("k"))
      g.summaries.define("s_sum", "base", Seq("grp"), Seq("v"))
      g.summaries.define("s_mm", "base", Seq("grp"), Seq("v"), kind = "minmax")
      g.summaries.define("s_multi", "base", Seq("grp"), Seq("v", "w"), kind = "multi")
      g.summaries.define("s_mmm", "base", Seq("grp"), Seq("v", "w"), kind = "multiminmax")
      g.summaries.define("s_d", "base", Seq("grp"), Seq("v"), kind = "distinct", k = 4)
      // C46c: the inventory lists exactly the defined summaries (by
      // descriptor presence — the base itself carries none)
      assert(g.summaries.list().toSet ==
        Set("s_sum", "s_mm", "s_multi", "s_mmm", "s_d"))
      // mutate, then REFRESH each by name — the descriptor dispatches
      g.write.merge("base", Seq((1L, "a", 99.0, 0.5), (4L, "c", 7.0, 7.0))
        .toDF("k", "grp", "v", "w"), upsert = true)
      g.write.delete("base", Seq(3L).toDF("k"))
      Seq("s_sum", "s_mm", "s_multi", "s_mmm", "s_d").foreach(g.summaries.maintain)
      // every maintained table equals its batch recompute
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("grp").collect().map(_.toString).toSeq
      val base = g.read.table("base")
      assert(rows(g.read.table("s_sum")) == rows(IncrementalAgg.summarize(base, Seq("grp"), "v")))
      assert(rows(g.read.table("s_mm")) == rows(IncrementalAgg.summarizeMinMax(base, Seq("grp"), "v")))
      assert(rows(g.read.table("s_multi")) == rows(IncrementalAgg.summarizeMulti(base, Seq("grp"), Seq("v", "w"))))
      assert(rows(g.read.table("s_mmm")) == rows(IncrementalAgg.summarizeMultiMinMax(base, Seq("grp"), Seq("v", "w"))))
      assert(rows(g.read.table("s_d")) == rows(IncrementalAgg.summarizeDistinct(base, Seq("grp"), "v", 4)))
      // the rewrite routes: a min query reads a minmax-capable summary
      def scans(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def qMin = g.read.table("base").groupBy("grp")
        .agg(min(col("v").cast(DecimalType(18, 2))).as("lo"))
      assert(scans(qMin).forall(p => p.contains("s_mm") || p.contains("s_mmm")),
        s"min should route to a minmax summary: ${qMin.queryExecution.optimizedPlan}")
      def qKmv = g.read.table("base").groupBy("grp")
        .agg(graft.plans.GraftFunctions.kmvDistinct(col("v"), 4).as("d"))
      assert(scans(qKmv).forall(_.contains("s_d")))
      // maintain on an undefined table raises; detach stands everything down
      intercept[IllegalArgumentException](g.summaries.maintain("base"))
      g.summaries.detach("base")
      assert(scans(qMin).exists(_.contains("base")))
      // attach restores routing from the descriptors alone
      Seq("s_sum", "s_mm", "s_multi", "s_mmm", "s_d").foreach(g.summaries.attach)
      assert(scans(qMin).forall(p => p.contains("s_mm") || p.contains("s_mmm")))
    } finally { g.summaries.detach("base"); g.close() }
  }

  test("C48/C46b: auto-maintained summaries — every base commit folds; status reports freshness") {
    import org.apache.spark.sql.functions._
    import graft.store.IncrementalAgg
    val g = Graft(spark, Files.createTempDirectory("graft_mvauto_").toString)
    try {
      g.create.tableFromDataFrame("base",
        Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "grp", "v"),
        Seq("k"))
      g.summaries.define("s_auto", "base", Seq("grp"), Seq("v"),
        kind = "minmax", autoMaintain = true)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("grp").collect().map(_.toString).toSeq
      def converged(): Unit = assert(
        rows(g.read.table("s_auto")) ==
          rows(IncrementalAgg.summarizeMinMax(g.read.table("base"), Seq("grp"), "v")),
        "auto-maintained summary must equal the batch recompute with no maintain() call")
      // NO maintain() call anywhere below — the post-commit hook folds
      g.write.insert("base", Seq((4L, "c", 40.0)).toDF("k", "grp", "v"))
      converged()
      g.write.merge("base", Seq((1L, "a", 99.0), (5L, "a", 5.0)).toDF("k", "grp", "v"),
        upsert = true)
      converged()
      g.write.delete("base", Seq(3L).toDF("k")) // group b dies through the hook
      converged()
      assert(g.read.table("s_auto").filter(col("grp") === "b").count() == 0)
      val st = g.summaries.status("s_auto")
      assert(st("fresh") == "true" && st("auto_maintain") == "true" &&
        st("kind") == "minmax" && st("maintained_gen") == st("base_gen"), st.toString)
      // disarm: the next commit leaves the summary STALE (safe — the
      // rewrite stands down), status says so, explicit maintain heals
      g.summaries.autoMaintainOff("s_auto")
      g.write.insert("base", Seq((6L, "d", 60.0)).toDF("k", "grp", "v"))
      val st2 = g.summaries.status("s_auto")
      assert(st2("fresh") == "false" && st2("auto_maintain") == "false", st2.toString)
      g.summaries.maintain("s_auto")
      converged()
      // re-arm via autoMaintainOn and via a fresh-session attach
      g.summaries.autoMaintainOn("s_auto")
      g.write.insert("base", Seq((7L, "d", 70.0)).toDF("k", "grp", "v"))
      converged()
      val g2 = Graft(spark, g.root)
      try {
        g2.summaries.attach("s_auto") // descriptor carries the flag — re-arms
        g2.write.insert("base", Seq((8L, "e", 80.0)).toDF("k", "grp", "v"))
        assert(rows(g2.read.table("s_auto")) ==
          rows(IncrementalAgg.summarizeMinMax(g2.read.table("base"), Seq("grp"), "v")))
      } finally { g2.summaries.detach("base"); g2.close() }
    } finally { g.summaries.detach("base"); g.close() }
  }

  test("C47: summaries over DERIVED group columns — daily rollup defined, maintained and served by expression") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    import graft.store.IncrementalAgg
    val g = Graft(spark, Files.createTempDirectory("graft_mvder_").toString)
    try {
      val rows = (1L to 60L).map(i =>
        (i, java.time.LocalDateTime.of(2026, 1, (i % 9 + 1).toInt, (i % 24).toInt, 0),
          (i % 7).toDouble))
      g.create.tableFromDataFrame("ev",
        rows.toDF("event_id", "ts", "v"), Seq("event_id"), infer = false)
      g.summaries.define("daily", "ev", Seq("day"), Seq("v"),
        kind = "minmax", deriveCols = Seq("day" -> "to_date(ts)"))
      // mutate through the fold: bump values (preimages → rescan) + delete
      g.write.merge("ev", rows.filter(_._1 <= 20)
        .map { case (i, t, v) => (i, t, v + 1) }.toDF("event_id", "ts", "v"),
        upsert = true)
      g.write.delete("ev", Seq(5L, 6L).toDF("event_id"))
      g.summaries.maintain("daily")
      // maintained table == batch recompute over the derived view
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("day").collect().map(_.toString).toSeq
      assert(rowsOf(g.read.table("daily")) == rowsOf(
        IncrementalAgg.summarizeMinMax(
          IncrementalAgg.derivedView(g.read.table("ev"), Seq("day" -> "to_date(ts)")),
          Seq("day"), "v")))
      // a GROUP BY to_date(ts) aggregate is served from the summary
      def scans(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def q = g.read.table("ev").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          min(col("v").cast(DecimalType(18, 2))).as("lo"))
        .orderBy("day")
      assert(scans(q).forall(_.contains("daily")),
        s"derived grouping should rewrite: ${q.queryExecution.optimizedPlan}")
      def raw = {
        g.summaries.detach("ev")
        val r = q.collect().toSeq.map(_.toString)
        g.summaries.attach("daily")
        r
      }
      assert(q.collect().toSeq.map(_.toString) == raw)
      // the GLOBAL rollup over the derived summary serves too
      def qg = g.read.table("ev")
        .agg(count(lit(1)).as("n"), max(col("v").cast(DecimalType(18, 2))).as("hi"))
      assert(scans(qg).forall(_.contains("daily")))
      // a DIFFERENT derivation over the same column stands down
      val qOther = g.read.table("ev").groupBy(date_trunc("month", col("ts")).as("m"))
        .agg(count(lit(1)).as("n"))
      assert(scans(qOther).exists(_.contains("ev")))
    } finally { g.summaries.detach("ev"); g.close() }
  }

  test("summary define() guards: derived-name shadowing and empty group list are rejected") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_mvguard_").toString
    val g = Graft(spark, dir)
    try {
      g.create.tableFromDataFrame("base",
        Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "grp", "v"), Seq("k"))
      // a derivation named after a PHYSICAL column would silently
      // replace its values during maintenance while queries over the
      // physical column template-match by name — must reject, and
      // BEFORE anything is bootstrapped
      val e = intercept[IllegalArgumentException] {
        g.summaries.define("bad", "base", Seq("grp"), Seq("v"),
          deriveCols = Seq("grp" -> "upper(grp)"))
      }
      assert(e.getMessage.contains("shadows"), e.getMessage)
      intercept[Exception] { g.read.table("bad") } // nothing half-created
      // the identity derivation may reuse the name (it IS the column)
      g.summaries.define("ok", "base", Seq("grp"), Seq("v"),
        deriveCols = Seq("grp" -> "grp"))
      g.summaries.maintain("ok")
      assert(g.read.table("ok").count() == 2)
      // zero group columns would not round-trip the descriptor
      // ("".split(',') is [""]) and have no keyable row identity
      val e2 = intercept[IllegalArgumentException] {
        g.summaries.define("glob", "base", Seq.empty, Seq("v"))
      }
      assert(e2.getMessage.contains("group column"), e2.getMessage)
      // the rewrite-registration path enforces shadowing independently
      val e3 = intercept[IllegalArgumentException] {
        graft.plans.SummaryRewrite.register(spark,
          new graft.store.TableStore(spark, dir), "base", "ok",
          Seq("grp"), "v", derive = Seq("v" -> "v * 2"))
      }
      assert(e3.getMessage.contains("shadows"), e3.getMessage)
      // QUANTILE is strict — even the identity derivation is rejected
      // (registerQuantile has no identity carve-out; without this
      // define-side guard the table bootstraps and THEN the trailing
      // attach() throws, leaving a permanently broken summary)
      val e4 = intercept[IllegalArgumentException] {
        g.summaries.define("badq", "base", Seq("grp"), Seq("v"),
          kind = "quantile", deriveCols = Seq("grp" -> "grp"))
      }
      assert(e4.getMessage.contains("shadows"), e4.getMessage)
      intercept[Exception] { g.read.table("badq") } // nothing half-created
    } finally { g.summaries.detach("base"); g.close() }
  }

  test("C41h×C47: distinctmulti summaries over DERIVED group columns maintain through feed AND rescan") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.functions._
    import graft.store.IncrementalAgg
    val g = Graft(spark, Files.createTempDirectory("graft_mvkmd_").toString)
    try {
      val rows = (1L to 80L).map(i =>
        (i, java.time.LocalDateTime.of(2026, 3, (i % 5 + 1).toInt, (i % 24).toInt, 0),
          "u" + (i % 11), "t" + (i % 3)))
      g.create.tableFromDataFrame("ev",
        rows.toDF("event_id", "ts", "uid", "etype"), Seq("event_id"), infer = false)
      // the r13 defect: define() accepted deriveCols for distinctmulti
      // but maintain() dropped them — the first fold threw, and under
      // autoMaintain the failure was swallowed (silently stale forever)
      g.summaries.define("byday", "ev", Seq("day"), Seq("uid", "etype"),
        kind = "distinctmulti", k = 4,
        deriveCols = Seq("day" -> "to_date(ts)"), autoMaintain = true)
      def converged(): Unit = {
        val derived = IncrementalAgg.derivedView(
          g.read.table("ev"), Seq("day" -> "to_date(ts)"))
        assert(g.read.table("byday").orderBy("day").collect().map(_.toString).toSeq ==
          IncrementalAgg.summarizeDistinctMulti(derived, Seq("day"), Seq("uid", "etype"), 4)
            .orderBy("day").collect().map(_.toString).toSeq,
          "maintained distinctmulti summary must equal the batch recompute")
        assert(g.summaries.status("byday")("fresh") == "true",
          "the auto-maintain hook must not die on the derived fold")
      }
      // insert-only commit: the register-union leg derives the feed
      g.write.insert("ev", Seq((81L,
        java.time.LocalDateTime.of(2026, 3, 2, 9, 0), "u99", "t9"))
        .toDF("event_id", "ts", "uid", "etype"))
      converged()
      // upsert with preimages + keyed delete: the RESCAN leg must also
      // run over the derived view (readTableAt has no day column)
      g.write.merge("ev", rows.filter(_._1 <= 30)
        .map { case (i, t, _, e) => (i, t, "w" + (i % 7), e) }
        .toDF("event_id", "ts", "uid", "etype"), upsert = true)
      converged()
      g.write.delete("ev", (1L to 16L).toDF("event_id"))
      converged()
      // the served read: kmvDistinct per measure, grouped by the
      // derived day, asserted in-plan onto the summary
      val q = g.read.table("ev").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          graft.plans.GraftFunctions.kmvDistinct(col("uid"), 4).as("du"),
          graft.plans.GraftFunctions.kmvDistinct(col("etype"), 4).as("de"))
      val scans = q.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten
      assert(scans.forall(_.contains("byday")),
        s"derived multi-KMV should serve: ${q.queryExecution.optimizedPlan}")
      val served = q.orderBy("day").collect().map(_.toString).toSeq
      g.summaries.detach("ev")
      assert(q.orderBy("day").collect().map(_.toString).toSeq == served)
    } finally { g.summaries.detach("ev"); g.close() }
  }

  test("C46d: summaries.explain names the reason a query did or did not serve") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val g = Graft(spark, Files.createTempDirectory("graft_mvexp_").toString)
    try {
      g.create.tableFromDataFrame("base",
        Seq((1L, "a", "x", 10.0), (2L, "a", "y", 20.0), (3L, "b", "x", 30.0))
          .toDF("k", "grp", "sub", "v"), Seq("k"))
      g.create.tableFromDataFrame("other",
        Seq((1L, 5.0)).toDF("k", "w"), Seq("k"))
      g.create.tableFromDataFrame("grp_dim",
        Seq(("a", "hot"), ("b", "cold"), ("c", "cold")).toDF("grp", "klass"), Seq("grp"))
      g.summaries.define("s_g", "base", Seq("grp"), Seq("v"))
      g.summaries.define("s_other", "other", Seq("k"), Seq("w"))
      def reason(df: org.apache.spark.sql.DataFrame, summary: String): String =
        g.summaries.explain(df).find(_.summary == summary)
          .map(_.outcome).getOrElse(fail(s"no probe row for $summary"))
      val base = g.read.table("base")
      def q(d: org.apache.spark.sql.DataFrame) = d.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v").cast(DecimalType(18, 2))).as("s"))
      // served
      assert(reason(q(base), "s_g") == "served")
      // an unrelated registration reports not-a-candidate
      assert(reason(q(base), "s_other").startsWith("not a candidate"))
      // grouping mismatch
      assert(reason(base.groupBy("sub").agg(count(lit(1)).as("n")), "s_g")
        .startsWith("grouping mismatch"), reason(base.groupBy("sub").agg(count(lit(1)).as("n")), "s_g"))
      // unservable predicate (a measure filter)
      assert(reason(q(base.filter(col("v") > 15)), "s_g")
        .startsWith("unservable predicate"))
      // unservable aggregate (a measure the summary does not carry)
      assert(reason(base.groupBy("grp")
          .agg(sum(col("k").cast(DecimalType(18, 2))).as("sk")), "s_g")
        .startsWith("unservable aggregate"))
      // min over a sum-only summary: matched aggregate, missing column
      assert(reason(base.groupBy("grp")
          .agg(min(col("v").cast(DecimalType(18, 2))).as("lo")), "s_g")
        .startsWith("missing summary column"))
      // the same reasons over every other shape the rewrite serves: a
      // rollup, a star (joined back to a dim on the group column) and a
      // rollup over that star. SQL over temp views: the Dataset API's
      // rollup-over-join trips Spark's DetectAmbiguousSelfJoin check
      base.createOrReplaceTempView("c46d_base")
      g.read.table("grp_dim").createOrReplaceTempView("c46d_dim")
      val star = "c46d_base JOIN c46d_dim USING (grp)"
      val shapes = Seq("rollup" -> ("c46d_base", "ROLLUP(%s)"),
        "star" -> (star, "klass, %s"), "rollup over star" -> (star, "ROLLUP(klass, %s)"))
      def sq(shape: (String, String), by: String = "grp", where: String = "",
          aggs: String = "count(1) AS n, sum(cast(v as decimal(18,2))) AS s") =
        spark.sql(s"SELECT $aggs FROM ${shape._1} $where GROUP BY ${shape._2.format(by)}")
      shapes.foreach { case (name, shape) =>
        def r(df: org.apache.spark.sql.DataFrame): String = reason(df, "s_g")
        assert(r(sq(shape)) == "served", s"$name: ${r(sq(shape))}")
        val mismatch = r(sq(shape, by = "sub", aggs = "count(1) AS n"))
        assert(mismatch.startsWith("grouping mismatch"), s"$name: $mismatch")
        val pred = r(sq(shape, where = "WHERE v > 15"))
        assert(pred.startsWith("unservable predicate"), s"$name: $pred")
        val unservable = r(sq(shape, aggs = "sum(cast(k as decimal(18,2))) AS sk"))
        assert(unservable.startsWith("unservable aggregate"), s"$name: $unservable")
        val missing = r(sq(shape, aggs = "min(cast(v as decimal(18,2))) AS lo"))
        assert(missing.startsWith("missing summary column"), s"$name: $missing")
      }
      // stale after an unmaintained commit, served again after maintain
      g.write.insert("base", Seq((4L, "c", "x", 40.0)).toDF("k", "grp", "sub", "v"))
      assert(reason(q(g.read.table("base")), "s_g").startsWith("stale"))
      shapes.foreach { case (name, shape) =>
        val stale = reason(sq(shape), "s_g")
        assert(stale.startsWith("stale"), s"$name: $stale")
      }
      g.summaries.maintain("s_g")
      assert(reason(q(g.read.table("base")), "s_g") == "served")
      shapes.foreach { case (name, shape) => assert(reason(sq(shape), "s_g") == "served", name) }
      // probing must not disturb normal serving (plan caches intact)
      assert(q(g.read.table("base")).collect().length == 3)
    } finally { g.summaries.detach("base"); g.summaries.detach("other"); g.close() }
  }

  test("C46e: summaries.recommend names the define() that makes the query serve") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val g = Graft(spark, Files.createTempDirectory("graft_mvrec_").toString)
    try {
      val rows = (1L to 60L).map(i =>
        (i, java.time.LocalDateTime.of(2026, 4, (i % 5 + 1).toInt, (i % 24).toInt, 0),
          "t" + (i % 3), "u" + (i % 11), (i % 7).toDouble))
      g.create.tableFromDataFrame("ev",
        rows.toDF("event_id", "ts", "etype", "u", "v"), Seq("event_id"), infer = false)
      def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def defineRec(name: String, rec: (String, graft.plans.SummaryRewrite.Recommendation)): Unit =
        g.summaries.define(name, rec._1, rec._2.groupCols, rec._2.valueCols,
          kind = rec._2.kind, k = rec._2.k, deriveCols = rec._2.deriveCols)
      // derived day grouping + group-col filter + min → minmax kind
      def q1 = g.read.table("ev").filter(col("etype") =!= "t9")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          min(col("v").cast(DecimalType(18, 2))).as("lo"))
      // COUNT(DISTINCT u) promotes u to a GROUP column (exact via C44q)
      def q2 = g.read.table("ev").groupBy("etype")
        .agg(count_distinct(col("u")).as("du"), count(lit(1)).as("n"))
      // kmvDistinct demands a distinct-kind summary at the query's k
      def q3 = g.read.table("ev").groupBy("etype")
        .agg(graft.plans.GraftFunctions.kmvDistinct(col("u"), 32).as("du"),
          count(lit(1)).as("n"))
      // a GLOBAL aggregate recommends the one-group constant derivation
      def q4 = g.read.table("ev")
        .agg(count(lit(1)).as("n"), sum(col("v").cast(DecimalType(18, 2))).as("s"))
      // recommend ALL FOUR before defining anything — once adv1 exists
      // it serves q4 too and there is no base aggregate left to probe
      val r1 = g.summaries.recommend(q1)
      assert(r1.size == 1 && r1.head._1 == "ev", r1.toString)
      assert(r1.head._2.kind == "minmax" && r1.head._2.valueCols == Seq("v"), r1.toString)
      assert(r1.head._2.deriveCols.nonEmpty, "the day grouping must recommend a derivation")
      assert(r1.head._2.groupCols.contains("etype"), "the filter column must join the groups")
      val r2 = g.summaries.recommend(q2)
      assert(r2.size == 1 && r2.head._2.groupCols.toSet == Set("etype", "u"), r2.toString)
      val r3 = g.summaries.recommend(q3)
      assert(r3.size == 1 && r3.head._2.kind == "distinct" && r3.head._2.k == 32, r3.toString)
      val r4 = g.summaries.recommend(q4)
      assert(r4.size == 1 && r4.head._2.deriveCols.nonEmpty, r4.toString)
      defineRec("adv1", r1.head)
      assert(scans(q1).forall(_.contains("adv1")),
        s"the recommended define must serve q1: ${q1.queryExecution.optimizedPlan}")
      defineRec("adv2", r2.head)
      assert(scans(q2).forall(_.contains("adv2")),
        s"the recommended define must serve q2: ${q2.queryExecution.optimizedPlan}")
      defineRec("adv3", r3.head)
      assert(scans(q3).forall(_.contains("adv3")),
        s"the recommended define must serve q3: ${q3.queryExecution.optimizedPlan}")
      defineRec("adv4", r4.head)
      assert(scans(q4).forall(_.contains("adv4")),
        s"the recommended define must serve q4: ${q4.queryExecution.optimizedPlan}")
      // values survive end to end on the recommended route
      g.summaries.detach("ev")
      val raw1 = q1.orderBy("day").collect().map(_.toString).toSeq
      Seq("adv1", "adv2", "adv3", "adv4").foreach(g.summaries.attach)
      assert(q1.orderBy("day").collect().map(_.toString).toSeq == raw1)
      // nothing recommendable: a non-aggregate and a mixed-side shape
      assert(g.summaries.recommend(g.read.table("ev")).isEmpty)
    } finally { g.summaries.detach("ev"); g.close() }
  }

  test("C46e-b (r15): recommend covers the join and grouping-sets shapes the rewrite serves") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val g = Graft(spark, Files.createTempDirectory("graft_mvrecj_").toString)
    try {
      val rows = (1L to 60L).map(i => (i, "t" + (i % 3), (i % 7).toDouble))
      g.create.tableFromDataFrame("ev",
        rows.toDF("event_id", "etype", "v"), Seq("event_id"), infer = false)
      g.create.tableFromDataFrame("etype_dim",
        Seq(("t0", "hot"), ("t1", "hot"), ("t2", "cold")).toDF("etype", "klass"),
        Seq("etype"), infer = false)
      def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.map(_.toString)
        }.flatten
      def defineRec(name: String, rec: (String, graft.plans.SummaryRewrite.Recommendation)): Unit =
        g.summaries.define(name, rec._1, rec._2.groupCols, rec._2.valueCols,
          kind = rec._2.kind, k = rec._2.k, deriveCols = rec._2.deriveCols)
      // the STAR: group by the dim attribute — the advisor must walk to
      // the fact leaf and recommend (join key) as the grain (r14 bailed
      // with Nil on any Join shape)
      def q5 = {
        val f = g.read.table("ev"); val d = g.read.table("etype_dim")
        f.join(d, f("etype") === d("etype")).groupBy("klass")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(18, 2))).as("s"),
            expr("count(1) FILTER (WHERE klass = 'hot')").as("n_hot"))
      }
      // grouping sets over the single table (r14 bailed on any Expand)
      def q6 = g.read.table("ev").rollup("etype")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).as("s"),
          grouping(col("etype")).as("ge"))
      val r5 = g.summaries.recommend(q5)
      assert(r5.size == 1 && r5.head._1 == "ev", r5.toString)
      assert(r5.head._2.groupCols == Seq("etype") && r5.head._2.kind == "sum",
        r5.toString)
      val r6 = g.summaries.recommend(q6)
      assert(r6.size == 1 && r6.head._1 == "ev" &&
        r6.head._2.groupCols == Seq("etype"), r6.toString)
      // grouping sets over the STAR: a rollup of the dim attribute and
      // the join key reads as the same canonical shape the rewrite serves
      // (SQL over temp views: the Dataset API's rollup-over-join trips
      // Spark's DetectAmbiguousSelfJoin check)
      g.read.table("ev").createOrReplaceTempView("c46eb_ev")
      g.read.table("etype_dim").createOrReplaceTempView("c46eb_dim")
      def q7 = spark.sql("""SELECT klass, etype, count(1) AS n,
        sum(cast(v as decimal(18,2))) AS s FROM c46eb_ev JOIN c46eb_dim USING (etype)
        GROUP BY ROLLUP(klass, etype)""")
      val r7 = g.summaries.recommend(q7)
      assert(r7.size == 1 && r7.head._1 == "ev", r7.toString)
      // the C46e closed loop, now over a join: define(returned args) →
      // the star query serves with the fact never scanned
      defineRec("adv5", r5.head)
      assert(!scans(q5).exists(_.contains("/ev/")) &&
        scans(q5).exists(_.contains("adv5")),
        s"the recommended define must serve the star: ${q5.queryExecution.optimizedPlan}")
      assert(scans(q6).forall(_.contains("adv5")),
        s"the recommended define must serve the rollup: ${q6.queryExecution.optimizedPlan}")
      defineRec("adv7", r7.head)
      assert(!scans(q7).exists(_.contains("/ev/")) && scans(q7).exists(_.contains("adv7")),
        s"the recommended define must serve the rollup over the star: ${q7.queryExecution.optimizedPlan}")
      // values survive on the recommended route
      g.summaries.detach("ev")
      val raw5 = q5.orderBy("klass").collect().map(_.toString).toSeq
      val raw6 = q6.collect().map(_.toString).toSeq.sorted
      val raw7 = q7.collect().map(_.toString).toSeq.sorted
      g.summaries.attach("adv5")
      assert(q5.orderBy("klass").collect().map(_.toString).toSeq == raw5)
      assert(q6.collect().map(_.toString).toSeq.sorted == raw6)
      g.summaries.attach("adv7")
      assert(q7.collect().map(_.toString).toSeq.sorted == raw7)
      // a dim-side measure stays unrecommendable (it cannot serve)
      def qBad = {
        val f = g.read.table("ev"); val d = g.read.table("etype_dim")
        f.join(d, f("etype") === d("etype")).groupBy("klass")
          .agg(count(col("klass")).as("nk"))
      }
      assert(g.summaries.recommend(qBad).isEmpty, "a dim-side measure must not recommend")
    } finally { g.summaries.detach("ev"); g.close() }
  }

  test("detach() disarms auto-maintenance; list() covers the ## session temp root") {
    import org.apache.spark.sql.functions._
    val g = Graft(spark, Files.createTempDirectory("graft_mvdet_").toString)
    try {
      g.create.tableFromDataFrame("base",
        Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "grp", "v"), Seq("k"))
      g.summaries.define("s_auto", "base", Seq("grp"), Seq("v"), autoMaintain = true)
      g.write.insert("base", Seq((3L, "c", 30.0)).toDF("k", "grp", "v"))
      assert(g.summaries.status("s_auto")("fresh") == "true")
      val gensBefore = g.read.snapshots("s_auto").size
      // detach must remove the armed hook too — a detached base keeps
      // committing without ANY summary write from this session
      g.summaries.detach("base")
      g.write.insert("base", Seq((4L, "d", 40.0)).toDF("k", "grp", "v"))
      assert(g.read.snapshots("s_auto").size == gensBefore,
        "a post-detach base commit must not fold into the summary")
      assert(g.summaries.status("s_auto")("fresh") == "false")
      // attach() re-arms from the durable descriptor flag
      g.summaries.attach("s_auto")
      g.write.insert("base", Seq((5L, "e", 50.0)).toDF("k", "grp", "v"))
      assert(g.summaries.status("s_auto")("fresh") == "true")
      // C46c across roots: a summary on a ## session table surfaces in
      // the inventory under its user-facing name
      g.create.tableFromDataFrame("##scratch",
        Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "grp", "v"), Seq("k"))
      g.summaries.define("##s_tmp", "##scratch", Seq("grp"), Seq("v"))
      assert(g.summaries.list().toSet == Set("s_auto", "##s_tmp"), g.summaries.list().toString)
      assert(g.summaries.status("##s_tmp")("fresh") == "true")
    } finally { g.summaries.detach("base"); g.close() }
  }
}
