package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.TableStore

class TableStoreSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}
  import spark.implicits._

  private def newStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft_test_").toString)

  test("create + insert casts to declared types; reread matches") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "decimal(6,2)"), Seq("k"))
    store.insert("t", Seq((1L, 1.555), (2L, 2.0)).toDF("k", "v"))
    val got = store.readTable("t", orderBy = Seq("k")).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(got.head.getDecimal(1).toString == "1.56") // HALF_UP at scale 2
  }

  test("metadata-only add/drop column; alter rewrites with cast") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "smallint"), Seq("k"))
    store.insert("t", Seq((1, 10)).toDF("k", "v"))
    store.addColumn("t", "w", "varchar(5)")
    assert(store.readTable("t").columns.toSeq == Seq("k", "v", "w"))
    assert(store.readTable("t").select("w").collect().head.isNullAt(0))
    store.alterColumn("t", "v", "bigint")
    assert(store.readTable("t").schema("v").dataType == org.apache.spark.sql.types.LongType)
    store.dropColumn("t", "w")
    assert(store.readTable("t").columns.toSeq == Seq("k", "v"))
  }

  test("insert without autoAdjust rejects unknown columns and bad values") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "tinyint"))
    assertThrows[errors.ColumnDoesNotExist](store.insert("t", Seq((1, "x")).toDF("k", "extra")))
    assertThrows[errors.InvalidValue](store.insert("t", Seq(-1).toDF("k")))
    // failed inserts must leave the table unchanged
    assert(store.read("t").count() == 0)
  }

  test("autoAdjust widens types and adds columns like the reference") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "tinyint"))
    store.insert("t", Seq(5).toDF("k"))
    store.insert("t", Seq((70000, "new")).toDF("k", "extra"), autoAdjust = true)
    val m = store.meta("t").columns.toMap
    assert(m("k").name == "int")     // widened through the ladder
    assert(m("extra").spark == org.apache.spark.sql.types.StringType)
    assert(store.readTable("t", orderBy = Seq("k")).as[(Int, Option[String])].collect().toSeq ==
      Seq((5, None), (70000, Some("new"))))
  }

  test("autoAdjust auto-creates a missing table (reference _exceptions.py)") {
    val store = newStore()
    store.insert("t", Seq((1L, "a")).toDF("k", "v"), autoAdjust = true)
    assert(store.exists("t"))
    assert(store.readTable("t").count() == 1)
  }

  test("readTable pushes filters and prunes columns at the parquet scan") {
    val store = newStore()
    store.createTableFromDataFrame("li", GraftSession.table(spark, sfDir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), infer = false)
    val df = store.readTable("li",
      columns = Seq("l_quantity"),
      where = Some("l_quantity >= 45"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(l_quantity"),
      s"filter not pushed to scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan reads pruned columns: $readSchema")
  }

  test("alter to NOT NULL enforces nullability on alter and insert (modify.py:27)") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(5)"), Seq("k"))
    store.insert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    store.alterColumn("t", "v", "varchar(5)", isNullable = false)
    assert(store.meta("t").notNull == Seq("v"))
    assert(!store.meta("t").sparkSchema("v").nullable)
    // inserting NULLs into a NOT NULL column is a typed error
    val ex = intercept[errors.InvalidValue](
      store.insert("t", Seq((3, Some("c")), (4, None)).toDF("k", "v")))
    assert(ex.getMessage.contains("NOT NULL"))
    // omitting the NOT NULL column entirely is also rejected
    intercept[errors.InvalidValue](store.insert("t", Seq(5).toDF("k")))
    // alter back to nullable clears the bit and NULLs flow again
    store.alterColumn("t", "v", "varchar(5)", isNullable = true)
    store.insert("t", Seq((6, None: Option[String])).toDF("k", "v"))
    assert(store.readTable("t").count() == 3)
    // altering a column with existing NULLs to NOT NULL must fail
    intercept[errors.InvalidValue](
      store.alterColumn("t", "v", "varchar(5)", isNullable = false))
  }

  test("update/upsert/merge validate source bounds like insert (_exceptions.py)") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(3)", "n" -> "tinyint"), Seq("k"))
    store.insert("t", Seq((1, "abc", 5)).toDF("k", "v", "n"))
    intercept[errors.InsufficientColumnSize](
      store.update("t", Seq((1, "toolong", 5)).toDF("k", "v", "n")))
    intercept[errors.InsufficientColumnSize](
      store.upsert("t", Seq((2, "toolong", 5)).toDF("k", "v", "n")))
    intercept[errors.InsufficientColumnSize](
      store.merge("t", Seq((1, "toolong", 5)).toDF("k", "v", "n")))
    // out-of-range numeric (SQL tinyint is 0..255) is a typed error too
    intercept[errors.InvalidValue](
      store.update("t", Seq((1, "ab", 999)).toDF("k", "v", "n")))
    assert(store.readTable("t").select("v").as[String].collect().toSeq == Seq("abc"))
    // within-bounds mutations still flow
    store.update("t", Seq((1, "xyz", 7)).toDF("k", "v", "n"))
    assert(store.readTable("t").select("v").as[String].collect().toSeq == Seq("xyz"))
  }

  test("compact coalesces small files without changing table contents") {
    val root = Files.createTempDirectory("graft_compact_").toString
    val store = new TableStore(spark, root)
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(10)"), Seq("k"), buckets = 4)
    (0 until 6).foreach(i =>
      store.insert("t", Seq((i * 2, s"a$i"), (i * 2 + 1, s"b$i")).toDF("k", "v")))
    val beforeRows = store.readTable("t", orderBy = Seq("k")).collect().toSeq
    def dataFiles(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "t", "data"))
        .iterator().asScala.count(p => p.toString.endsWith(".parquet")).toLong
    }
    val filesBefore = dataFiles()
    assert(filesBefore > 4, s"expected many small files, got $filesBefore")
    store.compact("t")
    store.vacuum("t", keepLast = 1) // the replaced files stay for snapshots until then
    assert(dataFiles() <= 4, s"compact left ${dataFiles()} files for 4 buckets")
    assert(store.readTable("t", orderBy = Seq("k")).collect().toSeq == beforeRows)
  }

  test("unicode into varchar and no-op recast raise reference errors") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(5)", "nv" -> "nvarchar(5)"), Seq("k"))
    // unicode into non-unicode char/varchar: typed error, never auto-adjusted
    // (reference conversion.py:349 check_unicode → SQLNonUnicodeTypeColumn)
    intercept[errors.NonUnicodeTypeColumn](
      store.insert("t", Seq((1, "え", "ok")).toDF("k", "v", "nv"), autoAdjust = true))
    // nvarchar accepts unicode
    store.insert("t", Seq((1, "ascii", "え")).toDF("k", "v", "nv"))
    assert(store.readTable("t").count() == 1)
    intercept[errors.NonUnicodeTypeColumn](
      store.update("t", Seq((1, "é", "x")).toDF("k", "v", "nv")))
    // altering to the identical type+nullability changes nothing → error
    // (custom_errors.py:50 SQLRecastColumnUnchanged)
    intercept[errors.RecastColumnUnchanged](store.alterColumn("t", "v", "varchar(5)"))
    store.alterColumn("t", "v", "varchar(10)") // widening is fine
  }

  test("compare_dfs helper: multiset equality with failure reasons (__equality__.py)") {
    val a = Seq((1, "x"), (2, "y"), (2, "y")).toDF("k", "v")
    val b = Seq((2, "y"), (1, "x"), (2, "y")).toDF("k", "v")
    assert(Equality.compareDfs(a, b)) // order-independent, duplicate-sensitive
    val c = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val ex = intercept[AssertionError](Equality.compareDfs(a, c))
    assert(ex.getMessage.contains("rows are not equal"))
    intercept[AssertionError](Equality.compareDfs(a, a.select(col("k").cast("long"), col("v"))))
  }

  test("sqlPrimaryKey creates an engine-managed _pk identity column (create.py:144)") {
    val store = newStore()
    store.createTable("t", Seq("v" -> "varchar(5)"), sqlPrimaryKey = true)
    store.insert("t", Seq("a", "b", "c").toDF("v"))
    store.insert("t", Seq("d", "e").toDF("v"))
    val pks = store.readTable("t").select("_pk").as[Long].collect().sorted.toSeq
    assert(pks == Seq(1L, 2L, 3L, 4L, 5L), s"dense identity expected, got $pks")
    assert(store.meta("t").primaryKey == Seq("_pk"))
    assert(store.primaryKeyViolations("t").count() == 0)
    // identity assignment must stay distributed: dense ids over a
    // multi-partition batch with NO unpartitioned WindowExec in the plan
    val batch = spark.range(0, 1000, 1, 8).select(concat(lit("r"), col("id")).as("v"))
    val assigned = TableStore.assignDenseIds(batch, 5L)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"identity path fell back to a window:\n$plan")
    val ids = assigned.select("_pk").as[Long].collect().sorted.toSeq
    assert(ids == (6L to 1005L), s"ids not dense from startFrom+1: ${ids.take(5)}..${ids.takeRight(5)}")
    // mixing explicit and sql pk is rejected like the reference (create.py:78)
    assertThrows[IllegalArgumentException](
      store.createTable("t2", Seq("v" -> "int"), Seq("v"), sqlPrimaryKey = true))
  }

  test("bucketed update rewrites ONLY the buckets the source touches") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_bkt_").toString
    val store = new TableStore(spark, root)
    val cust = GraftSession.table(spark, sfDir, "customer")
    store.createTable("cust", Seq(
      "c_custkey" -> "bigint", "c_name" -> "varchar(max)", "c_nationkey" -> "int",
      "c_acctbal" -> "float", "c_mktsegment" -> "varchar(max)"),
      Seq("c_custkey"), buckets = 8)
    store.insert("cust", cust)

    def fileState(): Map[String, Long] =
      JFiles.walk(Paths.get(root, "cust", "data")).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> JFiles.getLastModifiedTime(p).toMillis).toMap

    val before = fileState()
    // single-key source → exactly ONE bucket affected
    val src = Seq((7L, 9999.0)).toDF("c_custkey", "c_acctbal")
    store.update("cust", src)
    val after = fileState()

    val changedBuckets = (before.keySet ++ after.keySet)
      .filter(p => before.get(p) != after.get(p))
      .map(p => p.split("/").find(_.startsWith("__bucket=")).getOrElse("?"))
    assert(changedBuckets.size == 1, s"expected 1 rewritten bucket, got $changedBuckets")

    // and the data is still correct
    val got = store.readTable("cust").filter(col("c_custkey") === 7L)
      .select("c_acctbal").collect().head.getDouble(0)
    assert(got == 9999.0)
    assert(store.readTable("cust").count() == cust.count())
  }

  test("analyze + where-d readTable skips files by min/max stats, same answer") {
    val store = newStore()
    // 8 range-partitioned files over k=0..7999 → disjoint per-file ranges
    val df = spark.range(0, 8000).select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartitionByRange(8, col("k"))
    store.createTableFromDataFrame("t", df, Seq("k"), infer = false)
    val allFiles = store.readTable("t").inputFiles.length
    assert(allFiles >= 8, s"expected >=8 data files, got $allFiles")

    // without stats: every file is scanned
    val unpruned = store.readTable("t", where = Some("k >= 2000 AND k < 3000"))
    assert(unpruned.inputFiles.length == allFiles)
    val expect = unpruned.orderBy("k").collect().toSeq

    store.analyze("t")
    val pruned = store.readTable("t", where = Some("k >= 2000 AND k < 3000"))
    assert(pruned.inputFiles.length < allFiles / 2,
      s"stats pruned nothing: ${pruned.inputFiles.length} of $allFiles files scanned")
    assert(pruned.orderBy("k").collect().toSeq == expect)

    // IN / equality / IS NULL shapes prune too, and OR unions ranges
    assert(store.readTable("t", where = Some("k = 42")).inputFiles.length == 1)
    assert(store.readTable("t", where = Some("k IN (10, 7500)")).inputFiles.length == 2)
    assert(store.readTable("t", where = Some("k IS NULL")).inputFiles.length == 0)
    assert(store.readTable("t", where = Some("k < 100 OR k >= 7900")).inputFiles.length == 2)
    // out-of-range predicate → empty scan, empty (not failing) result
    assert(store.readTable("t", where = Some("k > 100000")).count() == 0)

    // files appended after analyze carry no stats → conservatively kept
    store.insert("t", Seq((100000L, 1L)).toDF("k", "v"))
    val afterInsert = store.readTable("t", where = Some("k > 99999"))
    assert(afterInsert.count() == 1)

    // a rewrite invalidates stats (all files scanned again, still correct)
    store.update("t", Seq((42L, -1L)).toDF("k", "v"))
    val postRewrite = store.readTable("t", where = Some("k = 42"))
    assert(postRewrite.select("v").as[Long].collect().toSeq == Seq(-1L))
    assert(postRewrite.inputFiles.length == store.readTable("t").inputFiles.length)

    // incremental analyze covers ONLY the stat-less appended files: after
    // it, every file has an entry again and point reads prune
    store.analyze("t")
    store.insert("t", Seq((200000L, 2L), (200001L, 3L)).toDF("k", "v"))
    store.analyze("t", incremental = true)
    val point = store.readTable("t", where = Some("k = 200001"))
    assert(point.inputFiles.length == 1, s"expected 1 file, got ${point.inputFiles.length}")
    assert(point.select("v").as[Long].collect().toSeq == Seq(3L))
  }

  test("bloom-analyzed reads prune interleaved layouts min/max can't, same answer") {
    val store = newStore()
    // round-robin across 8 files: every file spans ~the whole key range,
    // so zone maps keep every file for any in-range equality probe
    val df = spark.range(0, 4000).select((col("id") * 2).as("k"),
      concat(lit("name_"), col("id") * 2).as("s")).repartition(8)
    store.createTableFromDataFrame("t", df, Seq("k"), infer = false)
    val allFiles = store.readTable("t").inputFiles.length
    assert(allFiles >= 8)
    store.analyze("t", columns = Seq("k", "s"))
    // min/max keeps all 8 interleaved data files (only the empty
    // flat-layout seed file drops, by its rows=0 entry)
    val minmaxOnly = store.readTable("t", where = Some("k = 42")).inputFiles.length
    assert(minmaxOnly >= 8, "interleaved layout should defeat min/max pruning")

    store.analyze("t", columns = Seq("k", "s"), bloomBits = 1 << 14)
    // present key: exactly the holding file survives (FP ≈ 4e-4 at 16
    // bits/value could add one; the answer must be identical regardless)
    val eq = store.readTable("t", where = Some("k = 42"))
    assert(eq.inputFiles.length <= 2 && eq.count() == 1)
    // in-range ABSENT key (odd): every file bloom-cut, empty result
    val absent = store.readTable("t", where = Some("k = 4001"))
    assert(absent.inputFiles.length <= 1 && absent.count() == 0)
    // IN mixes present + absent members; string column probes prune too
    assert(store.readTable("t", where = Some("k IN (42, 4001)")).count() == 1)
    val sEq = store.readTable("t", where = Some("s = 'name_42'"))
    assert(sEq.inputFiles.length <= 2 && sEq.count() == 1)
    // range predicates don't consult blooms: full scan, full answer
    assert(store.readTable("t", where = Some("k >= 0")).count() == 4000)
    // no mis-prune across a spread of present keys
    val probes = Seq(0L, 2L, 1998L, 3998L, 7998L)
    probes.foreach { p =>
      assert(store.readTable("t", where = Some(s"k = $p")).count() == 1, s"lost k=$p")
    }
    // incremental analyze at the same width keeps bloom'd entries and
    // sketches only the new file
    store.insert("t", Seq((100001L, "x")).toDF("k", "s"))
    store.analyze("t", columns = Seq("k", "s"), incremental = true, bloomBits = 1 << 14)
    val point = store.readTable("t", where = Some("k = 100001"))
    assert(point.inputFiles.length == 1 && point.count() == 1)
    assert(store.readTable("t", where = Some("k = 42")).inputFiles.length <= 2)
    // a ROUTINE full analyze (no bloomBits) carries existing sketches
    // forward instead of silently discarding bloom pruning
    store.analyze("t", columns = Seq("k", "s"))
    assert(store.readTable("t", where = Some("k = 42")).inputFiles.length <= 2)
    assert(store.readTable("t", where = Some("k = 4001")).count() == 0)
    // a repeated incremental bloom analyze converges to a no-op: every
    // entry (including the rows=0 seed file, which can never earn a
    // sketch) is kept, so no scan job launches
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      store.analyze("t", columns = Seq("k", "s"), incremental = true, bloomBits = 1 << 14)
      val deadline = System.nanoTime() + 2000000000L
      while (jobs == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(jobs == 0, "converged incremental bloom analyze still launched a scan job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bucketed reads prune to the PK hash's buckets — no stats needed") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "varchar(10)"), Seq("k"), buckets = 8)
    store.insert("t", spark.range(0, 4000).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    val all = store.readTable("t").inputFiles.length
    assert(all >= 8)
    // equality on the PK → only the matching bucket dir is scanned
    val eq = store.readTable("t", where = Some("k = 42"))
    val eqDirs = eq.inputFiles.map(f => f.split("/").find(_.startsWith("__bucket=")).get).distinct
    assert(eqDirs.length == 1, s"expected 1 bucket dir, got ${eqDirs.toSeq}")
    assert(eq.select("v").as[String].collect().toSeq == Seq("v42"))
    // IN list → at most one dir per value; extra conjuncts don't block
    val in = store.readTable("t", where = Some("k IN (10, 2000) AND v LIKE 'v%'"))
    assert(in.count() == 2)
    assert(in.inputFiles.map(f => f.split("/").find(_.startsWith("__bucket=")).get)
      .distinct.length <= 2)
    // OR of equalities on the SAME key unions the candidate buckets
    val orEq = store.readTable("t", where = Some("k = 10 OR k = 2000"))
    assert(orEq.count() == 2)
    assert(orEq.inputFiles.map(f => f.split("/").find(_.startsWith("__bucket=")).get)
      .distinct.length <= 2)
    // a range predicate cannot bucket-prune (hash destroys order)
    assert(store.readTable("t", where = Some("k >= 10 AND k < 20")).inputFiles.length == all)

    // composite PK: every key column must be pinned
    val store2 = newStore()
    store2.createTable("t2", Seq("a" -> "int", "b" -> "varchar(5)", "x" -> "int"),
      Seq("a", "b"), buckets = 8)
    store2.insert("t2", spark.range(0, 800).select(
      col("id").cast("int").as("a"), concat(lit("b"), col("id") % 5).as("b"),
      lit(1).as("x")))
    val all2 = store2.readTable("t2").inputFiles.length
    val both = store2.readTable("t2", where = Some("a = 7 AND b = 'b2'"))
    assert(both.count() == 1)
    assert(both.inputFiles.length < all2)
    // pinning only half the composite key → no bucket pruning
    assert(store2.readTable("t2", where = Some("a = 7")).inputFiles.length == all2)
  }

  test("analyze on a bucketed table keys stats per bucket dir — pruned == unpruned") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"), buckets = 8)
    // v's range is DISJOINT per bucket (derived from the same Murmur3
    // hash the writer buckets k by — r16 switched from xxhash64). The
    // hazard this test pins: stats keyed by anything less than the
    // dir-qualified rel path would evaluate a file against a sibling's
    // [min,max] — silently dropping matching rows on v reads.
    val df = spark.range(0, 4000).select(col("id").as("k"),
      (pmod(hash(col("id")), lit(8)).cast("long") * 100000L + col("id")).as("v"))
    store.insert("t", df)
    // r16 invariant (stagedFiles): every part-file name embeds the
    // bucket id of the dir it lives in — the naming contract the
    // HashPartitioning-advertising mutation scan depends on
    val parts = store.readTable("t").inputFiles.map(_.split("/").takeRight(2))
    assert(parts.nonEmpty && parts.forall { case Array(dir, base) =>
      base.contains(f"_${dir.stripPrefix("__bucket=").toInt}%05d")
    }, s"part-file names must embed their dir's bucket id: ${parts.map(_.mkString("/")).take(3).mkString(", ")}")
    store.analyze("t", Seq("v"))
    val all = store.readTable("t").inputFiles.length
    val expect = store.readTable("t").orderBy("k").as[(Long, Long)].collect().toSeq
    // one equality probe per bucket: every row must survive pruning AND
    // the scan must actually shrink (disjoint ranges → 1 bucket's files)
    val probes = expect.groupBy(_._2 / 100000L).map(_._2.head).toSeq
    assert(probes.size == 8, s"expected rows in all 8 buckets, got ${probes.size}")
    probes.foreach { case (k, v) =>
      val got = store.readTable("t", where = Some(s"v = $v"))
      assert(got.as[(Long, Long)].collect().toSeq == Seq((k, v)), s"lost row for v=$v")
      assert(got.inputFiles.length < all, s"v=$v pruned nothing")
    }
    // range read across bucket-disjoint v ranges: same answer as unpruned
    val lo = 300000L; val hi = 500001L
    assert(store.readTable("t", where = Some(s"v >= $lo AND v <= $hi")).count() ==
      expect.count { case (_, v) => v >= lo && v <= hi })
    // incremental analyze after an append keeps the new file scannable
    store.insert("t", Seq((100000L, 999999999L)).toDF("k", "v"))
    store.analyze("t", Seq("v"), incremental = true)
    val appended = store.readTable("t", where = Some("v = 999999999"))
    assert(appended.as[(Long, Long)].collect().toSeq == Seq((100000L, 999999999L)))
  }

  test("bucketed equality read on a DATE/TIMESTAMP PK prunes instead of crashing") {
    val store = newStore()
    store.createTable("t", Seq("d" -> "date", "v" -> "int"), Seq("d"), buckets = 8)
    store.insert("t", spark.range(0, 400).select(
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
      col("id").cast("int").as("v")))
    val all = store.readTable("t").inputFiles.length
    // the pinned literal evaluates to Catalyst-internal Int days — the
    // bucket hash must use the internal-value Literal ctor (Literal.create
    // throws for date/timestamp internals) and degrade, never crash
    val eq = store.readTable("t", where = Some("d = '2020-02-01'"))
    assert(eq.select("v").as[Int].collect().toSeq == Seq(31))
    val eqDirs = eq.inputFiles.map(_.split("/").find(_.startsWith("__bucket=")).get).distinct
    assert(eqDirs.length == 1, s"date-PK read did not bucket-prune: ${eqDirs.toSeq}")
    assert(eq.inputFiles.length < all)

    val store2 = newStore()
    store2.createTable("t2", Seq("ts" -> "datetime2", "v" -> "int"), Seq("ts"), buckets = 8)
    store2.insert("t2", spark.range(0, 400).select(
      timestamp_seconds(lit(1577836800L) + col("id") * 3600L).as("ts"), // 2020-01-01 + id hours (UTC session)
      col("id").cast("int").as("v")))
    val all2 = store2.readTable("t2").inputFiles.length
    val eq2 = store2.readTable("t2", where = Some("ts = '2020-01-02 05:00:00'"))
    assert(eq2.select("v").as[Int].collect().toSeq == Seq(29))
    assert(eq2.inputFiles.length < all2, "timestamp-PK read did not bucket-prune")
  }

  test("zorder cluster makes stats prune on BOTH dimensions, contents unchanged") {
    val store = newStore()
    // x and y are independent: insertion order localizes NEITHER — an
    // 80×80 grid written in shuffled order
    val df = spark.range(0, 6400).select(
      (col("id") * 37 % 6400).as("rowkey"),
      ((col("id") * 37 % 6400) % 80).as("x"),
      ((col("id") * 37 % 6400) / 80).as("y"))
    store.createTableFromDataFrame("t", df.repartition(8), Seq("rowkey"), infer = false)
    val before = store.readTable("t", orderBy = Seq("rowkey")).collect().toSeq
    val allFiles = store.readTable("t").inputFiles.length

    // pre-cluster: analyze on (x, y) prunes no DATA file — every file
    // spans the whole range of both (only the empty seed file drops)
    store.analyze("t", Seq("x", "y"))
    assert(store.readTable("t", where = Some("x >= 10 AND x < 20")).inputFiles.length >= allFiles - 1)

    store.cluster("t", Seq("x", "y"), filesTarget = 16)
    val total = store.readTable("t").inputFiles.length
    val xScan = store.readTable("t", where = Some("x >= 10 AND x < 20")).inputFiles.length
    val yScan = store.readTable("t", where = Some("y >= 10 AND y < 20")).inputFiles.length
    assert(xScan < total, s"x predicate scanned all $total files")
    assert(yScan < total, s"y predicate scanned all $total files")
    // contents byte-identical after the layout rewrite
    assert(store.readTable("t", orderBy = Seq("rowkey")).collect().toSeq == before)
    // and the pruned reads agree with the unpruned answers
    assert(store.readTable("t", where = Some("x >= 10 AND x < 20")).count() ==
      before.count(r => { val x = r.getLong(1); x >= 10 && x < 20 }))
  }

  test("snapshot reads: every mutation commits a readable generation; vacuum expires") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(10)"), Seq("k"))
    store.insert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))   // gen 1
    store.insert("t", Seq((3, "c")).toDF("k", "v"))             // gen 2
    store.update("t", Seq((1, "A")).toDF("k", "v"))             // gen 3 (full rewrite)
    store.merge("t", Seq((2, "B"), (4, "d")).toDF("k", "v"))    // gen 4 (deletes 1,3)
    val gens = store.snapshots("t").map(_._1)
    assert(gens.size == 4, s"expected 4 generations, got $gens")
    def at(g: Int) = store.readTableAt("t", g).orderBy("k").as[(Int, String)].collect().toSeq
    assert(at(gens(0)) == Seq((1, "a"), (2, "b")))
    assert(at(gens(1)) == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(at(gens(2)) == Seq((1, "A"), (2, "b"), (3, "c")))
    assert(at(gens(3)) == Seq((2, "B"), (4, "d")))
    // current read == the latest snapshot
    assert(store.readTable("t", orderBy = Seq("k")).as[(Int, String)].collect().toSeq == at(gens(3)))
    // snapshot reads use the schema AT the generation, not the current
    // one — and metadata-only DDL commits its own generation (gen 5), so
    // the latest snapshot never lags the live schema
    store.addColumn("t", "w", "int")                            // gen 5 (metadata-only)
    assert(store.readTableAt("t", store.snapshots("t").last._1).columns.toSeq == Seq("k", "v", "w"))
    assert(store.readTableAt("t", store.snapshots("t").last._1).count() == 2)
    store.insert("t", Seq((5, "e", 50)).toDF("k", "v", "w"))    // gen 6
    assert(store.readTableAt("t", gens(0)).columns.toSeq == Seq("k", "v"))
    assert(store.readTableAt("t", store.snapshots("t").last._1).columns.toSeq == Seq("k", "v", "w"))
    // timestamp form: "now" resolves to the latest generation, and a
    // pre-history instant is a typed error
    assert(store.readTableAsOf("t", Long.MaxValue).orderBy("k").count() == 3)
    intercept[errors.InvalidValue](store.readTableAsOf("t", 0L))
    // the full read surface (projection/where/order) composes over a
    // snapshot, validated against the SNAPSHOT's schema
    val composed = store.readTable("t", columns = Seq("v"),
      where = Some("k <= 2"), orderBy = Seq("k"), asOf = Some(gens(1)))
    assert(composed.as[(Int, String)].collect().toSeq == Seq((1, "a"), (2, "b")))
    intercept[errors.ColumnDoesNotExist](
      store.readTable("t", columns = Seq("w"), asOf = Some(gens(1))))
    // vacuum keeps the last 2 generations readable; older raise
    store.vacuum("t", keepLast = 2)
    val kept = store.snapshots("t").map(_._1)
    assert(kept.size == 2 && kept.last == gens.last + 2)
    intercept[errors.InvalidValue](store.readTableAt("t", gens(0)))
    assert(store.readTableAt("t", kept.head).count() == 2) // the metadata gen still reconstructs
    assert(store.readTable("t").count() == 3)              // current untouched
  }

  test("snapshot reads on a bucketed table survive pruned-bucket rewrites") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "varchar(10)"), Seq("k"), buckets = 8)
    store.insert("t", spark.range(0, 400).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    val g1 = store.snapshots("t").last._1
    store.upsert("t", Seq((42L, "updated"), (100000L, "new")).toDF("k", "v"))
    // the pre-upsert snapshot, including the row whose bucket was rewritten
    val snap = store.readTableAt("t", g1)
    assert(snap.count() == 400)
    assert(snap.filter(col("k") === 42).select("v").as[String].collect().toSeq == Seq("v42"))
    assert(snap.filter(col("k") === 100000L).count() == 0)
    assert(store.readTable("t", where = Some("k = 42")).select("v").as[String]
      .collect().toSeq == Seq("updated"))
    // vacuum to the latest generation only
    store.vacuum("t")
    intercept[errors.InvalidValue](store.readTableAt("t", g1))
    assert(store.readTable("t").count() == 401)
  }

  test("restore rolls data AND schema back as a new generation; every snapshot stays readable") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(10)"), Seq("k"))
    store.insert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))   // gen 1
    store.update("t", Seq((1, "A")).toDF("k", "v"))             // gen 2 (rewrite)
    store.insert("t", Seq((3, "c")).toDF("k", "v"))             // gen 3
    store.addColumn("t", "w", "int")                            // gen 4 (metadata-only)
    val Seq(g1, g2, g3, g4) = store.snapshots("t").map(_._1)
    store.restore("t", g1)                                      // gen 5
    // current state == gen 1's data and schema (the added column is gone)
    assert(store.readTable("t", orderBy = Seq("k")).as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b")))
    assert(store.describe("t").select("column_name").as[String].collect().toSet == Set("k", "v"))
    // the restore is a COMMIT, not history surgery: a fifth generation
    // exists and the change feed across the boundary is the exact
    // reverse of what it undid (un-update of 1, un-insert of 3)
    val g5 = store.snapshots("t").map(_._1).last
    assert(g5 == g4 + 1)
    val diff = store.readChanges("t", g3, g5)
      .select("k", "v", "_change_type").as[(Int, String, String)].collect().toSet
    assert(diff == Set((1, "A", "update_preimage"), (1, "a", "update_postimage"),
      (3, "c", "delete")))
    // every pre-restore snapshot still reconstructs AFTER the rename-backs
    def at(g: Int) = store.readTableAt("t", g).orderBy("k")
      .select("k", "v").as[(Int, String)].collect().toSeq
    assert(at(g1) == Seq((1, "a"), (2, "b")))
    assert(at(g2) == Seq((1, "A"), (2, "b")))
    assert(at(g3) == Seq((1, "A"), (2, "b"), (3, "c")))
    // a post-restore rewrite RE-retires the restored files; both the old
    // and the new snapshots keep resolving (a rel path has one home)
    store.update("t", Seq((2, "B2")).toDF("k", "v"))            // gen 6
    assert(at(g1) == Seq((1, "a"), (2, "b")))
    assert(at(g2) == Seq((1, "A"), (2, "b")))
    assert(store.readTable("t", orderBy = Seq("k")).as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "B2")))
    // a vacuumed generation refuses to restore instead of silently diverging
    store.vacuum("t", keepLast = 1)
    intercept[errors.InvalidValue](store.restore("t", g2))
  }

  test("restore-then-vacuum span: the restored state survives, retained snapshots " +
      "keep resolving through the restore's tree, vacuumed ones refuse restore") {
    // VERDICT r6 #7 carry-forward: after a restore, snapshot files live
    // in UNUSUAL homes — the restored generation's originals are back in
    // data/, and everything the restore undid sits in the RESTORE's own
    // history tree (not the trees of the generations that created it).
    // A vacuum then deletes whole trees at or below its cutoff, leaving
    // the restore's tree partially responsible for every retained
    // snapshot. This span pins the three contracts that interaction
    // must keep: current state untouched, retained snapshots resolvable
    // (through the restore tree), vacuumed generations a TYPED refusal
    // on both read and restore — never a silent partial reconstruction.
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(10)"), Seq("k"))
    store.insert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))   // gen 1
    store.update("t", Seq((1, "A")).toDF("k", "v"))             // gen 2 (rewrite)
    store.insert("t", Seq((3, "c")).toDF("k", "v"))             // gen 3
    store.update("t", Seq((2, "B")).toDF("k", "v"))             // gen 4 (rewrite)
    val Seq(g1, g2, g3, g4) = store.snapshots("t").map(_._1)
    store.restore("t", g2)                                      // gen 5
    val g5 = store.snapshots("t").map(_._1).last
    def current() = store.readTable("t", orderBy = Seq("k")).as[(Int, String)].collect().toSeq
    assert(current() == Seq((1, "A"), (2, "b")))
    // vacuum keeps [g4, g5]: manifests g1–g3 and history trees ≤ g4 go;
    // the g5 (restore) tree — holding the files g4 needs — is retained
    store.vacuum("t", keepLast = 2)
    assert(store.snapshots("t").map(_._1) == Seq(g4, g5))
    assert(current() == Seq((1, "A"), (2, "b")))                 // live state untouched
    // g4 reconstructs even though its data files were retired by the
    // RESTORE (they live in g5's tree, not g4's own)
    assert(store.readTableAt("t", g4).orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "A"), (2, "B"), (3, "c")))
    intercept[errors.InvalidValue](store.readTableAt("t", g2))
    // restore BACK to the undone state still works — g4's files resolve
    // through the retained restore tree
    store.restore("t", g4)                                      // gen 6
    assert(current() == Seq((1, "A"), (2, "B"), (3, "c")))
    // a generation whose manifest was vacuumed refuses restore outright
    intercept[errors.InvalidValue](store.restore("t", g2))
    // and the round trip stays committable: the double-restore history
    // itself vacuums down to just the live generation cleanly
    store.vacuum("t", keepLast = 1)
    assert(current() == Seq((1, "A"), (2, "B"), (3, "c")))
  }

  test("restore on a bucketed table is zero-copy: renames, same physical files") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "varchar(10)"), Seq("k"), buckets = 8)
    store.insert("t", spark.range(0, 400).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    val g1 = store.snapshots("t").last._1
    val filesBefore = store.readTable("t").inputFiles.toSet
    store.upsert("t", Seq((42L, "updated"), (100000L, "new")).toDF("k", "v"))
    store.restore("t", g1)
    // content rolled back, and the CURRENT read serves the ORIGINAL
    // physical files — nothing was copied or rewritten, only renamed
    // back into place (untouched buckets' files never moved at all)
    assert(store.readTable("t").count() == 400)
    assert(store.readTable("t", where = Some("k = 42")).select("v").as[String]
      .collect().toSeq == Seq("v42"))
    assert(store.readTable("t").inputFiles.toSet == filesBefore)
    // the undone upsert's snapshot is still served from history
    val g2 = g1 + 1
    assert(store.readTableAt("t", g2).count() == 401)
    assert(store.readTableAt("t", g2).filter(col("k") === 42).select("v")
      .as[String].collect().toSeq == Seq("updated"))
  }

  test("keyed delete removes matched keys and rewrites only their buckets") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "varchar(12)"), Seq("k"), buckets = 8)
    store.insert("t", spark.range(0, 400).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    val before = store.readTable("t").inputFiles.toSet
    store.delete("t", Seq(42L, 43L).toDF("k"))
    assert(store.readTable("t").count() == 398)
    assert(store.readTable("t", where = Some("k = 42")).count() == 0)
    // bucket pruning: only the buckets of keys 42/43 were rewritten —
    // every other bucket's files survive by identity
    val after = store.readTable("t").inputFiles.toSet
    assert((before intersect after).size >= before.size / 2,
      s"delete rewrote ${(before -- after).size} of ${before.size} files — not bucket-pruned")
    // unknown keys are a no-op; null keys never match (=== semantics)
    store.delete("t", Seq(Some(999999L), Option.empty[Long]).toDF("k"))
    assert(store.readTable("t").count() == 398)
    // a delete that empties a bucket entirely must still retire the old
    // files (the swap iterates source-touched buckets, not written dirs)
    store.createTable("one", Seq("k" -> "bigint", "v" -> "varchar(4)"), Seq("k"), buckets = 4)
    store.insert("one", Seq((7L, "x")).toDF("k", "v"))
    store.delete("one", Seq(7L).toDF("k"))
    assert(store.readTable("one").count() == 0,
      "emptied bucket's rows survived the delete")
  }

  test("countRows answers from the sidecar with ZERO jobs; hybrid over un-analyzed tails") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "varchar(12)"), Seq("k"), buckets = 4)
    store.insert("t", spark.range(0, 300).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    store.analyze("t")
    // fully analyzed: the count must come from metadata alone — no Spark
    // job may start (a scan, however small, schedules at least one)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = store.countRows("t")
      Thread.sleep(500) // job-start events post asynchronously
      assert(n == 300L)
      assert(jobs.get() == 0, s"metadata-only count launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // un-analyzed append → hybrid: sidecar rows + one scan over the tail
    store.insert("t", spark.range(300, 420).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    assert(store.countRows("t") == 420L)
    // keyed delete rewrites buckets into NEW rel paths (no sidecar entry
    // yet) — the stale entries for retired files must not be counted
    store.delete("t", Seq(1L, 2L, 3L).toDF("k"))
    assert(store.countRows("t") == 417L)
    assert(store.countRows("t") == store.readTable("t").count())
    // empty table and missing table behave like reads
    store.createTable("e", Seq("k" -> "bigint"), Seq("k"))
    assert(store.countRows("e") == 0L)
    assertThrows[errors.TableDoesNotExist](store.countRows("nope"))
  }

  test("change-data-feed classifies inserts, deletes and update image pairs") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(10)"), Seq("k"))
    store.insert("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    val g1 = store.snapshots("t").last._1
    // full merge: deletes 1 and 3, updates 2, inserts 4
    store.merge("t", Seq((2, "B"), (4, "d")).toDF("k", "v"))
    val g2 = store.snapshots("t").last._1
    val cdf = store.readChanges("t", g1, g2)
    assert(cdf.columns.toSeq == Seq("k", "v", "_change_type"))
    assert(cdf.orderBy("k", "_change_type").as[(Int, String, String)].collect().toSeq == Seq(
      (1, "a", "delete"),
      (2, "B", "update_postimage"), (2, "b", "update_preimage"),
      (3, "c", "delete"),
      (4, "d", "insert")))
    // same-generation feed is empty; direction matters (to→from inverts)
    assert(store.readChanges("t", g1, g1).count() == 0)
    assert(store.readChanges("t", g2, g1).filter(col("k") === 1)
      .select("_change_type").as[String].collect().toSeq == Seq("insert"))
    // a merge that rewrites a row with IDENTICAL values is not a change:
    // value equality, not file membership, decides
    store.merge("t", Seq((2, "B"), (4, "d"), (5, "e")).toDF("k", "v"))
    val g3 = store.snapshots("t").last._1
    assert(store.readChanges("t", g2, g3).as[(Int, String, String)]
      .collect().toSeq == Seq((5, "e", "insert")))
  }

  test("change-data-feed reads only the rewritten buckets, not the table") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "varchar(12)"), Seq("k"), buckets = 8)
    store.insert("t", spark.range(0, 400).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    val g1 = store.snapshots("t").last._1
    store.upsert("t", Seq((42L, "updated"), (100000L, "new")).toDF("k", "v"))
    val g2 = store.snapshots("t").last._1
    val cdf = store.readChanges("t", g1, g2)
    assert(cdf.orderBy("k", "_change_type").as[(Long, String, String)].collect().toSeq == Seq(
      (42L, "updated", "update_postimage"), (42L, "v42", "update_preimage"),
      (100000L, "new", "insert")))
    // the O(changed files) contract: the feed's scan touches only the
    // manifests' file-set difference — strictly fewer files than the
    // post snapshot (only the upsert's buckets were rewritten)
    val total = store.readTableAt("t", g2).inputFiles.length
    assert(cdf.inputFiles.length < total,
      s"CDF read ${cdf.inputFiles.length} of $total files — not file-pruned")
  }

  test("pure rewrites (compaction) and metadata-only DDL produce an empty change feed") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(10)"), Seq("k"))
    (0 until 4).foreach(i => store.insert("t", Seq((i, s"v$i")).toDF("k", "v")))
    val g1 = store.snapshots("t").last._1
    store.compact("t")
    val g2 = store.snapshots("t").last._1
    assert(g2 > g1 && store.readChanges("t", g1, g2).count() == 0,
      "compaction rewrote every file but changed no rows — the feed must be empty")
    store.addColumn("t", "w", "int")
    val g3 = store.snapshots("t").last._1
    assert(store.readChanges("t", g2, g3).count() == 0,
      "metadata-only DDL shares the file set — the feed must be empty")
    // post-DDL insert: changes serve in the TO schema, pre-side rows
    // never resurface
    store.insert("t", Seq((9, "i", 90)).toDF("k", "v", "w"))
    val g4 = store.snapshots("t").last._1
    assert(store.readChanges("t", g2, g4).columns.toSeq == Seq("k", "v", "w", "_change_type"))
    assert(store.readChanges("t", g2, g4).as[(Int, String, Option[Int], String)]
      .collect().toSeq == Seq((9, "i", Some(90), "insert")))
    // update across the schema boundary: the preimage aligns to the TO
    // schema with null for the added column
    store.update("t", Seq((0, "V0", 7)).toDF("k", "v", "w"))
    val g5 = store.snapshots("t").last._1
    assert(store.readChanges("t", g2, g5).filter(col("k") === 0)
      .orderBy("_change_type").as[(Int, String, Option[Int], String)].collect().toSeq == Seq(
        (0, "V0", Some(7), "update_postimage"), (0, "v0", None, "update_preimage")))
  }

  test("change-data-feed without a primary key is a full-row multiset diff") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(10)"))
    store.insert("t", Seq((1, "x"), (1, "x"), (2, "y")).toDF("k", "v"))
    val g1 = store.snapshots("t").last._1
    store.insert("t", Seq((1, "x"), (3, "z")).toDF("k", "v"))
    val g2 = store.snapshots("t").last._1
    // appends: one MORE (1,x) than before — multiplicity 1, not 3
    assert(store.readChanges("t", g1, g2).orderBy("k").as[(Int, String, String)]
      .collect().toSeq == Seq((1, "x", "insert"), (3, "z", "insert")))
    // compaction rewrites everything, multiset unchanged → empty feed
    store.compact("t")
    val g3 = store.snapshots("t").last._1
    assert(store.readChanges("t", g2, g3).count() == 0)
    // the reverse direction sees the appended rows as deletes
    assert(store.readChanges("t", g2, g1).orderBy("k").as[(Int, String, String)]
      .collect().toSeq == Seq((1, "x", "delete"), (3, "z", "delete")))
  }

  test("commit lock: a second concurrent committer fails loudly, not silently") {
    val root = Files.createTempDirectory("graft_test_").toString
    val store = newStore()
    val store2 = new TableStore(spark, root)
    val s1 = new TableStore(spark, root)
    s1.createTable("t", Seq("k" -> "int", "v" -> "int"), Seq("k"))
    s1.insert("t", Seq((1, 10)).toDF("k", "v"))
    // simulate a concurrent writer (or a crashed one): the lock exists
    val lock = new org.apache.hadoop.fs.Path(root, "t/commit.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false); out.write("pid=9999 ts=0".getBytes); out.close()
    val e = intercept[errors.ConcurrentWrite](store2.insert("t", Seq((2, 20)).toDF("k", "v")))
    assert(e.getMessage.contains("pid=9999"))
    intercept[errors.ConcurrentWrite](store2.update("t", Seq((1, 11)).toDF("k", "v")))
    intercept[errors.ConcurrentWrite](store2.addColumn("t", "w", "int"))
    // the documented recovery path once the holder is known dead
    store2.clearCommitLock("t")
    store2.insert("t", Seq((2, 20)).toDF("k", "v"))
    assert(store2.readTable("t").count() == 2)
    // the lock is released after a successful mutation
    assert(!fs.exists(lock))
    store.createTable("unrelated", Seq("k" -> "int")) // other stores unaffected
  }

  test("orphaned g<N> from a crashed commit is never reused as a live generation") {
    val root = Files.createTempDirectory("graft_test_").toString
    val store = new TableStore(spark, root)
    store.createTable("t", Seq("k" -> "int", "v" -> "int"), Seq("k"))
    store.insert("t", Seq((1, 10), (2, 20)).toDF("k", "v")) // gen 1
    // simulate a crash BEFORE the manifest commit: the writer's file in
    // data/, named by no manifest, and a stale m000002.json.tmp
    val orphan = Files.createTempDirectory("graft_orphan_").toString
    Seq((1, 99)).toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(orphan)
    val part = new java.io.File(orphan).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(root, "t", "data", part.getName))
    Files.write(java.nio.file.Paths.get(root, "t", "history", "m000002.json.tmp"),
      "{\"torn".getBytes("UTF-8"))
    store.update("t", Seq((1, 11)).toDF("k", "v")) // nothing claims gen 2: it is minted
    assert(store.snapshots("t").map(_._1) == Seq(1, 2))
    assert(store.readTableAt("t", 1).orderBy("k").as[(Int, Int)].collect().toSeq ==
      Seq((1, 10), (2, 20)))
    assert(store.readTable("t", orderBy = Seq("k")).as[(Int, Int)].collect().toSeq ==
      Seq((1, 11), (2, 20)))
  }

  test("bucketed tables refuse PK changes that would silently break bucket pruning") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "int"), Seq("k"), buckets = 4)
    store.insert("t", Seq((1L, 10), (2L, 20)).toDF("k", "v"))
    intercept[errors.InvalidValue](store.setPrimaryKey("t", Seq("v")))
    intercept[errors.InvalidValue](store.setPrimaryKey("t", Seq.empty))
    intercept[errors.InvalidValue](store.dropColumn("t", "k"))
    store.setPrimaryKey("t", Seq("k"))  // no-op form stays allowed
    store.dropColumn("t", "v")          // non-PK columns still droppable
    assert(store.readTable("t").columns.toSeq == Seq("k"))
  }

  test("snapshot projection uses the snapshot's primary key, not the current one") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "u" -> "int", "v" -> "int"), Seq("k"))
    store.insert("t", Seq((1, 100, 10)).toDF("k", "u", "v")) // gen 1: pk = k
    store.setPrimaryKey("t", Seq("u"))                       // gen 2: pk = u
    // projected snapshot read at gen 1 auto-includes k (its pk), not u
    assert(store.readTable("t", columns = Seq("v"), asOf = Some(1)).columns.toSeq ==
      Seq("k", "v"))
    // the current read auto-includes the current pk
    assert(store.readTable("t", columns = Seq("v")).columns.toSeq == Seq("u", "v"))
  }

  test("snapshot reads prune files by stats and buckets like current reads") {
    val store = newStore()
    // flat table: two range-disjoint insert batches, analyzed while
    // current, then retired by a rewrite — the snapshot read must still
    // skip the out-of-range files via the retained stats entries
    store.createTable("t", Seq("k" -> "int", "v" -> "int"), Seq("k"))
    store.insert("t", (1 to 100).map(i => (i, i)).toDF("k", "v"))     // gen 1
    store.insert("t", (201 to 300).map(i => (i, i)).toDF("k", "v"))   // gen 2
    store.analyze("t")
    val g2 = store.snapshots("t").last._1
    store.update("t", Seq((1, -1)).toDF("k", "v"))                    // gen 3: full rewrite
    val all = store.readTableAt("t", g2)
    val pruned = store.readTable("t", where = Some("k <= 100"), asOf = Some(g2))
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"expected a pruned snapshot scan: ${pruned.inputFiles.length} vs ${all.inputFiles.length}")
    assert(pruned.count() == 100)
    assert(pruned.orderBy("k").as[(Int, Int)].collect().toSeq ==
      all.filter(col("k") <= 100).orderBy("k").as[(Int, Int)].collect().toSeq)
    // the snapshot still sees the pre-rewrite value the current read lost
    assert(pruned.filter(col("k") === 1).as[(Int, Int)].collect().toSeq == Seq((1, 1)))

    // bucketed table: a PK-equality snapshot read prunes to the key's
    // bucket dir with no stats needed
    store.createTable("b", Seq("k" -> "bigint", "v" -> "varchar(10)"), Seq("k"), buckets = 8)
    store.insert("b", spark.range(0, 400).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    val bg = store.snapshots("b").last._1
    store.upsert("b", Seq((42L, "updated")).toDF("k", "v"))
    val bAll = store.readTableAt("b", bg)
    val bPruned = store.readTable("b", where = Some("k = 42"), asOf = Some(bg))
    assert(bPruned.inputFiles.length < bAll.inputFiles.length,
      s"expected a bucket-pruned snapshot scan: ${bPruned.inputFiles.length} vs ${bAll.inputFiles.length}")
    assert(bPruned.select("v").as[String].collect().toSeq == Seq("v42"))
  }

  test("incremental append manifests equal a re-listing across a 4-batch load") {
    val root = Files.createTempDirectory("graft_test_").toString
    val store = new TableStore(spark, root)
    store.createTable("t", Seq("k" -> "int", "v" -> "int"), Seq("k"), buckets = 4)
    def listed(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val data = java.nio.file.Paths.get(root, "t", "data")
      java.nio.file.Files.walk(data).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(p => data.relativize(p).toString).toSet
    }
    var prev = Set.empty[String]
    (0 until 4).foreach { b =>
      store.insert("t", (b * 10 until b * 10 + 10).map(i => (i, i)).toDF("k", "v"))
      val g = store.snapshots("t").last._1
      val manifest = store.readTableAt("t", g).inputFiles
        .map(_.split("/t/data/").last).toSet
      // the incrementally-derived manifest IS the re-listed file set
      assert(manifest == listed(), s"batch $b: manifest and listing diverge")
      assert(prev.subsetOf(manifest) && manifest.size > prev.size)
      prev = manifest
    }
    assert(store.readTable("t").count() == 40)
  }

  test("snapshot pruning never evaluates stats computed under another type domain") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "c" -> "int"), Seq("k"))
    store.insert("t", Seq((1, 9), (2, 100)).toDF("k", "c"))
    store.analyze("t", Seq("c"))
    val g1 = store.snapshots("t").last._1
    // metadata-only drop + re-add under a DIFFERENT type: the parquet
    // files are untouched, but analyze now records min/max in the
    // STRING domain (lexicographic: min="100", max="9")
    store.dropColumn("t", "c")
    store.addColumn("t", "c", "varchar(10)")
    store.analyze("t", Seq("c"))
    // the snapshot read evaluates predicates under the INT schema; the
    // string-domain entries must be IGNORED, not compared — comparing
    // would conclude max(9) < 100 and silently prune the file to 0 rows
    val snap = store.readTable("t", where = Some("c = 100"), asOf = Some(g1))
    assert(snap.select("c").as[Int].collect().toSeq == Seq(100))
    // the current read prunes normally in the matching (string) domain
    assert(store.readTable("t", where = Some("c = '100'"))
      .select("c").as[String].collect().toSeq == Seq("100"))
  }

  test("repair deletes a crashed append's orphan files, never folds them in") {
    val root = Files.createTempDirectory("graft_repair_").toString
    val store = new TableStore(spark, root)
    store.createTable("t", Seq("k" -> "int"), Seq("k"))
    store.insert("t", Seq(1, 2).toDF("k"))
    // simulate the crash window: a batch file moved into data/ whose
    // manifest commit never happened — no reader sees it, and
    // incremental commits would omit it forever
    val tmpOut = Files.createTempDirectory("graft_orphan_").toString
    Seq(3).toDF("k").coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val part = new java.io.File(tmpOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(root, "t", "data", part.getName))
    // the newest manifest IS the table: no reader sees the uncommitted orphan
    assert(store.read("t").count() == 2)
    assert(store.readTableAt("t", store.snapshots("t").last._1).count() == 2)
    assert(store.readTable("t", where = Some("k >= 0")).count() == 2)
    assert(store.countRows("t") == 2)
    assert(store.explainPruning("t", "k >= 0")("total_files") ==
      store.readTableAt("t", store.snapshots("t").last._1).inputFiles.length)
    // nor does a keyed write: an upsert commits only what it derived from
    // the committed files (the orphan stays unnamed)
    store.createTable("u", Seq("k" -> "int"), Seq("k"))
    store.insert("u", Seq(1, 2).toDF("k"))
    val uOut = Files.createTempDirectory("graft_orphan_").toString
    Seq(3).toDF("k").coalesce(1).write.mode("overwrite").parquet(uOut)
    val uPart = new java.io.File(uOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(uPart.toPath,
      java.nio.file.Paths.get(root, "u", "data", uPart.getName))
    store.upsert("u", Seq(4).toDF("k"))
    assert(store.readTable("u", orderBy = Seq("k")).as[Int].collect().toSeq == Seq(1, 2, 4))
    // repair rolls back: the uncommitted file is deleted, not committed
    store.repair("t")
    assert(store.readTableAt("t", store.snapshots("t").last._1).count() == 2)
    assert(!Files.exists(java.nio.file.Paths.get(root, "t", "data", part.getName)))
    store.insert("t", Seq(4).toDF("k"))
    assert(store.readTableAt("t", store.snapshots("t").last._1).count() == 3)
  }

  test("a mutation on a missing table leaves no stray directory behind") {
    val root = Files.createTempDirectory("graft_stray_").toString
    val store = new TableStore(spark, root)
    assertThrows[errors.TableDoesNotExist](store.insert("nope", Seq(1).toDF("k")))
    assert(!new java.io.File(root, "nope").exists(),
      "the lock-hosting dir of a nonexistent table must be cleaned up")
  }

  test("primary key violations detected; keyed merge via store") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "v" -> "varchar(5)"), Seq("k"))
    store.insert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(store.primaryKeyViolations("t").count() == 0)
    store.insert("t", Seq((2, "dup")).toDF("k", "v"))
    assert(store.primaryKeyViolations("t").select("k").as[Int].collect().toSeq == Seq(2))
    // merge: key 1 deleted, key 3 inserted; BOTH duplicate key-2 target
    // rows update (same as T-SQL MERGE with duplicate target keys — a
    // corrupted-PK table stays corrupted, it is not silently repaired)
    store.merge("t", Seq((2, "m"), (3, "n")).toDF("k", "v"))
    assert(store.readTable("t", orderBy = Seq("k")).as[(Int, String)].collect().toSeq ==
      Seq((2, "m"), (2, "m"), (3, "n")))
  }

  test("C31: rebucket rewrites the layout online; old snapshots keep their own layout") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "varchar(10)"), Seq("k"), buckets = 4)
    store.insert("t", (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val before = store.readTable("t", orderBy = Seq("k")).collect().toSeq
    val genBefore = store.snapshots("t").map(_._1).max
    // refusals: no-op count; bucketed layout needs a PK
    assertThrows[errors.RecastColumnUnchanged](store.rebucket("t", 4))
    store.rebucket("t", 16)
    assert(store.meta("t").buckets == 16)
    // contents identical, keyed read prunes under the NEW layout
    assert(store.readTable("t", orderBy = Seq("k")).collect().toSeq == before)
    val all = store.readTable("t").inputFiles.length
    val point = store.readTable("t", where = Some("k = 7"))
    assert(point.count() == 1)
    assert(point.inputFiles.length < all,
      s"new layout did not prune: ${point.inputFiles.length} of $all")
    // the pre-rebucket snapshot still reads — and prunes under the OLD
    // 4-bucket layout it was written with (manifest pins its meta)
    val snapAll = store.readTable("t", asOf = Some(genBefore)).inputFiles.length
    val snapPoint = store.readTable("t", where = Some("k = 7"), asOf = Some(genBefore))
    assert(snapPoint.count() == 1)
    assert(snapPoint.inputFiles.length < snapAll,
      s"snapshot lost its layout pruning: ${snapPoint.inputFiles.length} of $snapAll")
    assert(store.readTable("t", orderBy = Seq("k"), asOf = Some(genBefore))
      .collect().toSeq == before)
    // back to flat works too
    store.rebucket("t", 0)
    assert(store.readTable("t", orderBy = Seq("k")).collect().toSeq == before)
  }

  test("C30: check add validates existing data; enforcement on insert; UNKNOWN passes") {
    val rootDir = Files.createTempDirectory("graft_test_").toString
    val store = new TableStore(spark, rootDir)
    store.createTable("t", Seq("k" -> "int", "qty" -> "int", "price" -> "decimal(8,2)"), Seq("k"))
    store.insert("t", Seq((1, 5, 10.0), (2, 3, 20.0)).toDF("k", "qty", "price"))
    // violated by existing data → refused, nothing lands
    assertThrows[errors.CheckConstraintViolation](
      store.addCheckConstraint("t", "chk_qty_big", "qty > 4"))
    assert(store.meta("t").checks.isEmpty)
    // unknown column / bad syntax → refused driver-side
    assertThrows[errors.ColumnDoesNotExist](
      store.addCheckConstraint("t", "chk_bad", "nope > 0"))
    // holding constraint lands and persists across a fresh store handle
    store.addCheckConstraint("t", "chk_qty_pos", "qty > 0")
    val reopened = new TableStore(spark, rootDir)
    assert(reopened.meta("t").checks == Seq("chk_qty_pos" -> "qty > 0"))
    // duplicate name refused
    assertThrows[errors.TableAlreadyExists](
      store.addCheckConstraint("t", "chk_qty_pos", "qty > 1"))
    // violating insert refused atomically; passing insert lands
    assertThrows[errors.CheckConstraintViolation](
      store.insert("t", Seq((3, 0, 1.0)).toDF("k", "qty", "price")))
    assert(store.readTable("t").count() == 2)
    store.insert("t", Seq((3, 9, 1.0)).toDF("k", "qty", "price"))
    // SQL CHECK semantics: NULL qty is UNKNOWN → passes; and a batch
    // without the checked column (null-filled on read) passes too
    store.insert("t", Seq((4, Option.empty[Int], 2.0)).toDF("k", "qty", "price"))
    store.insert("t", Seq((5, 3.0)).toDF("k", "price"))
    assert(store.readTable("t").count() == 5)
    // drop removes enforcement
    store.dropCheckConstraint("t", "chk_qty_pos")
    store.insert("t", Seq((6, -1, 1.0)).toDF("k", "qty", "price"))
    assertThrows[errors.UndefinedCheckConstraint](
      store.dropCheckConstraint("t", "chk_qty_pos"))
  }

  test("C30: mutations enforce checks; constraints spanning target columns validate the MERGED row") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int", "lo" -> "int", "hi" -> "int"), Seq("k"))
    store.insert("t", Seq((1, 1, 10), (2, 2, 20)).toDF("k", "lo", "hi"))
    store.addCheckConstraint("t", "chk_order", "lo <= hi")
    // source provides both columns → decided source-side
    assertThrows[errors.CheckConstraintViolation](
      store.update("t", Seq((1, 50, 5)).toDF("k", "lo", "hi")))
    // source provides ONLY hi: the merged row (lo from target) decides.
    // k=1 keeps lo=1, hi=5 → fine; hi=0 would sink below lo=1 → refused
    store.update("t", Seq((1, 5)).toDF("k", "hi"))
    assert(store.readTable("t", where = Some("k = 1")).select("hi").collect().head.getInt(0) == 5)
    assertThrows[errors.CheckConstraintViolation](
      store.update("t", Seq((1, 0)).toDF("k", "hi")))
    // upsert and merge go through the same gates
    assertThrows[errors.CheckConstraintViolation](
      store.upsert("t", Seq((7, 9, 1)).toDF("k", "lo", "hi")))
    // merged k=2 would read lo=30 against target hi=20 → refused
    // BEFORE any write (including merge's not-matched-by-source delete)
    assertThrows[errors.CheckConstraintViolation](
      store.merge("t", Seq((2, 30)).toDF("k", "lo")))
    assert(store.readTable("t").count() == 2)
    store.merge("t", Seq((2, 25)).toDF("k", "hi")) // holds; deletes k=1
    assert(store.readTable("t", where = Some("k = 2")).select("hi").collect().head.getInt(0) == 25)
  }

  test("C35: explainPruning attributes the cut to the right layer, metadata-only") {
    import spark.implicits._
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"), buckets = 8)
    store.insert("t", (0L until 800L).map(i => (i, i * 3)).toDF("k", "v"))
    store.analyze("t")
    val rep = store.explainPruning("t", "k = 17")
    // a PK point read cuts at the bucket layer to ≤ 1/8 of the files,
    // and stats can only narrow further
    assert(rep("total_files") > 0)
    assert(rep("after_bucket_prune") <= rep("total_files") / 4,
      s"bucket layer did not cut: $rep")
    assert(rep("after_stats_prune") <= rep("after_bucket_prune"))
    assert(rep("after_stats_prune") >= 1, "the matching file must survive")
    // a non-PK range predicate can't bucket-prune; zone maps still can
    val rep2 = store.explainPruning("t", "v >= 0")
    assert(rep2("after_bucket_prune") == rep2("total_files"))
    // report and actual read agree on the surviving set size
    val read = store.readTable("t", where = Some("k = 17"))
    assert(read.inputFiles.length == rep("after_stats_prune").toInt)
    assert(read.count() == 1)
  }

  test("C40 vacuum dry-run: promises exactly what vacuum then frees; empty when nothing to free") {
    val root = Files.createTempDirectory("graft_test_").toString
    val store = new TableStore(spark, root)
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"))
    store.insert("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    store.update("t", Seq((1L, 11L)).toDF("k", "v"))
    store.update("t", Seq((2L, 21L)).toDF("k", "v"))
    def parquetBytes(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "t", "data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
    val report = store.vacuumDryRun("t", keepLast = 1).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(report.nonEmpty, "rewrites must have replaced files to free")
    assert(report.map(_._2).sum > 0 && report.map(_._3).sum > 0)
    val before = parquetBytes()
    store.vacuum("t", keepLast = 1)
    val deleted = before -- parquetBytes().keys
    // vacuum deleted exactly the promised files and bytes
    assert(deleted.size == report.map(_._2).sum, s"deleted ${deleted.keys}, promised $report")
    assert(deleted.values.sum == report.map(_._3).sum,
      s"vacuum freed ${deleted.values.sum}, promised ${report.map(_._3).sum}")
    // and a fresh dry-run at the same retention has nothing left
    assert(store.vacuumDryRun("t", keepLast = 1).collect()
      .forall(r => r.getLong(1) == 0L))
  }

  test("C38 history: per-generation file deltas match the manifests, metadata-only") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"))
    store.insert("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    store.insert("t", Seq((3L, 30L)).toDF("k", "v"))
    store.update("t", Seq((1L, 11L)).toDF("k", "v"))
    val h = store.history("t").orderBy("gen").collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(h.nonEmpty)
    // deltas are self-consistent: n_files evolves by added − removed
    h.sliding(2).foreach {
      case Array((_, n0, _, _), (_, n1, a1, r1)) => assert(n1 == n0 + a1 - r1)
      case _ =>
    }
    // the first retained generation reports its full set as added
    assert(h.head._2 == h.head._3 && h.head._4 == 0L)
    // appends only add; the keyed update both adds and removes
    val appendRow = h(h.length - 2)
    assert(appendRow._3 > 0 && appendRow._4 == 0L, s"append row: $appendRow")
    val updateRow = h.last
    assert(updateRow._3 > 0 && updateRow._4 > 0, s"update row: $updateRow")
    // the newest generation's file count is the table's current set
    assert(updateRow._2 == store.readTable("t").inputFiles.length.toLong)
    // commit times never regress
    val times = store.history("t").orderBy("gen").collect().map(_.getTimestamp(1).getTime)
    assert(times.sameElements(times.sorted))
  }

  test("C42: fkViolations reports orphan keys with strand counts; NULL FKs exempt; composite keys") {
    val store = newStore()
    store.createTableFromDataFrame("parent",
      Seq((1L, "x"), (2L, "y")).toDF("pk", "sub"), Seq("pk"), infer = false)
    store.createTableFromDataFrame("child", Seq(
      (10L, Some(1L), Some("x")), // valid
      (11L, Some(2L), Some("y")), // valid
      (12L, Some(2L), Some("z")), // composite orphan: (2,z) has no parent
      (13L, Some(9L), Some("x")), // orphan key 9
      (14L, Some(9L), Some("x")), // same orphan again → count 2
      (15L, None, Some("x")),     // NULL FK component: not a violation
      (16L, Some(1L), None))      // NULL second component: not a violation
      .toDF("ck", "fk", "fsub"), Seq("ck"), infer = false)
    val got = store.fkViolations("child", Seq("fk", "fsub"), "parent", Seq("pk", "sub"))
      .orderBy("fk", "fsub").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, "z", 1L), (9L, "x", 2L)))
    // a fully valid child audits clean
    val clean = store.fkViolations("child", Seq("ck"), "child", Seq("ck"))
    assert(clean.count() == 0)
    // arity and column-existence errors are named, not silent
    intercept[graft.GraftException] {
      store.fkViolations("child", Seq("fk"), "parent", Seq("pk", "sub"))
    }
    intercept[graft.GraftException] {
      store.fkViolations("child", Seq("nope"), "parent", Seq("pk"))
    }
  }

  test("applyChanges folds upserts and deletes in ONE commit, bucket-pruned") {
    val store = newStore()
    store.createTable("t",
      Seq("k" -> "bigint", "g" -> "varchar(5)", "v" -> "float"), Seq("k"), buckets = 4)
    store.insert("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "g", "v"))
    val gens = store.snapshots("t").size
    store.applyChanges("t",
      Seq((1L, "a", 15.0, false),   // update
          (4L, "d", 40.0, false),   // insert
          (2L, "b", 0.0, true),     // delete
          (9L, "x", 0.0, true))     // absent key: no-op
        .toDF("k", "g", "v", "__dead"),
      "__dead")
    assert(store.snapshots("t").size == gens + 1,
      "upsert+delete must land as a single commit")
    val got = store.readTable("t", orderBy = Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 15.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("applyChanges enforces CHECK constraints on live rows only — a delete row is just a key") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "int"), Seq("k"))
    store.insert("t", Seq((1L, 10), (2L, 20)).toDF("k", "v"))
    store.addCheckConstraint("t", "v_pos", "v > 0")
    // delete rows carry a constraint-violating payload — irrelevant,
    // only their key matters; the live row must still be validated
    store.applyChanges("t",
      Seq((2L, -999, true), (3L, 30, false)).toDF("k", "v", "__dead"), "__dead")
    assert(store.readTable("t", orderBy = Seq("k")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 10), (3L, 30)))
    // a LIVE row violating the check refuses the whole commit
    intercept[graft.GraftException] {
      store.applyChanges("t",
        Seq((4L, -1, false)).toDF("k", "v", "__dead"), "__dead")
    }
    assert(store.readTable("t").count() == 2, "refused commit must not land")
  }

  test("per-table properties: merge, remove, atomic swap survives reread") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int"), Seq("k"))
    assert(store.properties("t").isEmpty)
    store.setProperties("t", Map("a" -> "1", "b" -> "2"))
    store.setProperties("t", Map("b" -> "3", "c" -> "4"), remove = Seq("a"))
    assert(store.properties("t") == Map("b" -> "3", "c" -> "4"))
    intercept[graft.GraftException] { store.properties("nope") }
  }

  test("properties survive the delete→rename crash window (tmp IS the committed state)") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "int"), Seq("k"))
    store.setProperties("t", Map("x" -> "1"))
    // simulate the crash: main deleted, completed tmp left behind
    val root = store.dataLocation("t").stripSuffix("/data")
    val main = new java.io.File(root, "props.json")
    val tmp = new java.io.File(root, "props.json.tmp")
    assert(main.exists())
    java.nio.file.Files.copy(main.toPath, tmp.toPath)
    assert(main.delete())
    // reads fall back to the tmp; a subsequent set heals it into place
    assert(store.properties("t") == Map("x" -> "1"))
    store.setProperties("t", Map("y" -> "2"))
    assert(store.properties("t") == Map("x" -> "1", "y" -> "2"))
    assert(new java.io.File(root, "props.json").exists())
  }

  test("C45 auto-analyze: every commit refreshes stats incrementally; DDL-safe; clear stops it") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"))
    store.setAutoAnalyze("t", Seq("k", "v"))
    store.insert("t", (0L until 50L).map(k => (k, k * 2)).toDF("k", "v"))
    store.insert("t", (100L until 150L).map(k => (k, k * 2)).toDF("k", "v"))
    // no manual analyze anywhere: the second batch's files must still
    // prune a key-range predicate that excludes them
    val rep = store.explainPruning("t", "k >= 100")
    assert(rep("after_stats_prune") < rep("total_files"),
      s"auto-analyze left fresh files unpruned: $rep")
    assert(store.readTable("t", where = Some("k >= 100")).count() == 50)
    // keyed mutation commits refresh too — and never mis-prune
    store.upsert("t", Seq((10L, 999L)).toDF("k", "v"))
    assert(store.readTable("t", where = Some("v = 999")).count() == 1)
    assert(store.readTable("t", where = Some("v = 20")).count() == 0) // old value gone
    // dropping an auto column must not break the next commit
    store.dropColumn("t", "v")
    store.insert("t", (200L until 210L).map(Tuple1(_)).toDF("k"))
    assert(store.readTable("t", where = Some("k >= 200")).count() == 10)
    // clear: later commits stop refreshing (files without stats are
    // kept conservatively — correctness unchanged, pruning degrades)
    store.clearAutoAnalyze("t")
    val before = store.explainPruning("t", "k >= 1000000")("after_stats_prune")
    store.insert("t", Seq(Tuple1(300L)).toDF("k"))
    val after = store.explainPruning("t", "k >= 1000000")("after_stats_prune")
    assert(after == before + 1,
      s"post-clear commit should add one unanalyzed (unprunable) file: $before -> $after")
  }

  test("only a current read of the whole file set is answered from a summary") {
    val g = Graft(spark, Files.createTempDirectory("graft_served_").toString)
    try {
      g.create.tableFromDataFrame("t",
        Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "grp", "v"), Seq("k"))
      g.maintenance.analyze("t")
      // C28 hybrid: 3 rows from the stats sidecar + a scan of the 2 unanalyzed ones
      g.write.insert("t", Seq((4L, "b", 40.0), (5L, "c", 50.0)).toDF("k", "grp", "v"))
      g.summaries.define("s", "t", Seq("grp"), Seq("v"))
      g.summaries.maintain("s")
      assert(g.read.count("t") == 5)
      assert(g.read.count("t") == g.read.table("t").count())
      // a frame pinned to the newest generation keeps that generation's
      // rows when it runs after an append and a maintain
      val latest = g.read.snapshots("t").map(_._1).max
      val pinned = g.read.tableAt("t", latest)
      val pinnedAsOf = g.read.table("t", asOf = Some(latest))
      g.write.insert("t", Seq((6L, "c", 60.0)).toDF("k", "grp", "v"))
      g.summaries.maintain("s")
      assert(pinned.count() == 5)
      assert(pinnedAsOf.count() == 5)
      assert(g.read.changes("t", latest, latest + 1).count() == 1)
      assert(g.read.count("t") == 6)
    } finally { g.summaries.detach("t"); g.close() }
  }
}
