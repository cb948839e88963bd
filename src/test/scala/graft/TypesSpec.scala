package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.types.{Infer, SqlType}

class TypesSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("parse maps SQL declarations to Spark types with bounds") {
    assert(SqlType.parse("TINYINT").spark == ShortType)
    assert(SqlType.parse("TINYINT").intRange.contains((0L, 255L)))
    assert(SqlType.parse("smallint").spark == ShortType)
    assert(SqlType.parse("INT").spark == IntegerType)
    assert(SqlType.parse("bigint").spark == LongType)
    assert(SqlType.parse("DECIMAL(12,2)").spark == DecimalType(12, 2))
    assert(SqlType.parse("numeric(6)").spark == DecimalType(6, 0))
    assert(SqlType.parse("VARCHAR(10)").maxLength.contains(10))
    assert(SqlType.parse("varchar(max)").maxLength.isEmpty)
    assert(SqlType.parse("varchar").maxLength.contains(1)) // SQL Server DDL default
    assert(SqlType.parse("datetime2").spark == TimestampNTZType)
    assert(SqlType.parse("binary(4)").name == "binary") // distinction preserved
  }

  test("parse rejects malformed declarations") {
    assertThrows[errors.UndefinedConversionRule](SqlType.parse("decimal(40,2)"))
    assertThrows[errors.UndefinedConversionRule](SqlType.parse("decimal(5,9)"))
    assertThrows[errors.UndefinedConversionRule](SqlType.parse("wibble"))
  }

  test("forSpark maps signed ByteType to smallint, not unsigned tinyint") {
    assert(SqlType.forSpark(ByteType).name == "smallint")
  }

  test("violation predicates catch out-of-bounds values") {
    def violations(t: String, df: org.apache.spark.sql.DataFrame, c: String): Long =
      SqlType.parse(t).violation(col(c)).map(v => df.filter(v).count()).getOrElse(0L)
    val ints = Seq(-5L, 0L, 255L, 256L).toDF("v")
    assert(violations("tinyint", ints, "v") == 2) // -5 and 256
    assert(violations("smallint", Seq(32768L, 100L).toDF("v"), "v") == 1)
    val strs = Seq("ab", "abcd", null).toDF("s")
    assert(violations("varchar(3)", strs, "s") == 1) // null passes, abcd fails
    val decs = Seq(99.99, 100.0).toDF("d")
    assert(violations("decimal(4,2)", decs, "d") == 1)
  }

  test("datetimeoffset: canonical render round-trips instant and offset exactly") {
    assert(SqlType.parse("DATETIMEOFFSET").spark == StringType)
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-06-15 08:30:00.123456"), 120L),   // +02:00
      (2L, java.sql.Timestamp.valueOf("2025-01-01 00:00:00.0"), -570L),       // -09:30
      (3L, java.sql.Timestamp.valueOf("2024-12-31 23:59:59.999999"), 0L),     // +00:00
      (4L, java.sql.Timestamp.valueOf("2025-03-09 12:00:00.0"), 840L))        // +14:00
      .toDF("id", "ts", "om")
    val rt = df.select(col("id"), col("ts"), col("om"),
        SqlType.dtoFromTimestamp(col("ts"), col("om")).as("dto"))
      .withColumn("instant", SqlType.dtoInstant(col("dto")))
      .withColumn("om2", SqlType.dtoOffsetMinutes(col("dto")))
    rt.collect().foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("instant") == r.getAs[java.sql.Timestamp]("ts"),
        s"instant drifted for id ${r.getLong(0)}: ${r.getAs[String]("dto")}")
      assert(r.getAs[Long]("om2") == r.getAs[Long]("om"),
        s"offset lost for id ${r.getLong(0)}: ${r.getAs[String]("dto")}")
    }
    // the canonical strings themselves
    val strs = rt.orderBy("id").select("dto").collect().map(_.getString(0)).toSeq
    assert(strs == Seq(
      "2025-06-15 10:30:00.123456 +02:00",
      "2024-12-31 14:30:00.000000 -09:30",
      "2024-12-31 23:59:59.999999 +00:00",
      "2025-03-10 02:00:00.000000 +14:00"))
  }

  test("datetimeoffset helpers are session-zone-free (ADVICE r10: public entry points run on arbitrary sessions)") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-06-15 08:30:00.123456"), 120L),
      (2L, java.sql.Timestamp.valueOf("2025-01-01 00:00:00.0"), -570L),
      (3L, java.sql.Timestamp.valueOf("2024-12-31 23:59:59.999999"), 840L))
      .toDF("id", "ts", "om")
    def render(): Seq[(String, Long)] = df
      .select(col("id"), SqlType.dtoFromTimestamp(col("ts"), col("om")).as("dto"))
      .withColumn("us", unix_micros(SqlType.dtoInstant(col("dto"))))
      .orderBy("id").collect().toSeq
      .map(r => (r.getAs[String]("dto"), r.getAs[Long]("us")))
    val underUtc = render()
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla") // +08:45
      assert(render() == underUtc, "render or decode consulted the session zone")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(render() == underUtc, "render or decode consulted the session zone")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("DtoInstant native decode: malformed strings are null, boundaries exact") {
    val vals = Seq(
      "2025-06-15 10:30:00.123456 +02:00", // canonical
      "1969-12-31 23:59:59.999999 +00:00", // pre-epoch
      "0001-01-01 00:00:00.000000 -14:00", // extreme civil date
      "9999-12-31 23:59:59.999999 +14:00",
      "2025-06-15 10:30:00 +02:00",        // missing fraction → null
      "not a dto",                          // → null
      null,
      "2024-02-31 00:00:00.000000 +00:00", // invalid calendar day → null
      "2023-02-29 00:00:00.000000 +00:00", // not a leap year → null
      "2024-02-29 00:00:00.000000 +00:00", // leap day, valid
      "2025-04-31 00:00:00.000000 +00:00", // April has 30 days → null
      "2025-06-15 10:30:00.000000 +15:00", // offset past +14:00 → null
      "2025-06-15 10:30:00.000000 -14:30") // past -14:00 → null
    val out = vals.toDF("s")
      .select(unix_micros(SqlType.dtoInstant(col("s"))).as("us")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(out(4).isEmpty && out(5).isEmpty && out(6).isEmpty)
    assert(out(7).isEmpty && out(8).isEmpty && out(10).isEmpty,
      "calendar-invalid dates must decode to null, not a wrong instant")
    assert(out(9).nonEmpty, "a real leap day must decode")
    assert(out(11).isEmpty && out(12).isEmpty,
      "offsets beyond SQL Server's ±14:00 bound must decode to null")
    // cross-check the well-formed ones against java.time
    val expected = vals.take(4).map { s =>
      val f = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS XXX")
      val odt = java.time.OffsetDateTime.parse(s.replace(" +", " +").trim, f)
      odt.toInstant.getEpochSecond * 1000000L + odt.toInstant.getNano / 1000L
    }
    assert(out.take(4).map(_.get) == expected)
  }

  test("dtoNormalizeLiteral: fractions pad, naive localizes as UTC, offsets survive, garbage passes through") {
    assert(SqlType.dtoNormalizeLiteral("2024-01-10 00:00:00") ==
      "2024-01-10 00:00:00.000000 +00:00")
    assert(SqlType.dtoNormalizeLiteral("2024-01-10 00:00:00.5") ==
      "2024-01-10 00:00:00.500000 +00:00") // left-aligned fraction pads right
    assert(SqlType.dtoNormalizeLiteral("2024-01-10 00:00:00.123456") ==
      "2024-01-10 00:00:00.123456 +00:00")
    assert(SqlType.dtoNormalizeLiteral("2024-01-10 00:00:00 +05:30") ==
      "2024-01-10 00:00:00.000000 +05:30")
    assert(SqlType.dtoNormalizeLiteral("2024-01-10 00:00:00.25 -09:30") ==
      "2024-01-10 00:00:00.250000 -09:30")
    assert(SqlType.dtoNormalizeLiteral("  2024-01-10 00:00:00  ".trim) ==
      "2024-01-10 00:00:00.000000 +00:00")
    // unrecognized text passes through (decodes to NULL downstream,
    // the engine's cast-failure convention)
    assert(SqlType.dtoNormalizeLiteral("not a dto") == "not a dto")
    assert(SqlType.dtoNormalizeLiteral("2024-01-10") == "2024-01-10")
  }

  test("datetimeoffset violation: malformed renders and offsets past ±14:00 are caught") {
    val t = SqlType.parse("datetimeoffset")
    val df = Seq(
      "2025-06-15 10:30:00.123456 +02:00",  // ok
      "2025-06-15 10:30:00 +02:00",          // missing fraction
      "2025-06-15 10:30:00.123456 +15:00",   // offset out of range
      "not a datetimeoffset").toDF("v")
    assert(t.violation(col("v")).map(v => df.filter(v).count()).getOrElse(0L) == 3L)
  }

  test("datetimeoffset ingest: a timestamp inserted into a datetimeoffset column localizes as UTC") {
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dto_").toString)
    store.createTable("t", Seq("k" -> "bigint", "d" -> "datetimeoffset"), Seq("k"))
    store.insert("t", Seq((1L, java.sql.Timestamp.valueOf("2025-06-15 08:30:00.5")))
      .toDF("k", "d"))
    val got = store.readTable("t").select("d").collect().head.getString(0)
    assert(got == "2025-06-15 08:30:00.500000 +00:00")
  }

  test("datetimeoffset reads use INSTANT semantics end to end: where, ORDER BY, file pruning") {
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dtoq_").toString)
    store.createTable("t", Seq("k" -> "bigint", "d" -> "datetimeoffset"), Seq("k"))
    def dto(ts: String, om: Long) = Seq((ts, om)).toDF("ts", "om")
      .select(SqlType.dtoFromTimestamp(col("ts").cast("timestamp"), col("om")))
      .collect().head.getString(0)
    // wall order ≠ instant order: A is the EARLIER instant but the
    // LATER wall clock (offset +14:00); B the reverse (−10:00)
    val a = dto("2026-01-15 00:00:00", 840L)   // wall 14:00, instant 00:00Z
    val b = dto("2026-01-15 10:00:00", -600L)  // wall 00:00, instant 10:00Z
    assert(a.startsWith("2026-01-15 14:00:00") && b.startsWith("2026-01-15 00:00:00"))
    store.insert("t", Seq((1L, a)).toDF("k", "d"))
    store.insert("t", Seq((2L, b)).toDF("k", "d")) // second file
    // ORDER BY sorts by instant: A (00:00Z) before B (10:00Z), though
    // A's stored string is the lexicographically larger one
    assert(store.readTable("t", orderBy = Seq("d"))
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // where compares instants (naive literal = UTC): only B is ≥ 05:00Z
    assert(store.readTable("t", where = Some("d >= '2026-01-15 05:00:00'"))
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // and the zone map prunes files by the derived instant stats: the
    // predicate excludes file 1's instant range entirely
    store.analyze("t", Seq("k", "d"))
    val report = store.explainPruning("t", "d >= '2026-01-15 05:00:00'")
    // 2 files, one per insert; stats drop file 1 (instant range below
    // the probe)
    assert(report("total_files") == 2L, s"unexpected layout: $report")
    assert(report("after_stats_prune") == 1L,
      s"instant predicate did not prune by derived stats: $report")
    // wall-clock-identical probe in another offset: equality by instant
    val probe = "2026-01-14 14:00:00 -10:00" // == 2026-01-15 00:00Z == A
    assert(store.readTable("t", where = Some(s"d = '$probe'"))
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("cluster() on a datetimeoffset column lays out by INSTANT and prunes instant ranges") {
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dtoz_").toString)
    store.createTable("t", Seq("k" -> "bigint", "d" -> "datetimeoffset"), Seq("k"))
    // 1000 rows over ~42 days of instants, offsets cycling the full
    // ±14:00 span — wall-clock order is thoroughly scrambled
    val rows = spark.range(0, 1000).toDF("k")
      .withColumn("ts", expr("timestamp_micros(1700000000000000 + k * 3600000000)"))
      .withColumn("om", (col("k") % 57 - 28) * 30)
      .select(col("k"), SqlType.dtoFromTimestamp(col("ts"), col("om")).as("d"))
    store.insert("t", rows)
    store.cluster("t", Seq("d"), filesTarget = 8)
    // a 10%-of-range instant predicate must skip most files
    val report = store.explainPruning("t",
      "d >= '2023-11-14 22:13:20' AND d < '2023-11-19 00:00:00'")
    assert(report("total_files") >= 8L, s"unexpected layout: $report")
    assert(report("after_stats_prune") <= 2L,
      s"instant-clustered layout should prune to ~1 file: $report")
    // and the pruned read returns exactly the instant-filtered rows
    val got = store.readTable("t",
        where = Some("d >= '2023-11-14 22:13:20' AND d < '2023-11-19 00:00:00'"))
      .select("k").collect().map(_.getLong(0)).toSet
    val want = (0L until 1000L).filter { k =>
      val us = 1700000000000000L + k * 3600000000L
      us >= 1700000000000000L && us < 1700352000000000L
    }.toSet
    assert(got == want)
  }

  test("narrowSchema picks smallest integral, date vs datetime2, varchar(n)") {
    val df = Seq(
      (1L, 200L, 40000L, 1.5, 25.0, "abc", "2024-01-01 00:00:00", "2024-01-01 10:30:00"),
      (2L, 100L, -40000L, 2.5, 50.0, "abcdef", "2024-02-01 00:00:00", "2024-02-01 00:00:00"))
      .toDF("k", "small", "wide", "frac", "whole", "s", "mid", "notmid")
      .withColumn("mid", col("mid").cast(TimestampType))
      .withColumn("notmid", col("notmid").cast(TimestampType))
    val m = Infer.narrowSchema(df).toMap
    assert(m("k").name == "tinyint")
    assert(m("small").name == "tinyint")
    assert(m("wide").name == "int")
    assert(m("frac").name == "float")
    assert(m("whole").name == "tinyint") // whole-valued doubles narrow
    assert(m("s").render == "varchar(6)")
    assert(m("mid").name == "date")
    assert(m("notmid").name == "datetime2")
  }

  test("narrowSchema all-null columns keep the source dtype category") {
    val df = Seq((None: Option[Long], None: Option[Double]))
      .toDF("l", "d")
    val m = Infer.narrowSchema(df).toMap
    assert(m("l").name == "bigint")
    assert(m("d").name == "float")
  }
}
