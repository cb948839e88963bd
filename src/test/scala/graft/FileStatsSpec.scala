package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.FileStats
import graft.store.FileStats.{ColStat, FileStat}

/** Unit coverage for the conservative tri-state zone-map evaluator —
  * the component where a wrong "false" silently DROPS matching rows
  * from a keyed read, so every shape gets a direct case: both
  * comparison orientations, OR trees, IN with nulls, null-count
  * pruning, all-null/empty files, date/timestamp domains, and the
  * conservative fallbacks for unknown columns and expressions. */
class FileStatsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val df = {
    import spark.implicits._
    Seq((1L, "a", java.sql.Date.valueOf("2026-01-15"),
        java.sql.Timestamp.valueOf("2026-01-15 12:00:00")))
      .toDF("k", "s", "d", "ts")
  }
  private val types = Map[String, DataType](
    "k" -> LongType, "s" -> StringType, "d" -> DateType, "ts" -> TimestampType)

  /** Resolve a where string to a Catalyst predicate like TableStore.prune does. */
  private def pred(where: String) =
    df.filter(Filters.parseWhere(df, where)).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .get

  private def stat(cols: (String, ColStat)*): FileStat = FileStat(100L, cols.toMap)
  private def k(lo: String, hi: String, nulls: Long = 0) =
    "k" -> ColStat(Some(lo), Some(hi), nulls, Some(LongType.catalogString))

  private def may(where: String, st: FileStat): Boolean =
    FileStats.mayMatch(pred(where), st, types)

  test("numeric comparisons, both orientations, honor the [min,max] interval") {
    val s = stat(k("100", "200"))
    assert(may("k = 150", s) && !may("k = 99", s) && !may("k = 201", s))
    assert(may("k >= 200", s) && !may("k > 200", s))
    assert(may("k <= 100", s) && !may("k < 100", s))
    assert(!may("k >= 201", s) && !may("k <= 99", s))
    assert(may("k <> 150", s)) // != can only be pruned by equality logic; stays true
  }

  test("AND narrows, OR widens") {
    val s = stat(k("100", "200"))
    // conjuncts are evaluated independently (no cross-conjunct interval
    // intersection): an unsatisfiable conjunction stays conservative-true
    assert(may("k >= 150 AND k < 120", s))
    assert(!may("k >= 150 AND k > 500", s)) // one provably-false conjunct prunes
    assert(may("k < 120 OR k > 500", s))
    assert(!may("k < 50 OR k > 500", s))
    assert(may("k < 50 OR s = 'zz'", stat(k("100", "200")))) // unknown col side stays true
  }

  test("IN prunes by member overlap and ignores null members") {
    val s = stat(k("100", "200"))
    assert(may("k IN (5, 150)", s))
    assert(!may("k IN (5, 500)", s))
    assert(!may("k IN (NULL)", s)) // NULL member matches nothing
  }

  test("null counts drive IS NULL / IS NOT NULL pruning") {
    assert(!may("k IS NULL", stat(k("1", "2", nulls = 0))))
    assert(may("k IS NULL", stat(k("1", "2", nulls = 5))))
    assert(may("k IS NOT NULL", stat(k("1", "2", nulls = 5))))
    // all-null file: comparisons and IS NOT NULL prune, IS NULL keeps
    val allNull = FileStat(100L, Map("k" -> ColStat(None, None, 100L, Some(LongType.catalogString))))
    assert(!may("k = 1", allNull) && !may("k IS NOT NULL", allNull))
    assert(may("k IS NULL", allNull))
    // empty file prunes everything provable
    val empty = FileStat(0L, Map("k" -> ColStat(None, None, 0L, Some(LongType.catalogString))))
    assert(!may("k = 1", empty) && !may("k IS NOT NULL", empty))
  }

  test("date and timestamp domains compare against rendered stat strings") {
    val dst = stat("d" -> ColStat(Some("2026-01-01"), Some("2026-01-31"), 0, Some(DateType.catalogString)))
    assert(may("d = '2026-01-15'", dst))
    assert(!may("d > '2026-01-31'", dst))
    assert(!may("d < '2026-01-01'", dst))
    // zoned timestamp stats are epoch micros (session is UTC here):
    // [2026-01-01 00:00:00Z, 2026-01-31 23:59:59Z]
    val tst = stat("ts" -> ColStat(
      Some("1767225600000000"), Some("1769903999000000"), 0, Some(TimestampType.catalogString)))
    assert(may("ts = '2026-01-15 12:00:00'", tst))
    assert(!may("ts > '2026-02-01 00:00:00'", tst))
    assert(!may("ts < '2025-12-31 23:59:59'", tst))
  }

  test("stats from another type domain (or none) never prune") {
    // recorded under int, read under bigint — or a legacy entry with no
    // domain tag at all: both must degrade to keep-the-file, because
    // rendered min/max only order correctly in their own domain
    val other = stat("k" -> ColStat(Some("100"), Some("200"), 0, Some(IntegerType.catalogString)))
    assert(may("k = 99", other) && may("k IS NULL", other))
    val legacy = stat("k" -> ColStat(Some("100"), Some("200"), 0, None))
    assert(may("k = 99", legacy) && may("k IS NULL", legacy))
    // an empty file still prunes regardless of domain: no rows is no rows
    assert(!may("k = 99", FileStat(0L, Map("k" -> ColStat(None, None, 0L, None)))))
  }

  test("bloom sketch cuts equality/IN inside the range; corrupt payloads degrade") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.BloomSketch
    def payload(values: String*): String = {
      val words = BloomSketch.emptyWords(1024)
      values.foreach(v => BloomSketch.add(words, UTF8String.fromString(v), 6))
      java.util.Base64.getEncoder.encodeToString(BloomSketch.serialize(words, 6))
    }
    // file range [100,200] but only holding {100, 150, 200}
    val s = stat("k" -> ColStat(Some("100"), Some("200"), 0,
      Some(LongType.catalogString), Some(payload("100", "150", "200"))))
    assert(may("k = 150", s) && may("k = 100", s))
    assert(!may("k = 151", s), "in-range absent value must be bloom-cut")
    assert(may("k IN (5, 150)", s) && !may("k IN (5, 151)", s))
    // range predicates never consult the bloom (membership says nothing
    // about order): still prune only by [min,max]
    assert(may("k >= 151", s) && !may("k > 200", s))
    // corrupt / wrong-version payloads degrade to keep-the-file
    val bad = stat("k" -> ColStat(Some("100"), Some("200"), 0,
      Some(LongType.catalogString), Some("!!!not-base64!!!")))
    assert(may("k = 151", bad))
    val wrongVer = {
      val p = java.util.Base64.getDecoder.decode(payload("100"))
      p(0) = 99
      stat("k" -> ColStat(Some("100"), Some("200"), 0,
        Some(LongType.catalogString), Some(java.util.Base64.getEncoder.encodeToString(p))))
    }
    assert(may("k = 151", wrongVer))
    // a wrong type domain disables the whole entry, bloom included
    val otherDom = stat("k" -> ColStat(Some("100"), Some("200"), 0,
      Some(IntegerType.catalogString), Some(payload("100"))))
    assert(may("k = 151", otherDom))
    // string domain: rendered value is the string itself
    val ss = stat("s" -> ColStat(Some("aa"), Some("zz"), 0,
      Some(StringType.catalogString), Some(payload("aa", "mm", "zz"))))
    assert(may("s = 'mm'", ss) && !may("s = 'mn'", ss))
  }

  test("datetimeoffset instant predicates prune through the derived #instant entry") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val dtoDf = Seq("2026-01-15 12:00:00.000000 +02:00").toDF("o")
    def dtoPred(where: String) =
      dtoDf.filter(Filters.parseWhere(dtoDf, where, dtoCols = Set("o")))
        .queryExecution.analyzed
        .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
        .get
    val t2 = Map[String, DataType]("o" -> StringType, "o#instant" -> LongType)
    def us(s: String): String =
      graft.plans.DtoInstant.micros(UTF8String.fromString(s)).toString
    // a file whose instants span 10:00..11:00 UTC
    val st = stat("o#instant" -> ColStat(
      Some(us("2026-01-15 10:00:00.000000 +00:00")),
      Some(us("2026-01-15 11:00:00.000000 +00:00")), 0, Some("bigint")))
    // naive literal localizes as UTC; instants past the file's max prune
    assert(!FileStats.mayMatch(dtoPred("o >= '2026-01-15 11:30:00'"), st, t2))
    assert(FileStats.mayMatch(dtoPred("o >= '2026-01-15 10:30:00'"), st, t2))
    // an offset literal compares by INSTANT: 13:30 +03:00 is 10:30 UTC
    assert(FileStats.mayMatch(dtoPred("o >= '2026-01-15 13:30:00 +03:00'"), st, t2))
    // 14:30 +03:00 is 11:30 UTC — past the max
    assert(!FileStats.mayMatch(dtoPred("o <= '2026-01-15 09:30:00'"), st, t2))
    assert(!FileStats.mayMatch(dtoPred("o = '2026-01-15 09:59:59.999999'"), st, t2))
    assert(FileStats.mayMatch(dtoPred("o = '2026-01-15 10:00:00'"), st, t2))
    // IN prunes by instant-range overlap too
    assert(!FileStats.mayMatch(
      dtoPred("o IN ('2026-01-15 09:00:00', '2026-01-15 11:30:00')"), st, t2))
    assert(FileStats.mayMatch(
      dtoPred("o IN ('2026-01-15 09:00:00', '2026-01-15 10:30:00')"), st, t2))
    // a file without the derived entry never mis-prunes
    val bare = stat("o" -> ColStat(Some("a"), Some("z"), 0, Some("string")))
    assert(FileStats.mayMatch(dtoPred("o >= '2026-01-15 11:30:00'"), bare, t2))

    // the #instant entry carries its OWN bloom (the dto rewrite means an
    // equality probe never references the raw string column): an
    // in-range instant the file provably lacks is bloom-cut
    import graft.plans.BloomSketch
    def payload(values: String*): String = {
      val words = BloomSketch.emptyWords(1024)
      values.foreach(v => BloomSketch.add(words, UTF8String.fromString(v), 6))
      java.util.Base64.getEncoder.encodeToString(BloomSketch.serialize(words, 6))
    }
    val lo = us("2026-01-15 10:00:00.000000 +00:00")
    val hi = us("2026-01-15 11:00:00.000000 +00:00")
    val withBloom = stat("o#instant" -> ColStat(
      Some(lo), Some(hi), 0, Some("bigint"), Some(payload(lo, hi))))
    assert(FileStats.mayMatch(dtoPred("o = '2026-01-15 10:00:00'"), withBloom, t2))
    assert(!FileStats.mayMatch(dtoPred("o = '2026-01-15 10:30:00'"), withBloom, t2),
      "in-range absent instant must be bloom-cut")
    assert(!FileStats.mayMatch(
      dtoPred("o IN ('2026-01-15 10:30:00', '2026-01-15 10:45:00')"), withBloom, t2))
  }

  test("conservative fallbacks: unknown columns, stat-less columns, odd shapes") {
    val s = stat(k("100", "200"))
    assert(may("s = 'anything'", s))      // no stats for s → keep
    assert(may("s LIKE 'a%'", s))          // unsupported shape → keep
    assert(may("k = 150 AND s LIKE 'a%'", s))
    assert(!may("k = 99 AND s LIKE 'a%'", s)) // provable conjunct still prunes
  }
}
