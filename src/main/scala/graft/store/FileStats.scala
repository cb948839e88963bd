package graft.store

import java.net.URI
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.types._

/** Per-file column statistics for scan pruning — the store's analog of a
  * warehouse's zone maps / lakehouse file-level min-max metadata.
  *
  * Parquet footers already carry row-group stats, but at 100 TB the
  * expensive part is upstream of the scan: LISTING millions of files and
  * scheduling a task per file only for parquet to skip every row group.
  * `TableStore.analyze` computes one tiny driver-side table (O(#files)
  * rows: min/max/null-count per indexed column) and persists it next to
  * the data; a keyed `readTable(where=...)` then consults it to hand
  * Spark ONLY the files whose ranges intersect the predicate — bucket
  * pruning (which cuts by hash) composed with range pruning inside each
  * bucket. The reference's server-side counterpart is the clustered-index
  * seek its keyed reads compile to (core/read.py:23 WHERE pushdown).
  *
  * Evaluation is conservative tri-state: a file is dropped only when the
  * predicate PROVABLY matches no row given [min,max] and the null count;
  * any unsupported expression shape keeps the file. Stats are advisory —
  * readers re-apply the full predicate — so a stale or missing entry can
  * never change results, only scan size. Entries are keyed by rel paths
  * that are never reused, over immutable files, so they stay TRUE
  * forever: mutations leave the sidecar in place (new files simply
  * aren't pruned until the next analyze) and retired files' entries keep
  * pruning SNAPSHOT reads until analyze/vacuum find no retained manifest
  * referencing them.
  */
object FileStats {

  /** `dom` is the Spark type (catalogString) the stats were COMPUTED
    * under. Rendered min/max only order correctly against predicates
    * evaluated in the same type domain: a metadata-only drop + re-add
    * of a column under a different type changes the domain without
    * rewriting files, so a snapshot read at the old schema would
    * otherwise compare e.g. int predicates against lexicographic
    * string min/max and mis-prune. Entries whose dom doesn't match the
    * read schema's type (or legacy entries without one) never prune.
    *
    * `bloom` (C27) is an optional Base64 [[graft.plans.BloomSketch]]
    * payload over the file's RENDERED values of the column — the same
    * string domain min/max are rendered in — letting equality/IN
    * predicates drop files whose [min,max] overlaps the probe value but
    * which provably don't contain it (hash-partitioned or interleaved
    * layouts, where every file spans the whole range and zone maps
    * prune nothing). Advisory like every stat: absent/corrupt → no
    * bloom cut; a membership test can only answer "definitely absent"
    * or "maybe present", so false positives cost scan size, never
    * correctness. */
  final case class ColStat(min: Option[String], max: Option[String], nulls: Long,
      dom: Option[String] = None, bloom: Option[String] = None)
  final case class FileStat(rows: Long, cols: Map[String, ColStat])

  // ── persistence ─────────────────────────────────────────────────────────

  /** Written to a sibling tmp path, then swapped in — a crash mid-write
    * can never leave a truncated file behind the final name. The swap
    * uses an overwrite-rename (`FileContext` + `Rename.OVERWRITE`) where
    * the filesystem supports it; elsewhere it degrades to delete+rename,
    * whose crash window loses the stats file — harmless, since stats are
    * advisory and a missing sidecar only disables pruning. */
  def write(fs: FileSystem, path: Path, stats: Map[String, FileStat]): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val files = root.putObject("files")
    stats.foreach { case (file, st) =>
      val f = files.putObject(file)
      f.put("rows", st.rows)
      val cols = f.putObject("cols")
      st.cols.foreach { case (c, cs) =>
        val o = cols.putObject(c)
        cs.min.foreach(o.put("min", _))
        cs.max.foreach(o.put("max", _))
        o.put("nulls", cs.nulls)
        cs.dom.foreach(o.put("dom", _))
        cs.bloom.foreach(o.put("bloom", _))
      }
    }
    val tmp = new Path(path.getParent, path.getName + ".tmp")
    val out = fs.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: Exception =>
        fs.delete(path, false)
        if (!fs.rename(tmp, path))
          throw new IllegalStateException(s"stats swap failed: $path")
    }
  }

  /** None on a missing OR unreadable file — stats are ADVISORY: a
    * corrupt sidecar must degrade to an unpruned scan, never fail the
    * read (the contract the pruner's docs promise). */
  def read(fs: FileSystem, path: Path): Option[Map[String, FileStat]] = Try {
    if (!fs.exists(path)) return None
    val mapper = new ObjectMapper()
    val in = fs.open(path)
    val root = try mapper.readTree(in) finally in.close()
    val files = root.get("files").asInstanceOf[ObjectNode]
    val b = Map.newBuilder[String, FileStat]
    files.fieldNames().forEachRemaining { file =>
      val f = files.get(file)
      val colsNode = f.get("cols").asInstanceOf[ObjectNode]
      val cb = Map.newBuilder[String, ColStat]
      colsNode.fieldNames().forEachRemaining { c =>
        val o = colsNode.get(c)
        cb += c -> ColStat(
          Option(o.get("min")).map(_.asText()),
          Option(o.get("max")).map(_.asText()),
          o.get("nulls").asLong(),
          Option(o.get("dom")).map(_.asText()),
          Option(o.get("bloom")).map(_.asText()))
      }
      b += file -> FileStat(f.get("rows").asLong(), cb.result())
    }
    b.result()
  }.toOption

  /** Stats key for a file: its path RELATIVE to the table's data dir,
    * e.g. `part-….parquet` (flat layout) or `__bucket=3/part-….parquet`
    * (bucketed). Basenames alone are NOT unique on bucketed tables —
    * one write job's task emits the SAME part-file basename into every
    * `__bucket=N` dir it touches, so a basename-keyed map would collide
    * across buckets and evaluate one file against another's min/max. */
  def fileKey(dataDir: Path, uri: String): String =
    relativeKey(dataDir, new Path(new URI(uri)))

  /** [[fileKey]] for an already-parsed Path. Falls back to the basename
    * if the file is somehow outside the data dir (keeps the entry usable
    * rather than failing — stats are advisory). */
  def relativeKey(dataDir: Path, p: Path): String = {
    val base = Path.getPathWithoutSchemeAndAuthority(dataDir).toUri.getPath
    val file = Path.getPathWithoutSchemeAndAuthority(p).toUri.getPath
    if (file.startsWith(base + "/")) file.stripPrefix(base + "/")
    else p.getName
  }

  // ── stats collected by the write job ────────────────────────────────────

  /** The i-th stat entry a [[Tracker]] collects: its sidecar key and
    * type domain, the Spark type of its value, the bound cast that
    * renders a value the way `analyze`'s `min(v).cast("string")` does
    * (reading ordinal i of a row as wide as the key list), and whether
    * it carries a sketch. */
  final case class TrackedKey(key: String, dom: String, dataType: DataType,
      render: Expression, bloomable: Boolean)

  private final case class TaskFiles(files: Seq[(String, FileStat)])
    extends org.apache.spark.sql.execution.datasources.WriteTaskStats

  /** Per-file stats collected INSIDE the write job — the stats a later
    * `analyze` would compute, at no second scan (Delta's `add.stats`
    * route; `BasicWriteJobStatsTracker` is the in-tree model). Spark's
    * FileFormatWriter shows each task's tracker every file it opens and
    * every row it writes. Per row, `chain` — projections bound one over
    * the next, the first over the written data columns — evaluates the
    * SAME expressions `analyze` aggregates: per key its value (ordinal
    * 2i) and its raw-null flag (2i+1). Per file the tracker keeps the row
    * count, each key's min and max under Spark's interpreted ordering
    * (the one `min`/`max` use), its null count and, when `bloomBits` >
    * 0, a [[graft.plans.BloomSketch]] of the rendered non-null values.
    * An empty file records rows = 0 and no sketch, as `analyze` does.
    * `files` (absolute path → stats) is set on the driver when the job
    * commits. */
  final class Tracker(chain: Seq[Seq[Expression]], keys: Seq[TrackedKey],
      bloomBits: Int, bloomHashes: Int)
      extends org.apache.spark.sql.execution.datasources.WriteJobStatsTracker {
    @transient @volatile var files: Map[String, FileStat] = Map.empty

    override def newTaskInstance(): org.apache.spark.sql.execution.datasources.WriteTaskStatsTracker =
      new TaskTracker(chain, keys, bloomBits, bloomHashes)

    override def processStats(
        stats: Seq[org.apache.spark.sql.execution.datasources.WriteTaskStats],
        jobCommitTime: Long): Unit =
      files = stats.flatMap(_.asInstanceOf[TaskFiles].files).toMap
  }

  private final class TaskTracker(chain: Seq[Seq[Expression]], keys: Seq[TrackedKey],
      bloomBits: Int, bloomHashes: Int)
      extends org.apache.spark.sql.execution.datasources.WriteTaskStatsTracker {
    import org.apache.spark.sql.catalyst.InternalRow

    private final class Acc {
      var rows = 0L
      val min = new Array[Any](keys.size)
      val max = new Array[Any](keys.size)
      val nulls = new Array[Long](keys.size)
      val bloom: Array[Array[Long]] = keys.map(k =>
        if (bloomBits > 0 && k.bloomable) graft.plans.BloomSketch.emptyWords(bloomBits) else null).toArray
    }

    private val projections = chain.map { exprs =>
      val p = UnsafeProjection.create(exprs)
      p.initialize(Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0))
      p
    }
    private val orderings = keys.map(k =>
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(k.dataType)).toArray
    private val slots = new GenericInternalRow(keys.size)
    private val open = scala.collection.mutable.LinkedHashMap.empty[String, Acc]

    private def render(i: Int, v: Any): org.apache.spark.unsafe.types.UTF8String = {
      slots.update(i, v)
      keys(i).render.eval(slots).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    }

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = open.getOrElseUpdate(filePath, new Acc)
    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val acc = open.getOrElseUpdate(filePath, new Acc)
      acc.rows += 1
      var out = row
      projections.foreach(p => out = p(out))
      var i = 0
      while (i < keys.length) {
        if (out.getBoolean(2 * i + 1)) acc.nulls(i) += 1
        if (!out.isNullAt(2 * i)) {
          val v = out.get(2 * i, keys(i).dataType)
          if (acc.min(i) == null || orderings(i).lt(v, acc.min(i))) acc.min(i) = InternalRow.copyValue(v)
          if (acc.max(i) == null || orderings(i).gt(v, acc.max(i))) acc.max(i) = InternalRow.copyValue(v)
          if (acc.bloom(i) != null)
            graft.plans.BloomSketch.add(acc.bloom(i), render(i, v), bloomHashes)
        }
        i += 1
      }
    }

    override def getFinalStats(taskCommitTime: Long): org.apache.spark.sql.execution.datasources.WriteTaskStats =
      TaskFiles(open.toSeq.map { case (path, acc) =>
        path -> FileStat(acc.rows, keys.indices.map { i =>
          val k = keys(i)
          k.key -> ColStat(Option(acc.min(i)).map(render(i, _).toString),
            Option(acc.max(i)).map(render(i, _).toString),
            acc.nulls(i), Some(k.dom),
            Option(acc.bloom(i)).filter(_ => acc.rows > 0).map(w =>
              java.util.Base64.getEncoder.encodeToString(
                graft.plans.BloomSketch.serialize(w, bloomHashes))))
        }.toMap)
      })
  }

  // ── conservative predicate evaluation ───────────────────────────────────

  /** Could any row of a file with these stats satisfy `pred`? False only
    * when provably not. `types` maps column name → the ALIGNED (meta)
    * Spark type, the domain both the stats and the predicate live in.
    * Every stat rendering is zone-free (zoned timestamps persist as
    * epoch micros), so evaluation needs no session state. */
  def mayMatch(pred: Expression, stat: FileStat, types: Map[String, DataType]): Boolean = {
    pred match {
      case And(l, r) => mayMatch(l, stat, types) && mayMatch(r, stat, types)
      case Or(l, r)  => mayMatch(l, stat, types) || mayMatch(r, stat, types)
      case c: BinaryComparison =>
        (nameOf(c.left), foldEval(c.right)) match {
          case (Some(n), Some(v)) => cmpMayMatch(c, n, v, flipped = false, stat, types)
          case _ =>
            (nameOf(c.right), foldEval(c.left)) match {
              case (Some(n), Some(v)) => cmpMayMatch(c, n, v, flipped = true, stat, types)
              case _ => true
            }
        }
      case In(a, list) if nameOf(a).isDefined && list.forall(_.foldable) =>
        val n = nameOf(a).get
        // null list elements never match; non-null ones need range overlap
        list.exists { l =>
          Option(l.eval(null)) match {
            case None    => false
            case Some(v) => valueInRange(n, v, stat, types)
          }
        }
      case IsNull(a) =>
        // null counts are domain-dependent too: alignTo's cast can null
        // out values the file holds under another type (string→int)
        nameOf(a) match {
          case Some(n) => stat.cols.get(n).forall(cs => !domOk(cs, n, types) || cs.nulls > 0)
          case None    => true
        }
      case IsNotNull(a) =>
        nameOf(a) match {
          case Some(n) =>
            stat.cols.get(n).forall(cs => !domOk(cs, n, types) || cs.nulls < stat.rows)
          case None    => true
        }
      case _ => true
    }
  }

  /** A stat entry is usable only in the type domain it was computed in
    * (see [[ColStat.dom]]); legacy entries without a domain never prune. */
  private def domOk(cs: ColStat, n: String, types: Map[String, DataType]): Boolean =
    types.get(n).exists(dt => cs.dom.contains(dt.catalogString))

  private def nameOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    // instant decode of a datetimeoffset column → its DERIVED zone-map
    // entry (analyze() records min/max instant micros under
    // `<c>#instant`; '#' cannot appear in a physical column name)
    case graft.plans.DtoInstant(inner) => nameOf(inner).map(_ + "#instant")
    case _ => None
  }

  private def foldEval(e: Expression): Option[Any] =
    if (e.foldable) Try(Option(e.eval(null))).toOption.flatten else None

  /** file range [lo,hi] vs `col op v` (or `v op col` when flipped). */
  private def cmpMayMatch(
      c: BinaryComparison, n: String, v: Any, flipped: Boolean,
      stat: FileStat, types: Map[String, DataType]): Boolean = {
    val cs = stat.cols.getOrElse(n, return true)
    if (stat.rows == 0) return false // an empty file matches nothing
    if (!domOk(cs, n, types)) return true
    if (cs.min.isEmpty || cs.max.isEmpty)
      return false // no non-null values in this file → a comparison can't match
    val dt = types.getOrElse(n, return true)
    val loCmp = compare(dt, cs.min.get, v).getOrElse(return true) // min ? v
    val hiCmp = compare(dt, cs.max.get, v).getOrElse(return true) // max ? v
    c match {
      case _: EqualTo | _: EqualNullSafe =>
        loCmp <= 0 && hiCmp >= 0 && bloomMayContain(cs, dt, v)
      case _: GreaterThan        => if (flipped) loCmp < 0 else hiCmp > 0
      case _: GreaterThanOrEqual => if (flipped) loCmp <= 0 else hiCmp >= 0
      case _: LessThan           => if (flipped) hiCmp > 0 else loCmp < 0
      case _: LessThanOrEqual    => if (flipped) hiCmp >= 0 else loCmp <= 0
      case _ => true
    }
  }

  private def valueInRange(n: String, v: Any, stat: FileStat,
      types: Map[String, DataType]): Boolean = {
    val cs = stat.cols.getOrElse(n, return true)
    if (stat.rows == 0) return false
    if (!domOk(cs, n, types)) return true
    if (cs.min.isEmpty || cs.max.isEmpty) return false
    val dt = types.getOrElse(n, return true)
    (compare(dt, cs.min.get, v), compare(dt, cs.max.get, v)) match {
      case (Some(lo), Some(hi)) => lo <= 0 && hi >= 0 && bloomMayContain(cs, dt, v)
      case _ => true
    }
  }

  /** C27 bloom cut for `col = v` / `col IN (…)`: false only when the
    * file's sketch PROVABLY lacks the probe value. Only consulted after
    * [[domOk]] and the range test pass, so the sketch and the literal
    * share a type domain; a literal whose rendering isn't bit-exactly
    * reproducible (float/double) never consults the sketch. */
  private def bloomMayContain(cs: ColStat, dt: DataType, v: Any): Boolean =
    cs.bloom match {
      case None => true
      case Some(b64) => renderLit(dt, v) match {
        case None => true
        case Some(s) => Try(java.util.Base64.getDecoder.decode(b64)).toOption
          .forall(graft.plans.BloomSketch.mightContain(_, s))
      }
    }

  /** Render a Catalyst literal into the EXACT string the analyze-side
    * sketch hashed — Spark's `cast(col AS STRING)` of the stats domain
    * (zoned timestamps: epoch micros). Types whose cast rendering isn't
    * trivially reproducible from the internal value (float/double
    * shortest-repr, intervals, binary) return None → no bloom test. */
  private def renderLit(dt: DataType, v: Any): Option[String] = Try {
    dt match {
      case ByteType | ShortType | IntegerType | LongType => v.toString
      case StringType => v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
      case TimestampType => v.asInstanceOf[Long].toString // epoch micros, both sides
      case d: DecimalType =>
        // Cast(decimal → string) renders via Decimal.toString (scale-
        // faithful BigDecimal); literals arrive as Decimal already
        v.asInstanceOf[org.apache.spark.sql.types.Decimal].toString
      case BooleanType => v.asInstanceOf[Boolean].toString
      case _ => return None
    }
  }.toOption

  /** compare(statValue, literalValue) in the column's type domain; None
    * when the pair can't be compared reliably (→ keep the file). Literal
    * values arrive as Catalyst internal types (UTF8String, Int days for
    * DATE, Long micros for TIMESTAMP); stat values as Spark's
    * cast-to-string rendering. */
  private def compare(dt: DataType, statVal: String, litVal: Any): Option[Int] = Try {
    dt match {
      case _: NumericType =>
        BigDecimal(statVal).compare(BigDecimal(litVal.toString))
      case StringType =>
        // UTF8String order (UTF-8 bytes), matching Spark's min/max —
        // Java String.compareTo (UTF-16 units) disagrees for
        // supplementary-plane characters and would mis-prune
        org.apache.spark.unsafe.types.UTF8String.fromString(statVal)
          .compareTo(litVal.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      case DateType =>
        val days = java.time.LocalDate.parse(statVal).toEpochDay
        days.compare(litVal.asInstanceOf[Int].toLong)
      case TimestampType =>
        // zoned timestamp stats are persisted as epoch micros (see
        // TableStore.analyze) — zone-free on both sides
        statVal.toLong.compare(litVal.asInstanceOf[Long])
      case TimestampNTZType =>
        // NTZ: both sides are zone-less micros
        val ldt = java.time.LocalDateTime.parse(statVal.replace(' ', 'T'))
        val micros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
        micros.compare(litVal.asInstanceOf[Long])
      case BooleanType =>
        statVal.toBoolean.compare(litVal.asInstanceOf[Boolean])
      case _ => return None
    }
  }.toOption
}
