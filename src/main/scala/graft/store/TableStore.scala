package graft.store

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType, TimestampType}

import graft.{errors, Filters, Identifiers}
import graft.operators.Mutations
import graft.types.{Infer, SqlType}

/** Managed parquet tables with a SQL-type schema, primary-key metadata
  * and keyed mutation — the Spark-native re-expression of the
  * reference's table surface:
  *
  *  - create.table / create.table_from_dataframe (core/create.py:29,160)
  *  - modify.column / modify.primary_key          (core/modify.py:21,141)
  *  - read.table                                  (core/read.py:23)
  *  - write.insert/update/merge                   (core/write/ modules)
  *  - auto-adjust on insert                       (core/write/_exceptions.py)
  *
  * Layout: `<root>/<table>/meta.json` (SQL-type schema + PK) and
  * parquet files under `<root>/<table>/data/`.
  *
  * Scale notes (SURVEY §5):
  *  - add/drop column are METADATA-ONLY (no data rewrite) — reads
  *    reconcile files against the meta schema, like SQL Server's
  *    ALTER TABLE ADD / lakehouse schema evolution.
  *  - insert is an append of new files; bounds validation is one
  *    aggregate over the incoming batch only.
  *  - update/upsert/merge rewrite via Mutations' single-join algebra.
  *    Locally the whole table is rewritten; the algebra itself is
  *    partition-agnostic, so a production store would rewrite only the
  *    files whose key ranges intersect the source keys.
  *  - atomic commit: new files are written in place under `data/`
  *    and become the table only when the generation's manifest lands.
  */
object TableStore {
  /** buckets = 0 → flat layout; buckets > 0 → data partitioned into
    * `__bucket=<pmod(hash(pk), buckets)>` directories (Murmur3 — see
    * [[TableStore.bucketExpr]]), which is what lets keyed update/upsert
    * rewrite ONLY the buckets the source touches (SURVEY §5) and lets
    * the mutation scan advertise the layout as a Catalyst
    * HashPartitioning (r16). */
  final case class Meta(
      columns: Seq[(String, SqlType)],
      primaryKey: Seq[String],
      buckets: Int = 0,
      sqlPk: Boolean = false,
      notNull: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil) {
    def sparkSchema: StructType =
      StructType(columns.map { case (n, t) =>
        StructField(n, t.spark, nullable = !notNull.contains(n))
      })
  }

  /** See [[TableStore.statKeys]]. */
  private[store] final case class StatKey(key: String, value: Column, raw: Column,
      dom: String, bloomable: Boolean)

  /** One committed generation: the schema/PK/layout its files are read
    * under, and its file set as data-dir-relative keys. `current` = read
    * as the live table (no `asOf`), the only reading a plan rule may
    * answer from a summary of the table. */
  private[store] final case class Generation(meta: Meta, rels: Seq[String], current: Boolean)

  /** Dense `_pk` identity for an insert batch, scale-safe.
    *
    * The obvious `row_number() over (order by hash)` funnels the whole
    * batch through ONE task (unpartitioned WindowExec) — a 1 TB insert
    * would serialize on a single core. Instead: range-partition by the
    * row hash (globally ordered ACROSS partitions), number within each
    * partition via monotonically_increasing_id (whose layout is
    * `partitionId << 33 | offset`), then shift each partition by the
    * cumulative count of the partitions before it — an O(#partitions)
    * driver-side fold, joined back as a broadcast. Ids are
    * `startFrom+1 .. startFrom+N`, dense, ordered by the same
    * full-row hash as before; every stage is distributed.
    *
    * The persist() is load-bearing: the per-partition counts and the
    * final projection must see the SAME partitioning, and
    * repartitionByRange re-samples boundaries per action without it. */
  /** Default audit sink: the reference routes its DDL/auto-adjust trail
    * through Python `logging` (package.py:52-66); the JVM-native
    * equivalent with zero added dependencies is `java.util.logging`. */
  val defaultAudit: String => Unit = {
    val log = java.util.logging.Logger.getLogger("graft.store")
    msg => log.info(msg)
  }

  /** The distinct values of `ids`' one int column, each in [0, n): ONE
    * job with no exchange — every partition folds its ids into an
    * n-bit set and the driver ORs them — where `distinct().collect()`
    * costs AQE two jobs and a shuffle. Driver state is O(n), never
    * O(rows). Ascending. */
  private[store] def bucketIds(ids: DataFrame, n: Int): Seq[Int] = {
    val words = (n + 63) / 64
    val sets = ids.queryExecution.toRdd.mapPartitions { rows =>
      val w = new Array[Long](words)
      rows.foreach { r => val b = r.getInt(0); w(b >> 6) |= 1L << (b & 63) }
      Iterator.single(w)
    }.collect()
    (0 until n).filter(b => sets.exists(w => (w(b >> 6) & (1L << (b & 63))) != 0L))
  }

  def assignDenseIds(df: DataFrame, startFrom: Long): DataFrame = {
    val hash = xxhash64(df.columns.toIndexedSeq.map(c => col(Identifiers.quote(c))): _*)
    val n = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val numbered = df.withColumn("__h", hash)
      .repartitionByRange(n, col("__h"))
      .sortWithinPartitions("__h")
      .withColumn("__mid", monotonically_increasing_id())
      .persist()
    val counts = numbered
      .groupBy(shiftright(col("__mid"), 33).as("__pid")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var offset = startFrom
    val adjRows = counts.map { case (pid, c) =>
      val a = offset + 1 - (pid << 33); offset += c; (pid, a)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val adj = spark.createDataset(adjRows.toIndexedSeq).toDF("__pid", "__adj")
    numbered.withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(adj), "__pid")
      .withColumn("_pk", col("__mid") + col("__adj"))
      .drop("__pid", "__mid", "__h")
  }
}

/** @param audit callback receiving one line per schema-changing action
  *   (create/add/alter/drop/auto-adjust) — the reference's `logging`
  *   audit trail of DDL and auto-adjustment (package.py:52-66), so a
  *   user debugging "why did my column widen" has a trace. Defaults to
  *   `java.util.logging` at INFO under the "graft.store" logger.
  * @param clock millisecond source stamped into each commit manifest —
  *   injectable for the same reason SCD2 and the metadata timestamps
  *   take a clock column (the reference uses GETDATE(); determinism
  *   needs the time source swappable). Defaults to wall clock. */
final class TableStore(
    val spark: SparkSession,
    root: String,
    audit: String => Unit = TableStore.defaultAudit,
    clock: () => Long = () => System.currentTimeMillis()) {
  import TableStore.{Generation, Meta, StatKey}

  /** The store's root directory (bench bootstrap cloning needs the
    * table dir location; see CoreQueries.bootstrapBase). */
  private[graft] def rootDir: String = root

  /** In-process change counter: bumped by every manifest commit and
    * every properties write through THIS instance. Cheap (no I/O)
    * invalidation signal for plan-time metadata caches
    * (graft.plans.SummaryRewrite's freshness cache) — sound under the
    * same single-writer-per-JVM contract the maintenance path already
    * requires. */
  private[graft] val commitEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  private val mapper = new ObjectMapper()

  private def tablePath(name: String) = new Path(root, name)
  private def dataPath(name: String) = new Path(tablePath(name), "data")

  /** The table's live data directory as an absolute path string — the
    * identity a plan-level rule needs to recognize "this scan reads
    * table X" (see graft.plans.SummaryRewrite). */
  private[graft] def dataLocation(name: String): String = dataPath(name).toString
  private def metaPath(name: String) = new Path(tablePath(name), "meta.json")
  private def statsPath(name: String) = new Path(tablePath(name), "stats.json")
  private def historyPath(name: String) = new Path(tablePath(name), "history")

  /** Cheap cross-process change signal for the SummaryRewrite freshness
    * cache, CONTENT-DERIVED on both sides: generations are
    * sequential (m000042.json lands after m000041), so ANY foreign
    * commit past the probed generation CREATES the `m{baseGen+1}` file
    * — an existence check on that specific path is immune to mtime
    * granularity (the r12 directory-mtime scheme could miss a commit
    * landing in the same filesystem tick) and works on object stores
    * that never bump directory mtimes at all (S3-style). First
    * component: 0 while no newer manifest exists, −1 once one does (or
    * on probe error) — −1 never matches a cached signature, forcing
    * the full freshness probe. Second component: the summary's
    * MONOTONIC props version (stamped into the payload by every
    * [[setProperties]]), the signal for props-only changes (watermark
    * advance, write-ahead intent) — since r14 content-derived too: a
    * foreign maintenance write landing within the filesystem's mtime
    * granularity used to be invisible on coarse-mtime stores (ADVICE
    * r13 "What's missing #5"); the counter can never collide. Third
    * component (ADVICE r14): the props file's mtime⊕length — the
    * version counter's increment runs under the per-table commit LOCK,
    * but a writer bypassing the lock (a crashed-lock takeover, a
    * foreign tool editing props.json) could clobber the counter back
    * to a cached value; the physical file stamp still usually perturbs
    * the compound signature, so the cache re-probes instead of serving
    * stale. One getFileStatus + one small props read, O(1) — never the
    * O(#generations) listing the full probe pays. */
  private[graft] def stalenessSignature(base: String, summary: String,
      baseGen: Int): (Long, Long, Long) = {
    val next =
      try { if (fs.exists(manifestPath(base, baseGen + 1))) -1L else 0L }
      catch { case _: Exception => -1L }
    val stamp =
      try {
        val st = fs.getFileStatus(propsPath(summary))
        st.getModificationTime ^ (st.getLen << 20)
      } catch { case _: Exception => 0L } // no props file yet
    (next, propsVersion(summary), stamp)
  }

  /** The table's monotonic props version (0 before any write, −1 on a
    * read error — never matches a cached signature). */
  private[graft] def propsVersion(name: String): Long =
    try propertiesRaw(name).get(PropsVersion).map(_.toLong).getOrElse(0L)
    catch { case _: Exception => -1L }

  private[graft] val PropsVersion = "graft.props.version"
  private def manifestPath(name: String, gen: Int) =
    new Path(historyPath(name), f"m$gen%06d.json")
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val BucketCol = "__bucket"

  // ── commit lock (single-writer contract) ────────────────────────────────
  //
  // The store's write contract is SINGLE WRITER PER TABLE (the reference
  // is one ODBC connection; a lakehouse table has one committing job).
  // Rather than leave the contract implicit — two concurrent writers
  // would race nextGen and one manifest would win silently — every
  // mutation takes a create-exclusive `commit.lock` in the table dir for
  // the duration of its write+swap+commit, so the SECOND writer fails
  // loudly with ConcurrentWrite instead. Reentrant per thread (the
  // auto-adjust ladder nests addColumn/createTable inside insert).
  //
  // Scope notes: create-with-overwrite=false is atomic on HDFS and local
  // filesystems; on S3-style stores a production build swaps this for a
  // conditional put or an external lock service (what Delta's
  // LogStore/S3DynamoDB commit owners do). A writer that CRASHES while
  // holding the lock leaves it behind by design — the next mutation
  // fails loudly with the holder's pid/timestamp, and the operator (or
  // a supervisor that knows the writer died) clears it with
  // [[clearCommitLock]]. Auto-expiry would reintroduce the silent race.

  private def lockPath(name: String) = new Path(tablePath(name), "commit.lock")

  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private def withCommitLock[T](name: String)(body: => T): T = {
    if (heldLocks.get.contains(name)) return body // reentrant: already ours
    val lock = lockPath(name)
    // remember whether this call had to create the table dir (to host
    // the lock file): if the body then finds no table, remove the dir
    // again so a mistyped name doesn't leave a junk directory behind
    val createdDir = !fs.exists(tablePath(name))
    if (createdDir) fs.mkdirs(tablePath(name))
    acquireLock(name, lock)
    heldLocks.set(heldLocks.get + name)
    // tracks whether cleanup already removed the dir (lock included):
    // after that point the finally MUST NOT touch lockPath again —
    // another writer may have legitimately recreated dir + lock in the
    // meantime, and deleting it would reopen the silent two-writer race
    var dirRemoved = false
    try body
    catch {
      case e: Throwable =>
        // failure with no table materialized (any error, not just
        // TableDoesNotExist — a bad identifier or IO error must not
        // leave a junk lock-hosting dir either)
        if (createdDir && !exists(name)) {
          fs.delete(tablePath(name), true)
          dirRemoved = true
        }
        throw e
    } finally {
      heldLocks.set(heldLocks.get - name)
      if (!dirRemoved) fs.delete(lock, false)
    }
  }

  /** Create-exclusive acquisition. Hadoop's LocalFileSystem implements
    * create(overwrite=false) as exists-then-open — a TOCTOU window two
    * local writers can both pass — so local paths go through
    * File.createNewFile (O_CREAT|O_EXCL, atomic on POSIX). Remote
    * filesystems keep fs.create(…, false), atomic on HDFS; S3-style
    * stores need a conditional put or a lock service instead (what
    * Delta's S3 LogStore commit owners are for). Only already-existing
    * locks map to ConcurrentWrite; any other failure (permissions,
    * disk full — including a failed write of the holder info, which
    * rolls the created file back) propagates as what it is. */
  private def acquireLock(name: String, lock: Path): Unit = {
    val holderInfo = s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}"
    def concurrent(): Nothing = {
      val holder = scala.util.Try {
        val in = fs.open(lock)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }.getOrElse("unreadable lock file")
      throw errors.ConcurrentWrite(name,
        s"$holder — if that writer is dead, clear it with clearCommitLock")
    }
    val local = Path.getPathWithoutSchemeAndAuthority(lock).toUri.getPath
    if (fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
        fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]) {
      val f = new java.io.File(local)
      if (!f.createNewFile()) concurrent()
      try java.nio.file.Files.write(f.toPath, holderInfo.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => f.delete(); throw e }
    } else {
      val out =
        try fs.create(lock, false)
        catch {
          case e: java.io.IOException =>
            if (fs.exists(lock)) concurrent() else throw e
        }
      try {
        out.write(holderInfo.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
      } catch {
        case e: Throwable =>
          scala.util.Try(out.close()); fs.delete(lock, false); throw e
      }
    }
  }

  /** Remove a stale commit lock left by a crashed writer. Only call once
    * the holder recorded in the ConcurrentWrite error is known dead — a
    * live holder whose lock is cleared is back to the silent race. Then
    * [[repair]] deletes the files the dead writer left uncommitted. */
  def clearCommitLock(name: String): Unit = fs.delete(lockPath(name), false)

  /** Columns of SQL type DATETIMEOFFSET: comparisons, ORDER BY sort
    * keys and zone maps on these use the UTC INSTANT (the stored
    * render orders by wall clock — a different order whenever offsets
    * vary; see [[graft.plans.DtoInstant]]). */
  private def dtoColsOf(m: Meta): Set[String] =
    m.columns.collect { case (n, t) if t.name == "datetimeoffset" => n }.toSet

  /** Column name → aligned Spark type for predicate/stats evaluation,
    * plus the DERIVED `<c>#instant` bigint domain for datetimeoffset
    * columns ('#' cannot appear in a physical column name, so the key
    * space is disjoint by construction). */
  private def typesWithDerived(m: Meta): Map[String, DataType] =
    m.columns.map { case (n, t) => n -> t.spark }.toMap ++
      dtoColsOf(m).map(n => (n + "#instant") -> (LongType: DataType))

  /** Bucket id of a row: `pmod(hash(pk), buckets)` — EXACTLY Spark's
    * `HashPartitioning.partitionIdExpression` (Murmur3, seed 42). r16:
    * switched from xxhash64 so the physical layout IS a Catalyst
    * HashPartitioning and [[bucketedRead]] can advertise it — the
    * table side of a keyed mutation then needs no Exchange (guide
    * §3.4). Every id computation (writer, source pruning, literal
    * predicate pruning) derives from this one definition. */
  private def bucketExpr(m: Meta): Column =
    pmod(hash(m.primaryKey.map(c => col(Identifiers.quote(c))): _*), lit(m.buckets))

  // ── metadata ────────────────────────────────────────────────────────────

  private def metaNode(meta: Meta): ObjectNode = {
    val o: ObjectNode = mapper.createObjectNode()
    val cols: ArrayNode = o.putArray("columns")
    meta.columns.foreach { case (n, t) =>
      val c = cols.addObject()
      c.put("name", n)
      c.put("sqlType", t.render)
    }
    val pk: ArrayNode = o.putArray("primaryKey")
    meta.primaryKey.foreach(pk.add)
    o.put("buckets", meta.buckets)
    o.put("sqlPk", meta.sqlPk)
    val nn: ArrayNode = o.putArray("notNull")
    meta.notNull.foreach(nn.add)
    val ck: ArrayNode = o.putArray("checks")
    meta.checks.foreach { case (n, e) =>
      val c = ck.addObject(); c.put("name", n); c.put("expr", e)
    }
    o
  }

  private def metaTmpPath(name: String) = new Path(tablePath(name), "meta.json.tmp")

  /** tmp-write + swap, like [[setProperties]]: a crash mid-write leaves
    * a torn tmp behind the committed meta.json, never a torn meta.json;
    * in the delete→rename window the complete tmp IS the committed meta
    * (see [[metaFile]]). */
  private def writeMeta(name: String, meta: Meta): Unit = {
    val tmp = metaTmpPath(name)
    // heal a previous delete→rename crash window BEFORE truncating the
    // tmp (which is the committed meta in that window)
    if (!fs.exists(metaPath(name)) && fs.exists(tmp)) fs.rename(tmp, metaPath(name))
    val out = fs.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(metaNode(meta)))
    out.close()
    fs.delete(metaPath(name), false)
    if (!fs.rename(tmp, metaPath(name)))
      throw new IllegalStateException(s"meta swap failed for table $name")
  }

  /** The committed meta file: meta.json, or in the delete→rename window
    * of [[writeMeta]] its complete tmp (only ever deleted-into-place
    * after a successful close). None: no table. */
  private def metaFile(name: String): Option[Path] =
    Seq(metaPath(name), metaTmpPath(name)).find(fs.exists)

  private def parseMeta(node: JsonNode): Meta = {
    val cols = (0 until node.get("columns").size()).map { i =>
      val c = node.get("columns").get(i)
      c.get("name").asText() -> SqlType.parse(c.get("sqlType").asText())
    }
    val pk = (0 until node.get("primaryKey").size()).map(node.get("primaryKey").get(_).asText())
    val buckets = if (node.has("buckets")) node.get("buckets").asInt() else 0
    val sqlPk = node.has("sqlPk") && node.get("sqlPk").asBoolean()
    val nn = if (node.has("notNull"))
      (0 until node.get("notNull").size()).map(node.get("notNull").get(_).asText())
    else Seq.empty
    val ck = if (node.has("checks"))
      (0 until node.get("checks").size()).map { i =>
        val c = node.get("checks").get(i)
        c.get("name").asText() -> c.get("expr").asText()
      }
    else Seq.empty
    Meta(cols, pk, buckets, sqlPk, nn, ck)
  }

  def meta(name: String): Meta = {
    val in = fs.open(metaFile(name).getOrElse(throw errors.TableDoesNotExist(name)))
    val node: JsonNode = try mapper.readTree(in) finally in.close()
    parseMeta(node)
  }

  def exists(name: String): Boolean = metaFile(name).isDefined

  private def propsPath(name: String) = new Path(tablePath(name), "props.json")

  /** Durable per-table key→value properties — the carrier for
    * consumer-owned bookkeeping (e.g. the incremental-maintenance
    * watermark and its write-ahead intent record, [[IncrementalAgg]]).
    * Written with the tmp-write + rename swap, so a reader never sees
    * a torn file; a crash mid-set leaves the previous version. */
  def properties(name: String): Map[String, String] =
    propertiesRaw(name) - PropsVersion

  /** [[properties]] INCLUDING the internal monotonic version stamp —
    * the read-modify-write and staleness-signature paths need it; the
    * public view hides it (consumer-owned keys only). */
  private def propertiesRaw(name: String): Map[String, String] = {
    if (!exists(name)) throw errors.TableDoesNotExist(name)
    // a missing main file with a complete tmp is the delete→rename
    // crash window of setProperties — the tmp IS the committed state
    // (it is only ever deleted-into-place after a successful close)
    val path =
      if (fs.exists(propsPath(name))) propsPath(name)
      else if (fs.exists(new Path(tablePath(name), "props.json.tmp")))
        new Path(tablePath(name), "props.json.tmp")
      else return Map.empty
    val in = fs.open(path)
    val node: JsonNode = try mapper.readTree(in) finally in.close()
    val it = node.fieldNames()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val k = it.next(); b += k -> node.get(k).asText() }
    b.result()
  }

  /** Merge `kvs` into (and drop `remove` from) the table's properties
    * in one atomic swap — under the table's COMMIT LOCK, so two
    * writers' read-modify-write cycles serialize instead of one
    * clobbering the other's keys (ADVICE r10: the optimizer-path probe
    * is read-only, and this closes the writer-vs-writer half). */
  def setProperties(name: String, kvs: Map[String, String],
      remove: Seq[String] = Nil): Unit = withCommitLock(name) {
    val tmp = new Path(tablePath(name), "props.json.tmp")
    // heal a previous delete→rename crash window BEFORE truncating the
    // tmp (which is the committed state in that window)
    if (!fs.exists(propsPath(name)) && fs.exists(tmp)) fs.rename(tmp, propsPath(name))
    val prev = propertiesRaw(name)
    // monotonic version stamp IN the payload: the cross-process change
    // signal [[propsVersion]] reads — unlike the file's mtime, a foreign
    // write landing within the filesystem's timestamp granularity (or on
    // an object store that rounds mtimes) can never be invisible
    val merged = ((prev ++ kvs) -- remove) + (PropsVersion ->
      (prev.get(PropsVersion).map(_.toLong + 1L).getOrElse(1L)).toString)
    val node = mapper.createObjectNode()
    merged.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val out = fs.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    out.close()
    fs.delete(propsPath(name), false)
    if (!fs.rename(tmp, propsPath(name)))
      throw new IllegalStateException(s"properties swap failed for table $name")
    commitEpoch.incrementAndGet()
    ()
  }

  /** All managed table names under this root (one listing of the root
    * dir — O(#tables), driver-side, like the reference's
    * INFORMATION_SCHEMA.TABLES query). */
  def tableNames(): Seq[String] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(exists)
      .sorted
  }

  /** Schema description, like the reference's get_schema surface
    * (core/conversion.py get_schema: column_name/data_type plus the
    * nullability and key flags its pandas frame carries). Ordinal is
    * the declaration order — the stable sort key a driver-side
    * consumer needs. */
  def describe(name: String): DataFrame = {
    import spark.implicits._
    val m = meta(name)
    m.columns.zipWithIndex.map { case ((n, t), i) =>
      // PK membership implies NOT NULL (the violation gate enforces it),
      // matching the server's catalog view the reference reads
      (i + 1, n, t.render,
        !m.notNull.contains(n) && !m.primaryKey.contains(n),
        m.primaryKey.contains(n))
    }.toDF("ordinal", "column_name", "sql_type", "is_nullable", "is_pk")
  }

  // ── create ──────────────────────────────────────────────────────────────

  /** Explicit-schema create (reference create.table, create.py:29). */
  def createTable(
      name: String,
      columns: Seq[(String, String)],
      primaryKey: Seq[String] = Seq.empty,
      buckets: Int = 0,
      sqlPrimaryKey: Boolean = false): Unit = withCommitLock(name) {
    if (exists(name)) throw errors.TableAlreadyExists(name)
    if (sqlPrimaryKey && primaryKey.nonEmpty)
      throw new IllegalArgumentException("if sqlPrimaryKey then primaryKey must be empty (create.py:78)")
    Identifiers.quote(name) // length validation
    columns.foreach { case (n, _) => Identifiers.quote(n) }
    // reference sql_primary_key=True: engine-managed `_pk` identity column
    // (create.py:144). Ids here are engine-assigned on insert: a
    // deterministic dense sequence (max-so-far + row_number by content
    // hash) — the Spark-native stand-in for a server identity, without a
    // global-sequence bottleneck in the write path beyond one agg.
    val cols0 = if (sqlPrimaryKey) ("_pk" -> "bigint") +: columns else columns
    val pk0 = if (sqlPrimaryKey) Seq("_pk") else primaryKey
    if (buckets > 0 && pk0.isEmpty) throw errors.UndefinedPrimaryKey(name)
    val m = Meta(cols0.map { case (n, decl) => n -> SqlType.parse(decl) }, pk0, buckets, sqlPrimaryKey)
    val missingPk = primaryKey.filterNot(m.columns.map(_._1).contains)
    if (missingPk.nonEmpty) throw errors.ColumnDoesNotExist(name, missingPk)
    writeMeta(name, m)
    audit(s"create table $name (${m.columns.map { case (n, t) => s"$n ${t.render}" }.mkString(", ")})" +
      (if (pk0.nonEmpty) s" primary key (${pk0.mkString(", ")})" else ""))
  }

  /** Inferred-schema create (reference create.table_from_dataframe,
    * create.py:160): smallest-SQL-type inference via one stats pass. */
  def createTableFromDataFrame(
      name: String,
      df: DataFrame,
      primaryKey: Seq[String] = Seq.empty,
      infer: Boolean = true): Unit = {
    val cols =
      if (infer) Infer.narrowSchema(df)
      else df.schema.fields.toSeq.map(f => f.name -> SqlType.forSpark(f.dataType))
    createTable(name, cols.map { case (n, t) => n -> t.render }, primaryKey)
    insert(name, df)
  }

  // ── modify ──────────────────────────────────────────────────────────────

  /** Metadata-only column add (reference modify.column add, modify.py:21).
    * Existing files simply lack the column; reads null-fill it. Commits a
    * METADATA-ONLY generation (same file set, new schema) so the latest
    * snapshot never lags the live schema. */
  def addColumn(name: String, column: String, sqlType: String): Unit = withCommitLock(name) {
    val m = meta(name)
    if (m.columns.exists(_._1 == column)) throw errors.TableAlreadyExists(s"$name.$column")
    writeMeta(name, m.copy(columns = m.columns :+ (column -> SqlType.parse(sqlType))))
    audit(s"add column $name.$column $sqlType")
    commitSnapshot(name, nextGen(name), generation(name).rels)
  }

  /** Column type/nullability change (reference modify.column alter,
    * modify.py:27 `is_nullable`). Data is cast and rewritten; a format
    * with metadata casts (lakehouse) would skip the rewrite for
    * widening changes. Setting NOT NULL validates existing data first,
    * like SQL Server's ALTER COLUMN ... NOT NULL (one aggregate). */
  def alterColumn(name: String, column: String, sqlType: String,
      isNullable: Boolean = true): Unit = withCommitLock(name) {
    val m = meta(name)
    if (!m.columns.exists(_._1 == column)) throw errors.ColumnDoesNotExist(name, Seq(column))
    val current = m.columns.find(_._1 == column).get._2
    if (SqlType.parse(sqlType).render == current.render &&
        isNullable == !m.notNull.contains(column))
      throw errors.RecastColumnUnchanged(column, s"already ${current.render}")
    if (!isNullable) {
      val nulls = read(name)
        .agg(sum(when(col(Identifiers.quote(column)).isNull, 1).otherwise(0)))
        .collect()(0).getLong(0)
      if (nulls > 0)
        throw errors.InvalidValue(column, s"$nulls existing NULL values prevent NOT NULL")
    }
    val nn = if (isNullable) m.notNull.filterNot(_ == column)
             else if (m.notNull.contains(column)) m.notNull else m.notNull :+ column
    val newMeta = m.copy(columns = m.columns.map {
      case (n, _) if n == column => n -> SqlType.parse(sqlType)
      case other                 => other
    }, notNull = nn)
    val df = read(name) // materialized under OLD meta
    writeMeta(name, newMeta)
    audit(s"alter column $name.$column ${current.render} -> $sqlType" +
      (if (!isNullable) " NOT NULL" else ""))
    overwriteData(name, alignTo(df, newMeta))
  }

  /** Metadata-only column drop (reference modify.column drop). Commits a
    * metadata-only generation, and drops the column from the stats
    * sidecar: a later re-add under the same name with a DIFFERENT type
    * would otherwise evaluate old-domain min/max against new-domain
    * predicates. Refused for a bucketed table's PK column — the bucket
    * dirs are laid out by the PK hash, and pruning under a changed key
    * would skip buckets that hold matches. */
  def dropColumn(name: String, column: String): Unit = withCommitLock(name) {
    val m = meta(name)
    if (!m.columns.exists(_._1 == column)) throw errors.ColumnDoesNotExist(name, Seq(column))
    if (m.buckets > 0 && m.primaryKey.contains(column))
      throw errors.InvalidValue(column,
        s"cannot drop a primary-key column of bucketed table $name " +
          "(data is bucketed by the PK hash); rebucket by recreating the table")
    // scrub BEFORE the meta swap: a crash between the two then loses
    // stats for a still-live column (pruning opportunity only), never
    // leaves entries for a dropped one. Belt to the dom-tag's braces —
    // even an unscrubbed entry can't mis-prune across a type change.
    FileStats.read(fs, statsPath(name)).foreach { st =>
      FileStats.write(fs, statsPath(name),
        st.map { case (f, s) =>
          f -> s.copy(cols = s.cols -- Seq(column, column + "#instant")) })
    }
    writeMeta(name, m.copy(
      columns = m.columns.filterNot(_._1 == column),
      primaryKey = m.primaryKey.filterNot(_ == column)))
    audit(s"drop column $name.$column")
    commitSnapshot(name, nextGen(name), generation(name).rels)
  }

  /** Add/drop the primary key (reference modify.primary_key,
    * modify.py:141). Commits a metadata-only generation. Refused on a
    * bucketed table (other than a no-op): its bucket layout is keyed by
    * the CURRENT PK's hash, and both mutation pruning and read pruning
    * would hash the new key over dirs laid out by the old one. */
  def setPrimaryKey(name: String, primaryKey: Seq[String]): Unit = withCommitLock(name) {
    val m = meta(name)
    val missing = primaryKey.filterNot(m.columns.map(_._1).contains)
    if (missing.nonEmpty) throw errors.ColumnDoesNotExist(name, missing)
    if (m.buckets > 0 && primaryKey != m.primaryKey)
      throw errors.InvalidValue(primaryKey.mkString(", "),
        s"cannot change the primary key of bucketed table $name " +
          "(data is bucketed by the PK hash); rebucket by recreating the table")
    writeMeta(name, m.copy(primaryKey = primaryKey))
    audit(if (primaryKey.isEmpty) s"drop primary key $name"
          else s"set primary key $name (${primaryKey.mkString(", ")})")
    commitSnapshot(name, nextGen(name), generation(name).rels)
  }

  /** Rows violating PK uniqueness: one hash aggregation on the key. */
  def primaryKeyViolations(name: String): DataFrame = {
    val m = meta(name)
    if (m.primaryKey.isEmpty) throw errors.UndefinedPrimaryKey(name)
    read(name).groupBy(m.primaryKey.map(c => col(Identifiers.quote(c))): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
  }

  // ── check constraints (C30) ─────────────────────────────────────────────
  // The remaining SQL Server constraint class a reference user gets
  // server-side: PK uniqueness is C5, NOT NULL is C4, type bounds are
  // C14 — CHECK closes the set. SQL-standard semantics throughout: a
  // row violates a CHECK only when the predicate evaluates FALSE;
  // UNKNOWN (null inputs) PASSES. The predicate language is C7's
  // `dynamic.where` grammar, so a constraint is auditable text in the
  // table meta, not opaque code.

  /** The violation condition for a CHECK predicate over `df`:
    * FALSE → violated, TRUE or UNKNOWN → passes. */
  private def checkCond(df: DataFrame, e: String): Column =
    not(coalesce(Filters.parseWhere(df, e), lit(true)))

  /** Columns a CHECK expression references (parsed against the full
    * table schema — also validates syntax + column existence). Resolved
    * through an empty-frame Filter plan: driver-side only, no job. */
  private def checkRefs(m: Meta, e: String): Seq[String] = {
    val shell = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), m.sparkSchema)
    shell.filter(Filters.parseWhere(shell, e)).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSeq
    }.flatten.distinct
  }

  /** Add a CHECK constraint. Existing data is validated FIRST with one
    * aggregate (like SQL Server's WITH CHECK default): any violating
    * row refuses the constraint, so a landed CHECK is a true invariant
    * over the table, not a forward-only filter. Metadata-only commit. */
  def addCheckConstraint(name: String, constraint: String, expression: String): Unit =
    withCommitLock(name) {
      val m = meta(name)
      if (m.checks.exists(_._1 == constraint))
        throw errors.TableAlreadyExists(s"$name check $constraint")
      checkRefs(m, expression) // syntax + column existence, driver-side
      val df = read(name)
      val bad = df.agg(coalesce(sum(when(checkCond(df, expression), 1L)
        .otherwise(0L)), lit(0L))).collect()(0).getLong(0)
      if (bad > 0)
        throw errors.CheckConstraintViolation(constraint,
          s"$bad existing rows violate '$expression' on $name")
      writeMeta(name, m.copy(checks = m.checks :+ (constraint -> expression)))
      audit(s"add check $name.$constraint: $expression")
      commitSnapshot(name, nextGen(name), generation(name).rels)
    }

  def dropCheckConstraint(name: String, constraint: String): Unit =
    withCommitLock(name) {
      val m = meta(name)
      if (!m.checks.exists(_._1 == constraint))
        throw errors.UndefinedCheckConstraint(name, constraint)
      writeMeta(name, m.copy(checks = m.checks.filterNot(_._1 == constraint)))
      audit(s"drop check $name.$constraint")
      commitSnapshot(name, nextGen(name), generation(name).rels)
    }

  /** Pre-flight audit for a PROPOSED constraint: the rows that would
    * refuse it (the report a DBA runs before addCheckConstraint). */
  def checkViolations(name: String, expression: String): DataFrame = {
    val m = meta(name)
    checkRefs(m, expression)
    val df = read(name)
    df.filter(checkCond(df, expression))
  }

  /** C42: referential-integrity audit between two managed tables — the
    * pre-flight a data owner runs before trusting joins: child FK
    * values with no matching parent key, with how many child rows each
    * orphan strands. NULL FK components are NOT violations (SQL FK
    * semantics: a NULL reference is "no reference" — the C30 checks
    * handle NOT NULL separately).
    *
    * Scale shape: the parent collapses to its DISTINCT key relation
    * before anything moves (parent row width never shuffles), then ONE
    * left-anti join against the child and a key-grouped rollup — both
    * shuffle on the same key, so they share a single exchange; output
    * is orphan-key-sized, never child-sized. Supports composite keys. */
  def fkViolations(child: String, childCols: Seq[String],
      parent: String, parentCols: Seq[String]): DataFrame = {
    if (childCols.isEmpty || childCols.length != parentCols.length)
      throw errors.InvalidValue("fkViolations",
        s"child/parent key column lists must be non-empty and the same length " +
          s"(got ${childCols.length} vs ${parentCols.length})")
    val mC = meta(child)
    val mP = meta(parent)
    val missC = childCols.filterNot(mC.columns.map(_._1).contains)
    if (missC.nonEmpty) throw errors.ColumnDoesNotExist(child, missC)
    val missP = parentCols.filterNot(mP.columns.map(_._1).contains)
    if (missP.nonEmpty) throw errors.ColumnDoesNotExist(parent, missP)
    val c = read(child)
    val keys = read(parent)
      .select(parentCols.zip(childCols).map { case (pc, cc) =>
        col(Identifiers.quote(pc)).as(s"__fk_$cc") }: _*)
      .distinct()
    val fkPresent = childCols.map(cc => col(Identifiers.quote(cc)).isNotNull)
      .reduce(_ && _)
    val cond = childCols.map(cc =>
      col(Identifiers.quote(cc)) === col(s"__fk_$cc")).reduce(_ && _)
    c.filter(fkPresent)
      .join(keys, cond, "left_anti")
      .groupBy(childCols.map(cc => col(Identifiers.quote(cc))): _*)
      .agg(count(lit(1)).as("n_orphans"))
  }

  /** CHECK enforcement for a batch — ONE aggregate over all applicable
    * constraints (rides beside typeViolations' pass). A constraint
    * whose referenced columns are not all present in the batch cannot
    * be decided batch-side: for INSERT the absent column reads null →
    * UNKNOWN → passes, so it is skipped outright (`deferrable=false`);
    * for keyed mutations the merged row takes absent columns from the
    * TARGET, so such constraints are returned for the caller to
    * validate on the merge RESULT (`deferrable=true`). */
  private def enforceChecks(m: Meta, df: DataFrame, context: String,
      deferrable: Boolean): Seq[(String, String)] = {
    if (m.checks.isEmpty) return Nil
    val (applicable, partial) = m.checks.partition { case (_, e) =>
      checkRefs(m, e).forall(df.columns.contains)
    }
    if (applicable.nonEmpty) {
      val aggs = applicable.map { case (n, e) =>
        sum(when(checkCond(df, e), 1L).otherwise(0L)).as(s"__ck_$n") }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      applicable.foreach { case (n, e) =>
        val i = row.fieldIndex(s"__ck_$n")
        if (!row.isNullAt(i) && row.getLong(i) > 0)
          throw errors.CheckConstraintViolation(n,
            s"${row.getLong(i)} $context rows violate '$e'")
      }
    }
    if (deferrable) partial else Nil
  }

  /** Validate constraints the batch couldn't decide (some referenced
    * column comes from the target) against the MERGED result — the
    * merged row is what lands, so this is the exact SQL Server
    * semantic. Costs one extra aggregate pass over the rewritten slice
    * and only runs when such a constraint exists. */
  private def validatePartialChecks(m: Meta, result: DataFrame,
      partial: Seq[(String, String)]): Unit = {
    if (partial.isEmpty) return
    val aggs = partial.map { case (n, e) =>
      sum(when(checkCond(result, e), 1L).otherwise(0L)).as(s"__ck_$n") }
    val row = result.agg(aggs.head, aggs.tail: _*).collect()(0)
    partial.foreach { case (n, e) =>
      val i = row.fieldIndex(s"__ck_$n")
      if (!row.isNullAt(i) && row.getLong(i) > 0)
        throw errors.CheckConstraintViolation(n,
          s"${row.getLong(i)} merged rows violate '$e'")
    }
  }

  // ── read ────────────────────────────────────────────────────────────────

  /** Compact small files (append-heavy tables accumulate one file per
    * insert): rewrite the table so each bucket holds ONE file (bucketed
    * layout) or the data dir holds ceil(rows/rowsPerFile) files (flat).
    * Contents and metadata are unchanged; committed like every rewrite
    * (new files in place, one manifest). The 100 TB version runs
    * per-bucket incrementally; locally one job covers the whole table. */
  def compact(name: String, rowsPerFile: Long = 1000000L): Unit = withCommitLock(name) {
    val g = generation(name)
    if (g.rels.isEmpty) return
    val m = g.meta
    val df = readGen(name, g)
    if (m.buckets > 0)
      // repartition on the bucket expression co-locates each bucket into
      // one task → one file per bucket directory after partitionBy
      overwriteData(name, df.repartition(m.buckets, bucketExpr(m)))
    else {
      val rows = df.count()
      val files = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
      overwriteData(name, df.repartition(files))
    }
  }

  /** Raw table scan reconciled to the meta schema (null-fill added
    * columns, drop dropped ones, cast to meta types). */
  def read(name: String): DataFrame = readGen(name, generation(name))

  private def readGen(name: String, g: Generation): DataFrame =
    alignTo(scan(name, g, g.rels), g.meta)

  private def alignTo(df: DataFrame, m: Meta, extra: Seq[Column] = Nil): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val out = m.columns.map { case (n, t) =>
      if (df.columns.contains(n)) {
        val src = col(Identifiers.quote(n))
        // TIME ingest: a timestamp inserted into a TIME column stores its
        // time-of-day (micros), not a raw epoch cast
        val isTs = df.schema.fields.exists(f =>
          f.name == n && (f.dataType == TimestampType || f.dataType == TimestampNTZType))
        if (t.name == "time" && isTs) SqlType.timeFromTimestamp(src).as(n)
        else if (t.name == "datetimeoffset" && isTs)
          SqlType.dtoFromTimestamp(src.cast(TimestampType), lit(0L)).as(n)
        else src.cast(t.spark).as(n)
      } else lit(null).cast(t.spark).as(n)
    }
    df.select((out ++ extra).toIndexedSeq: _*)
  }

  // ── statistics ──────────────────────────────────────────────────────────

  /** Compute and persist per-file min/max/null-count statistics for
    * `columns` (default: the primary key) — see [[FileStats]]. One
    * aggregation job over the table; O(#files) rows reach the driver.
    * Stats are computed in the ALIGNED (meta-type) domain, the same one
    * `readTable` predicates evaluate in.
    *
    * `incremental = true` scans ONLY files with no stats entry yet (the
    * ones appended since the last analyze) and keeps the rest — the
    * steady-state maintenance cost tracks the insert rate, not the
    * table size. Falls back to a full pass when the existing stats
    * cover a different column set.
    *
    * `bloomBits > 0` (a power of two) additionally folds every file's
    * rendered values into a per-file-per-column Bloom sketch (C27, see
    * [[graft.plans.BloomSketch]]) in the SAME aggregation pass — no
    * extra scan. Equality/IN predicates then drop files whose [min,max]
    * straddles the probe value but which provably don't contain it —
    * the hash-bucketed / interleaved layouts where zone maps prune
    * nothing. Cost is bloomBits/8 bytes per file per column in the
    * sidecar (×4/3 for Base64): size it to the per-file distinct count
    * (≈10 bits/value for ~1% false positives at the default 6 hashes). */
  def analyze(name: String, columns: Seq[String] = Seq.empty,
      incremental: Boolean = false, bloomBits: Int = 0,
      bloomHashes: Int = 6): Unit =
    analyzeWith(name, columns, incremental, bloomBits, bloomHashes, Map.empty)

  /** A stat entry to collect per file: each requested column under its
    * aligned domain, PLUS a derived `<c>#instant` bigint entry for
    * datetimeoffset columns — the zone map an instant-range predicate
    * prunes with (the column's own min/max order by WALL CLOCK, a
    * different order whenever offsets vary, so they cannot serve an
    * instant comparison). The derived entry carries its OWN bloom:
    * parseWhere rewrites every dto comparison (including =) to
    * DtoInstant(col) form, so an equality probe resolves to the
    * `#instant` entry — a sketch on the string column would never be
    * consulted. The bigint's cast-to-string render is reproduced
    * bit-exactly probe-side by FileStats.renderLit's LongType arm.
    * `value` is what min/max and the sketch see, `raw` what the null
    * count counts — over the ALIGNED columns. [[analyze]] aggregates
    * these columns and the write job's [[FileStats.Tracker]] evaluates
    * them, so the two cannot drift. */
  private def statKeys(m: Meta, cols: Seq[String]): Seq[StatKey] = {
    val dtos = dtoColsOf(m)
    cols.flatMap { c =>
      val t = m.columns.find(_._1 == c).get._2.spark
      // zoned timestamps persist as EPOCH MICROS: a rendered local
      // string would need the analyze-time session zone to read
      // back (and is ambiguous in the repeated DST hour) — micros
      // are zone-free and exact
      val q0 = col(Identifiers.quote(c))
      val q = if (t == TimestampType) unix_micros(q0) else q0
      val base = StatKey(c, q, q0, t.catalogString, bloomable = true)
      if (dtos.contains(c))
        Seq(base, StatKey(c + "#instant", SqlType.dtoInstantMicros(q0),
          SqlType.dtoInstantMicros(q0), "bigint", bloomable = true))
      else Seq(base)
    }
  }

  /** Would an incremental analyze for `keys` keep entry `st` as it is?
    * Same key set, every entry computed in its current type domain (a
    * re-scan replaces entries of another domain, or legacy ones without
    * a domain tag — they can't prune), and a sketch at the requested
    * width when `bloomBits` > 0 (bloomBits = 0 keeps existing sketches:
    * immutable files — a sketch once true stays true). rows = 0 entries
    * need no sketch: an empty file prunes by its row count and would
    * re-scan forever (a scan yields it no sketch). */
  private def covers(st: FileStats.FileStat, keys: Seq[StatKey], bloomBits: Int): Boolean = {
    val domOf = keys.map(k => k.key -> k.dom).toMap
    val bloomable = keys.filter(_.bloomable).map(_.key).toSet
    st.cols.keySet == domOf.keySet &&
      st.cols.forall { case (c, cs) => cs.dom.contains(domOf(c)) } &&
      (bloomBits == 0 || st.rows == 0 || st.cols.forall { case (k, cs) =>
        !bloomable(k) || cs.bloom.exists(b => graft.plans.BloomSketch.bitsOf(b) == bloomBits)
      })
  }

  /** The write job's stats collector for files of `written` columns
    * (the rows FileFormatWriter hands its trackers: the written frame's
    * data columns) of a table with meta `m`: [[statKeys]] over
    * [[alignTo]] of those columns, resolved once on the driver against
    * an empty frame and bound for per-row evaluation (see
    * [[FileStats.Tracker]]). */
  private def statsTracker(m: Meta, written: StructType, cols: Seq[String],
      bloomBits: Int, bloomHashes: Int): FileStats.Tracker = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    def emptyOf(schema: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields.map(_.copy(nullable = true))))
    /** A chain of Projects over one leaf → each list bound over the
      * previous output, innermost first. */
    def bound(df: DataFrame): Seq[Seq[Expression]] = {
      val plan = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(df.queryExecution.analyzed)
      def lists(p: LogicalPlan): List[Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]] =
        p match {
          case Project(l, child) => lists(child) :+ l
          case leaf if leaf.children.isEmpty => Nil
          case other => throw new IllegalStateException(s"unexpected stats probe node: ${other.nodeName}")
        }
      var in: Seq[Attribute] = plan.collectLeaves().head.output
      lists(plan).map { l =>
        val b = BindReferences.bindReferences(l.map(e => e: Expression), in)
        in = l.map(_.toAttribute)
        b
      }
    }
    val keys = statKeys(m, cols)
    val probe = alignTo(emptyOf(written), m).select(keys.zipWithIndex.flatMap { case (k, i) =>
      Seq(k.value.as(s"v$i"), k.raw.isNull.as(s"n$i")) }: _*)
    val valueTypes = keys.indices.map(i => probe.schema(s"v$i").dataType)
    val renders = bound(emptyOf(StructType(valueTypes.zipWithIndex.map { case (t, i) =>
      StructField(s"v$i", t) })).select(keys.indices.map(i => col(s"v$i").cast("string")): _*)).last
    new FileStats.Tracker(bound(probe), keys.indices.map { i =>
      FileStats.TrackedKey(keys(i).key, keys(i).dom, valueTypes(i), renders(i), keys(i).bloomable)
    }, bloomBits, bloomHashes)
  }

  /** [[analyze]], given `fresh` entries the committing write job just
    * collected for files it wrote. When those and the sidecar already
    * cover every file of the current generation (see [[covers]]) and
    * the pass is incremental, they are merged in with ONE swap and no
    * Spark job — the steady state of an auto-analyzed table. Otherwise
    * the files still lacking a covering entry are scanned (DDL domain
    * changes, files written before stats rode the write). */
  private def analyzeWith(name: String, columns: Seq[String], incremental: Boolean,
      bloomBits: Int, bloomHashes: Int,
      fresh: Map[String, FileStats.FileStat]): Unit = withCommitLock(name) {
    // under the lock: analyze read-modify-writes stats.json, and an
    // unlocked run could resurrect entries a concurrent dropColumn
    // scrubbed (or clobber a vacuum's trim)
    val g = generation(name)
    val m = g.meta
    val cols0 = if (columns.nonEmpty) columns else m.primaryKey
    if (cols0.isEmpty) throw errors.UndefinedPrimaryKey(name)
    val missing = cols0.filterNot(m.columns.map(_._1).contains)
    if (missing.nonEmpty) throw errors.ColumnDoesNotExist(name, missing)
    val dataDir = dataPath(name)
    // stats are keyed by the data-dir-RELATIVE path (bucket dir included):
    // basenames collide across __bucket=N dirs, see FileStats.fileKey
    val present = g.rels
    val presentKeys = present.toSet
    val existing = FileStats.read(fs, statsPath(name)).getOrElse(Map.empty) ++ fresh
    val keys = statKeys(m, cols0)
    if (incremental && fresh.nonEmpty &&
        present.forall(r => existing.get(r).exists(covers(_, keys, bloomBits)))) {
      // entries of files that left the file set stay until a vacuum or
      // a full analyze trims them (they keep pruning snapshot reads)
      FileStats.write(fs, statsPath(name), existing)
      return
    }
    // entries for files a retained SNAPSHOT still references outlive the
    // files' removal from the current file set (rel paths are never
    // reused and files are immutable, so an entry stays true forever) —
    // they are what lets a snapshot read prune like a current read. The
    // manifest walk runs only when retired entries actually exist
    // (rewrites); on an append stream nothing leaves the file set,
    // keeping incremental analyze O(batch) instead of O(#generations ×
    // #files) JSON parsing.
    val retired = existing.filter { case (f, _) => !presentKeys.contains(f) }
    val forSnapshots =
      if (retired.isEmpty) retired
      else {
        val snapshotKeys: Set[String] =
          manifestGens(name).flatMap(g => readManifest(name, g)._2).toSet
        retired.filter { case (f, _) => snapshotKeys.contains(f) }
      }
    if (present.isEmpty) {
      if (forSnapshots.isEmpty) fs.delete(statsPath(name), false)
      else FileStats.write(fs, statsPath(name), forSnapshots)
      return
    }
    val kept: Map[String, FileStats.FileStat] =
      if (!incremental) Map.empty
      else existing.filter { case (f, st) => presentKeys.contains(f) && covers(st, keys, bloomBits) }
    val toScan = present.filterNot(kept.contains)
    val scanned: Map[String, FileStats.FileStat] =
      if (toScan.isEmpty) Map.empty
      else {
        val aligned = alignTo(scan(name, g, toScan), m, extra = Seq(input_file_name().as("__file")))
        val aggs = keys.flatMap { sk =>
          Seq(min(sk.value).cast("string").as(s"__min_${sk.key}"),
            max(sk.value).cast("string").as(s"__max_${sk.key}"),
            sum(when(sk.raw.isNull, 1L).otherwise(0L)).as(s"__nulls_${sk.key}")) ++
            // the bloom hashes the SAME rendering the min/max persist
            // (cast-to-string of the aligned value; zoned ts as micros) —
            // the contract FileStats.renderLit reproduces probe-side
            (if (bloomBits > 0 && sk.bloomable)
              Seq(graft.plans.GraftFunctions
                .bloomSketch(sk.value.cast("string"), bloomBits, bloomHashes)
                .as(s"__bloom_${sk.key}"))
            else Nil)
        }
        val rows = aligned.groupBy(col("__file"))
          .agg(count(lit(1)).as("__rows"), aggs: _*)
          .collect()
        rows.map { r =>
          val key = FileStats.fileKey(dataDir, r.getAs[String]("__file"))
          val cs = keys.map { sk =>
            val c = sk.key
            val fresh =
              if (bloomBits == 0 || !sk.bloomable) None
              else Option(r.getAs[Array[Byte]](s"__bloom_$c"))
                .map(java.util.Base64.getEncoder.encodeToString)
            val dom = Some(sk.dom)
            // a re-scan that didn't build a sketch carries the file's
            // existing one forward (immutable files — a sketch once
            // true stays true): a routine analyze() or cluster()'s
            // auto re-analyze must not silently discard bloom pruning
            val bloom = fresh.orElse(
              existing.get(key).flatMap(_.cols.get(c))
                .filter(_.dom == dom).flatMap(_.bloom))
            c -> FileStats.ColStat(
              Option(r.getAs[String](s"__min_$c")),
              Option(r.getAs[String](s"__max_$c")),
              r.getAs[Long](s"__nulls_$c"),
              dom, bloom)
          }.toMap
          key -> FileStats.FileStat(r.getAs[Long]("__rows"), cs)
        }.toMap
      }
    // scanned files the aggregation never saw are EMPTY (e.g. an empty
    // insert batch's file) — record rows=0 so pruning can drop them too
    val empty = keys.map(sk =>
      sk.key -> FileStats.ColStat(None, None, 0L, Some(sk.dom))).toMap
    val empties = toScan.map(_ -> FileStats.FileStat(0L, empty)).toMap
    FileStats.write(fs, statsPath(name), forSnapshots ++ empties ++ kept ++ scanned)
  }

  /** Metadata-only row count (C28): `SELECT COUNT(*)` answered from the
    * stats sidecar's per-file row counts without touching the data —
    * the lakehouse count-from-manifest fast path. The `rows` field is
    * exact and stays true forever (immutable files, rel paths never
    * reused, and it is column-set- and type-domain-independent — unlike
    * min/max, a row count can't go stale under DDL), so unlike range
    * pruning this path is authoritative, not advisory.
    *
    * Hybrid by construction: files appended since the last analyze have
    * no entry and are counted with one footer-level Spark count over
    * JUST those files; everything analyzed costs zero I/O. At 100 TB the
    * steady-state cost is O(#files) driver-side sidecar reads plus a
    * scan proportional to the un-analyzed tail — the same contract as
    * incremental analyze itself. */
  def countRows(name: String): Long = {
    val g = generation(name) // existence check → TableDoesNotExist like every read
    val stats = FileStats.read(fs, statsPath(name)).getOrElse(Map.empty)
    val (covered, uncovered) = g.rels.partition(stats.contains)
    val fromStats = covered.iterator.map(stats(_).rows).sum
    val scanned = if (uncovered.isEmpty) 0L else scan(name, g, uncovered).count()
    fromStats + scanned
  }

  /** Z-order clustering: rewrite the table so files hold contiguous
    * ranges of the interleaved-bit Z-value over `columns` — after which
    * [[analyze]]'s per-file min/max prune on EVERY clustered column, not
    * just the leading one (a lexicographic sort only localizes its first
    * key). The lakehouse OPTIMIZE ZORDER BY analog, composing with
    * bucket pruning and stats pruning.
    *
    * Each column is scaled to 16 bits against its global min/max (one
    * tiny aggregate), bits are interleaved (up to 4 columns), and the
    * table is range-repartitioned + sorted by the Z-value — all
    * distributed, O(1) driver state. Numeric/date/timestamp columns
    * only: hashing strings would destroy the locality the curve exists
    * to create. Re-analyzes automatically (the rewrite invalidates
    * file stats). */
  def cluster(name: String, columns: Seq[String], filesTarget: Int = 0): Unit = withCommitLock(name) {
    import org.apache.spark.sql.types._
    val m = meta(name)
    require(columns.nonEmpty && columns.size <= 4, "cluster: 1..4 columns")
    val missing = columns.filterNot(m.columns.map(_._1).contains)
    if (missing.nonEmpty) throw errors.ColumnDoesNotExist(name, missing)
    def linear(c: String): Column = {
      val t = m.columns.find(_._1 == c).get._2
      val q = col(Identifiers.quote(c))
      // datetimeoffset clusters by INSTANT (its comparison semantics;
      // C14d) — the post-cluster auto-analyze then writes `#instant`
      // zone maps over files that are contiguous in exactly that
      // order, so instant-range predicates prune like any clustered
      // numeric. Linearizing the wall-clock STRING would interleave
      // offsets into the curve and destroy that locality.
      if (t.name == "datetimeoffset")
        return coalesce(SqlType.dtoInstantMicros(q), lit(0L)).cast("double")
      t.spark match {
        case _: NumericType => q.cast("double")
        case DateType => unix_date(q).cast("double")
        case TimestampType | TimestampNTZType => unix_micros(q).cast("double")
        case other => throw errors.InvalidValue(c, s"cluster unsupported for type $other")
      }
    }
    val g = generation(name)
    if (g.rels.isEmpty) return
    val df = readGen(name, g)
    val aggs = columns.flatMap(c =>
      Seq(min(linear(c)).as(s"__lo_$c"), max(linear(c)).as(s"__hi_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val k = columns.size
    // 16-bit scaled rank per column; nulls and degenerate ranges → 0
    val scaled = columns.zipWithIndex.map { case (c, j) =>
      val lo = Option(bounds.getAs[Any](s"__lo_$c")).map(_.toString.toDouble).getOrElse(0.0)
      val hi = Option(bounds.getAs[Any](s"__hi_$c")).map(_.toString.toDouble).getOrElse(0.0)
      val e =
        if (hi <= lo) lit(0L)
        else least(lit(65535L), greatest(lit(0L),
          floor((linear(c) - lit(lo)) / lit(hi - lo) * 65535.0).cast("long")))
      (coalesce(e, lit(0L)), j)
    }
    var z: Column = lit(0L)
    for (i <- 0 until 16; (s, j) <- scaled)
      z = z.bitwiseOR(shiftleft(shiftright(s, i).bitwiseAND(lit(1L)), i * k + j))
    val n = if (filesTarget > 0) filesTarget
            else math.max(1, spark.sparkContext.defaultParallelism)
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    overwriteData(name, clustered)
    analyze(name, columns)
  }

  // ── snapshots (time travel) ─────────────────────────────────────────────
  //
  // Every mutation commits a GENERATION: a manifest (history/m<N>.json)
  // listing the table's file set (data-dir-relative paths) plus the
  // schema at commit time. The manifest's tmp-write + rename is the
  // ONLY commit point: writers put their new files straight into data/
  // under final, never-reused names (part-file names embed the write's
  // job UUID), and a replaced file stays where it is — the next
  // manifest simply stops naming it. The newest manifest IS the table:
  // current reads, keyed mutations and every commit take the file set
  // from it, never from a listing of data/, so a file no manifest names
  // (a crashed or failed writer's) is invisible, and [[repair]] deletes
  // it. Every retained generation's files live at data/<rel>, so a
  // snapshot read is the same scan as a current read. Cost model at
  // 100 TB: a commit writes one O(#files) manifest derived from the
  // previous one and what it wrote — no data copied, no file moved;
  // concurrent readers of generation N keep working through a rewrite
  // because their files are not touched until [[vacuum]] expires every
  // manifest that names them.
  //
  // Commit concurrency: the contract is SINGLE WRITER PER TABLE,
  // ENFORCED by the create-exclusive commit.lock (see withCommitLock) —
  // a second concurrent committer fails loudly with ConcurrentWrite
  // instead of silently losing a manifest to the nextGen race. The lock
  // is also what makes the INCREMENTAL manifest form sound: every
  // commit derives its manifest as previous-manifest + the writer's own
  // delta (appends and metadata-only DDL add files or nothing; rewrites
  // swap the files they replace for the files they wrote), because
  // under the lock the previous manifest IS the current file set.
  //
  // Snapshot reads PRUNE like current reads (round 6): the manifest
  // pins the schema and primary key at commit (so bucket pruning hashes
  // the right key over the snapshot's dirs), and the stats sidecar
  // retains entries for replaced-but-still-referenced files (rel paths
  // are never reused and files immutable, so an entry stays true
  // forever; analyze and vacuum trim entries no retained snapshot
  // references).
  //
  // Two standard lakehouse caveats apply at the extreme end:
  //  - a manifest lists EVERY current file, so at millions of files it
  //    is itself large (~100 B/entry); the production form shards
  //    manifests or stores per-commit deltas compacted periodically
  //    (what Iceberg manifest lists / Delta checkpoints do). One JSON
  //    file is right for this store's file counts.
  //  - vacuum vs. long-running readers: retention is TIME-based safety —
  //    keepLast must outlast the longest reader, since a vacuum can
  //    delete files a still-running old-generation scan references
  //    (the same contract as Delta's VACUUM retention window).

  /** Retained snapshot generations as (gen, commitTimeMillis), ascending. */
  def snapshots(name: String): Seq[(Int, Long)] =
    manifestGens(name).map { g =>
      val in = fs.open(manifestPath(name, g))
      val node = try mapper.readTree(in) finally in.close()
      (g, node.get("ts").asLong())
    }

  /** C38: the table's generation history as a queryable relation —
    * (gen, commit_time, n_files, files_added, files_removed), derived
    * METADATA-ONLY from the committed manifests (no data I/O; one
    * manifest read per retained generation, bounded by the vacuum
    * retention): the operational audit of a table's write traffic
    * ("what did that nightly job actually do to the file set") and the
    * sizing input for retention/compaction decisions. File deltas are
    * set differences between consecutive RETAINED manifests — after a
    * vacuum, the earliest surviving generation reports its full file
    * set as added. */
  def history(name: String): DataFrame = {
    val gens = snapshots(name) // (gen, commitTimeMillis) ascending
    var prev = Set.empty[String]
    var first = true
    val rows = gens.map { case (g, ts) =>
      val rels = readManifest(name, g)._2.toSet
      val added = if (first) rels.size.toLong else (rels -- prev).size.toLong
      val removed = if (first) 0L else (prev -- rels).size.toLong
      first = false; prev = rels
      (g, new java.sql.Timestamp(ts), rels.size.toLong, added, removed)
    }
    import spark.implicits._
    rows.toDF("gen", "commit_time", "n_files", "files_added", "files_removed")
  }

  private def manifestGens(name: String): Seq[Int] = {
    val h = historyPath(name)
    if (!fs.exists(h)) return Nil
    fs.listStatus(h).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("m") && s.endsWith(".json") =>
        s.stripPrefix("m").stripSuffix(".json").toInt }
      .sorted
  }

  /** Next generation number: one past the newest committed manifest.
    * A crash before a manifest's rename leaves nothing that claims the
    * number (the next commit overwrites its stale tmp file). */
  private def nextGen(name: String): Int = (manifestGens(name) :+ 0).max + 1

  /** Write generation `gen`'s manifest: the table's file set + schema.
    * tmp+rename like stats.json, so a torn write never becomes a
    * generation. That rename is the commit: `written` (the files the
    * committing writer just put into data/) join the table only if it
    * lands, and are deleted again if it fails.
    *
    * `files` is the caller's DERIVED file set: previous manifest plus
    * its own delta (appends and metadata-only DDL add files or nothing;
    * rewrites replace the files they rewrote with what they wrote), so
    * no commit lists data/. Deriving is sound because the commit lock
    * serializes writers: the previous manifest IS the current file set. */
  private def commitSnapshot(name: String, gen: Int, files: Seq[String],
      written: Seq[String] = Nil,
      stats: Map[String, FileStats.FileStat] = Map.empty): Unit = {
    try {
      val o = mapper.createObjectNode()
      o.put("gen", gen)
      o.put("ts", clock())
      o.set("meta", metaNode(meta(name)): JsonNode)
      val arr = o.putArray("files")
      files.foreach(arr.add)
      val dst = manifestPath(name, gen)
      val tmp = new Path(dst.getParent, dst.getName + ".tmp")
      fs.mkdirs(historyPath(name))
      val out = fs.create(tmp, true)
      out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o))
      out.close()
      if (!fs.rename(tmp, dst))
        throw new IllegalStateException(s"manifest commit failed: $dst")
    } catch {
      case e: Throwable =>
        try deleteFiles(name, written) catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    commitEpoch.incrementAndGet()
    maybeAutoAnalyze(name, stats)
    firePostCommitHooks(name)
  }

  /** C48: in-process post-commit hooks — the auto-maintained-summary
    * coupling (Graft.summaries.autoMaintainOn registers one per
    * summary). Fired after the manifest commit and after C45
    * auto-analyze, still inside the table's commit lock (hooks that
    * write OTHER tables take those tables' own locks; per-table locks
    * never nest on the same table thanks to the re-entrancy guard). A
    * hook failure is audited and swallowed: the data commit already
    * landed, and a missed fold only leaves the summary STALE, which
    * the C44 freshness probe turns into a safe base-scan fallback —
    * never a wrong answer. */
  private val postCommitHooks =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, () => Unit]]()
  // a hook committing to its OWN table (self-referential registration)
  // must not recurse through commitSnapshot forever
  private val inHook = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }

  private[graft] def addPostCommitHook(name: String, id: String, hook: () => Unit): Unit = {
    postCommitHooks.compute(name, (_, old) =>
      Option(old).getOrElse(Map.empty[String, () => Unit]) + (id -> hook))
    ()
  }

  private[graft] def removePostCommitHook(name: String, id: String): Unit = {
    postCommitHooks.computeIfPresent(name, (_, old) =>
      (old - id) match { case m if m.isEmpty => null; case m => m })
    ()
  }

  /** Drop every post-commit hook of `name` whose id starts with
    * `prefix` — the decommissioning twin of [[addPostCommitHook]]
    * (Graft.summaries.detach disarms all `summary-maintain:*` hooks of
    * a base without knowing the summary names this session armed). */
  private[graft] def removePostCommitHooksByPrefix(name: String, prefix: String): Unit = {
    postCommitHooks.computeIfPresent(name, (_, old) =>
      old.filterNot(_._1.startsWith(prefix)) match {
        case m if m.isEmpty => null; case m => m })
    ()
  }

  private def firePostCommitHooks(name: String): Unit = {
    val hooks = postCommitHooks.get(name)
    if (hooks == null) return
    val guard = inHook.get()
    if (!guard.add(name)) return
    try hooks.foreach { case (id, h) =>
      try h() catch {
        case e: Exception =>
          audit(s"post-commit hook '$id' of $name failed (commit unaffected): ${e.getMessage}")
      }
    } finally {
      guard.remove(name)
      ()
    }
  }

  private[graft] val AutoAnalyzeCols = "graft.autoanalyze.cols"
  private[graft] val AutoAnalyzeBloom = "graft.autoanalyze.bloom"

  /** C45: opt a table into AUTO-ANALYZE — every committed generation
    * incrementally refreshes the stats sidecar for `columns` (plus the
    * derived instant entries of datetimeoffset columns, and per-file
    * Bloom sketches when `bloomBits` > 0). Incremental analyze scans
    * only the files the commit ADDED (O(batch), never O(table) — the
    * zone-map upkeep cost a 100 TB append stream can actually afford),
    * so a where-d read prunes fresh data without anyone remembering to
    * run ANALYZE — the gap where zone maps silently rot on exactly the
    * newest (most-queried) files. Durable in table properties: every
    * writer process honors it. Runs one backfill immediately. */
  def setAutoAnalyze(name: String, columns: Seq[String], bloomBits: Int = 0): Unit = {
    val m = meta(name)
    val missing = columns.filterNot(m.columns.map(_._1).contains)
    if (missing.nonEmpty) throw errors.ColumnDoesNotExist(name, missing)
    require(columns.nonEmpty, "setAutoAnalyze: need at least one column")
    setProperties(name, Map(AutoAnalyzeCols -> columns.mkString(","),
      AutoAnalyzeBloom -> bloomBits.toString))
    audit(s"auto-analyze ON for $name: ${columns.mkString(", ")}" +
      (if (bloomBits > 0) s" bloom=$bloomBits" else ""))
    analyze(name, columns, incremental = true, bloomBits = bloomBits)
  }

  /** Turn C45 auto-analyze off (existing stats stay). */
  def clearAutoAnalyze(name: String): Unit = {
    setProperties(name, Map.empty, remove = Seq(AutoAnalyzeCols, AutoAnalyzeBloom))
    audit(s"auto-analyze OFF for $name")
  }

  private val DefaultBloomHashes = 6

  /** The C45 opt-in of `name` under meta `m`: (columns still in `m`,
    * bloomBits); None when off, or when every opted column was dropped. */
  private def autoAnalyzeCols(name: String, m: Meta): Option[(Seq[String], Int)] = {
    val props = try properties(name) catch { case _: Exception => return None }
    props.get(AutoAnalyzeCols).map { csv =>
      val existing = m.columns.map(_._1).toSet
      (csv.split(",").map(_.trim).filter(c => c.nonEmpty && existing(c)).toSeq,
        props.get(AutoAnalyzeBloom).map(_.toInt).getOrElse(0))
    }.filter(_._1.nonEmpty)
  }

  /** The post-commit half of C45: incremental stats refresh when the
    * table opted in. `fresh` are the entries the commit's write job
    * collected; when they complete the sidecar, the refresh is one swap
    * and no job. Columns dropped since opt-in are skipped (a DDL commit
    * must not throw here); a stats failure is audited, never allowed to
    * poison the data commit that already landed. */
  private def maybeAutoAnalyze(name: String, fresh: Map[String, FileStats.FileStat]): Unit =
    try autoAnalyzeCols(name, meta(name)).foreach { case (cols, bloomBits) =>
      analyzeWith(name, cols, incremental = true, bloomBits, DefaultBloomHashes, fresh)
    } catch {
      case e: Exception =>
        audit(s"auto-analyze of $name failed (commit unaffected): ${e.getMessage}")
    }

  /** The table as of `asOf` (its manifest's meta), or CURRENT: the
    * newest manifest's file set under the live meta. A table never
    * committed has no files. */
  private def generation(name: String, asOf: Option[Int] = None): Generation = asOf match {
    case Some(g) =>
      val (mAt, rels) = readManifest(name, g)
      Generation(mAt, rels, current = false)
    case None =>
      Generation(meta(name),
        manifestGens(name).lastOption.fold(Seq.empty[String])(readManifest(name, _)._2),
        current = true)
  }

  /** Parse generation `gen`'s manifest → (schema at commit, file set). */
  private def readManifest(name: String, gen: Int): (Meta, Seq[String]) = {
    val in = try fs.open(manifestPath(name, gen)) catch {
      case _: java.io.FileNotFoundException =>
        if (!exists(name)) throw errors.TableDoesNotExist(name)
        throw errors.InvalidValue("asOf", s"no snapshot $gen for table $name (never committed or vacuumed)")
    }
    val node = try mapper.readTree(in) finally in.close()
    val mAt = parseMeta(node.get("meta"))
    val rels = (0 until node.get("files").size()).map(node.get("files").get(_).asText())
    (mAt, rels)
  }

  /** Snapshot read (time travel): the table EXACTLY as of generation
    * `gen` — the file set and schema its manifest recorded; its files
    * stay in data/ until a vacuum expires the manifest. Raises on a
    * vacuumed (or never-committed) generation. The same [[scan]] a
    * current read takes. */
  def readTableAt(name: String, gen: Int): DataFrame = readGen(name, generation(name, Some(gen)))

  /** THE scan of a committed generation — current reads, snapshot
    * reads, the change feed, analyze, countRows and the keyed-mutation
    * scan all take it: `rels` (the generation's whole file set, or a
    * pruned subset) under the merged footer schema of the WHOLE set,
    * unaligned. Spark plans from the named files and lists nothing
    * (see bridge.committedParquetScan). Every retained generation's
    * files live at data/<rel>. Only a CURRENT read of the WHOLE file
    * set is rooted at data/ — the identity
    * [[dataLocation]] promises plan rules, which may answer such a scan
    * from a summary of the live table — and `__bucket` then comes from
    * the files' paths. Every other scan (a pruned subset, countRows'
    * unanalyzed tail, analyze's rescan, any `asOf` or change-feed
    * side, even of the newest generation) is rooted at its files, so
    * no rule mistakes it for the table. `bucketed` advertises the
    * PK-hash layout of `g` as HashPartitioning (the keyed mutation's
    * table side and both sides of a bucket-local change feed; the
    * caller guarantees every file name embeds its bucket id, which is
    * what groups the files into buckets whatever the scan's root). */
  private def scan(name: String, g: Generation, rels: Seq[String],
      bucketed: Boolean = false): DataFrame = {
    if (rels.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], g.meta.sparkSchema)
    val leaves =
      if (g.current && rels == g.rels)
        Seq(fs.makeQualified(dataPath(name)) -> rels.map(r => fileStatus(dataFile(name, r))))
      else rels.map { r => val p = dataFile(name, r); p -> Seq(fileStatus(p)) }
    org.apache.spark.sql.graftx.bridge.committedParquetScan(spark, leaves,
      mergedSchema(name, g.rels),
      if (bucketed) Some((g.meta.buckets, g.meta.primaryKey)) else None)
  }

  /** File-level pruning for a where-d read of generation `g`, two
    * independent cuts composed over its manifest's file set:
    *
    *  1. BUCKET pruning (bucketed tables, no stats needed): when the
    *     predicate pins every PK column with top-level equality/IN
    *     conjuncts, the PK hash determines the only `__bucket=` dirs
    *     that can hold matches — the read-side twin of the mutation
    *     path's bucket pruning. An equality read on a 100 TB bucketed
    *     table touches 1/buckets of the files with zero maintenance.
    *  2. STATS pruning (any layout, after analyze): drop every file
    *     whose [min,max]/null stats prove it cannot match.
    *
    * Returns (after bucket cut, after zone-map/Bloom cut); None when the
    * predicate doesn't resolve to a prunable condition. The predicate is
    * parsed against an empty frame of the generation's schema, so
    * pruning decides the file set before any scan is built. Sound for
    * snapshots too: a rel path is never reused, so a stats entry
    * describes its file forever, and a bucketed table's PK cannot
    * change (setPrimaryKey/dropColumn refuse), so the generation's
    * bucket dirs were hashed by the key its meta names. Files without
    * stats are kept, and the caller re-applies the full predicate —
    * pruning only shrinks the scan, never the answer. */
  private def prune(name: String, g: Generation, where: String): Option[(Seq[String], Seq[String])] = {
    val emptyDf =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], g.meta.sparkSchema)
    // resolve the predicate through the analyzer so the pruners see real
    // Catalyst comparisons over AttributeReferences (the raw Column is
    // an unresolved ColumnNode tree in Spark 4)
    val pred = emptyDf.filter(Filters.parseWhere(emptyDf, where, dtoColsOf(g.meta)))
      .queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .getOrElse(return None)
    val types = typesWithDerived(g.meta)
    val afterBuckets = allowedBuckets(g.meta, pred, types) match {
      case Some(ids) => g.rels.filter { rel =>
        val dir = rel.takeWhile(_ != '/')
        !dir.startsWith(BucketCol + "=") ||
          scala.util.Try(dir.stripPrefix(BucketCol + "=").toLong).toOption.forall(ids.contains)
      }
      case None => g.rels
    }
    val surviving = FileStats.read(fs, statsPath(name)) match {
      case Some(st) => afterBuckets.filter(rel =>
        st.get(rel).forall(s => FileStats.mayMatch(pred, s, types)))
      case None => afterBuckets
    }
    Some((afterBuckets, surviving))
  }

  /** Timestamp form of [[readTableAt]]: the latest generation committed
    * at or before `tsMillis`. */
  def readTableAsOf(name: String, tsMillis: Long): DataFrame = {
    val eligible = snapshots(name).filter(_._2 <= tsMillis)
    if (eligible.isEmpty)
      throw errors.InvalidValue("asOf", s"no snapshot of table $name at or before $tsMillis")
    readTableAt(name, eligible.last._1)
  }

  /** Rollback (C29, the Delta/Iceberg RESTORE surface): make the table
    * CURRENT state equal snapshot `gen` again — data files AND schema/
    * primary-key/bucket meta — committed as a NEW generation, so the
    * rolled-back states stay in history and `readChanges` across the
    * restore boundary shows the exact reverse diff of what it undoes.
    *
    * Metadata-only at any scale: every retained generation's files stay
    * in data/, so the restore is one manifest naming the snapshot's
    * files again — zero bytes of data copied, rewritten or moved;
    * restoring a 100 TB table after a bad load costs one manifest
    * write. Stats-sidecar entries are keyed by rel path over immutable
    * bytes, so pruning survives the round trip untouched.
    *
    * Raises on a vacuumed generation (some needed file is gone) — the
    * same retention contract as snapshot reads. */
  def restore(name: String, gen: Int): Unit = withCommitLock(name) {
    val (mAt, rels) = readManifest(name, gen)
    val current = generation(name).rels.toSet
    rels.filterNot(current).find(rel => !fs.exists(new Path(dataPath(name), rel))).foreach { rel =>
      throw errors.InvalidValue("restore",
        s"snapshot $gen of table $name is no longer restorable ($rel vacuumed)")
    }
    val g = nextGen(name)
    // the snapshot's meta comes back with its data: schema, primary
    // key and bucket count must describe the restored file set
    writeMeta(name, mAt)
    commitSnapshot(name, g, rels)
    audit(s"restore $name to generation $gen (as generation $g)")
  }

  /** Change-data-feed (C25): the row-level diff between two committed
    * generations, classified in a `_change_type` column — `insert`,
    * `delete`, `update_preimage`, `update_postimage` — over the TO
    * generation's schema (the Delta CDF / Iceberg changelog surface,
    * computed on demand from snapshots instead of stored change files).
    *
    * Scale design — why this is NOT "diff two snapshot reads": only
    * files in the SYMMETRIC DIFFERENCE of the two manifests can hold
    * changed rows. Files are immutable and rel paths never reused, so a
    * file listed by BOTH manifests contributes bit-identical rows to
    * both sides, and those rows cancel out of any diff. The scan reads
    * O(changed files), not O(table): a 100-row upsert into a 100 TB
    * bucketed table diffs the rewritten buckets only (spec pins the
    * input-file cut). Correctness of the cut:
    *
    *  - KEYED diff (both generations share the same non-empty primary
    *    key): a key resident in a common file is identical in both
    *    generations, and it cannot ALSO appear in a pre-only or
    *    post-only file — that would duplicate the key within one
    *    generation, violating PK uniqueness. So within the changed
    *    files, post-only keys are inserts, pre-only keys deletes,
    *    value-changed keys updates (pre+post images), and
    *    value-identical keys (pure rewrites: compaction, Z-order,
    *    bucket rewrites of untouched rows) drop out.
    *  - FULL-ROW diff (no stable key): per-row-value counts are
    *    additive over files, so common files cancel exactly —
    *    delta(row) = count_postOnly(row) − count_preOnly(row); positive
    *    deltas emit that many `insert` rows, negative that many
    *    `delete`s. Pure rewrites produce zero deltas.
    *
    * Both sides align to the TO schema (columns added since FROM read
    * as null on the pre side, dropped columns vanish); a metadata-only
    * DDL generation therefore diffs empty. Classification is directed
    * FROM → TO; `fromGen == toGen` yields an empty feed. */
  def readChanges(name: String, fromGen: Int, toGen: Int): DataFrame = {
    val from = generation(name, Some(fromGen))
    val to = generation(name, Some(toGen))
    val (mFrom, mTo) = (from.meta, to.meta)
    val toSet = to.rels.toSet
    val fromSet = from.rels.toSet
    val (preRels, postRels) = (from.rels.filterNot(toSet.contains), to.rels.filterNot(fromSet.contains))
    val cols = mTo.columns.map(_._1)
    val ct = "_change_type"
    def packed(df: DataFrame, as: String): DataFrame =
      df.select(struct(cols.map(c => col(Identifiers.quote(c))): _*).as(as))
    val keyed = mTo.primaryKey.nonEmpty && mFrom.primaryKey == mTo.primaryKey &&
      mTo.primaryKey.forall(k => cols.contains(k))
    // bucket-local diff: both generations hash-bucketed by the same key
    // into the same count, every file named with its bucket id — both
    // scans then claim HashPartitioning(pk, buckets) (see [[scan]]), and
    // a join on the key columns themselves needs no exchange
    val local = keyed && mTo.buckets > 0 && mFrom.buckets == mTo.buckets &&
      (preRels ++ postRels).forall(r =>
        org.apache.spark.sql.graftx.bridge.hasBucketId(new Path(r).getName))
    val pre = alignTo(alignTo(scan(name, from, preRels, bucketed = local), mFrom), mTo)
    val post = alignTo(scan(name, to, postRels, bucketed = local), mTo)
    if (keyed) {
      val pk = mTo.primaryKey
      val valCols = cols.filterNot(pk.contains)
      // struct packing sidesteps name collisions and gives a free
      // presence indicator (an outer join's missing side is a NULL
      // struct; a present row never is); the key columns ride along
      // unpacked, so the scans' partitioning survives to the join
      def side(df: DataFrame, tag: String): DataFrame =
        df.select(pk.indices.map(i => col(Identifiers.quote(pk(i))).as(s"${tag}_k$i")) :+
          struct(cols.map(c => col(Identifiers.quote(c))): _*).as(tag): _*)
      val (preS, postS) = (side(pre, "__cdf_pre"), side(post, "__cdf_post"))
      def keyMatch(eq: (Column, Column) => Column): Column =
        pk.indices.map(i => eq(col(s"__cdf_pre_k$i"), col(s"__cdf_post_k$i"))).reduce(_ && _)
      def keySet(tag: String): Column =
        pk.indices.map(i => col(s"${tag}_k$i").isNotNull).reduce(_ && _)
      // full outer on null-safe PK equality. Bucket-local, that is two
      // branches: rows whose key is all set join on plain equality of
      // the claimed key columns (a null-safe key would be planned on
      // coalesced expressions and lose the partitioning), and the few
      // rows with a NULL key column match null-safely in a condition
      // written `coalesce(a = b, a IS NULL AND b IS NULL)`, which the
      // planner cannot take apart into join keys (it does rewrite
      // `a = b OR (a IS NULL AND b IS NULL)` into `a <=> b`) — a
      // broadcast nested-loop join, no shuffle. When the stats sidecar
      // counts no NULL key in any file of either side, that branch is
      // empty and left out (its broadcast is a job of its own).
      val nullKeys = local && !FileStats.read(fs, statsPath(name)).exists(st =>
        (preRels ++ postRels).forall(r =>
          st.get(r).exists(f => pk.forall(k => f.cols.get(k).exists(_.nulls == 0)))))
      val setKeys =
        if (!local) preS.join(postS, keyMatch(_ <=> _), "full_outer")
        else preS.filter(keySet("__cdf_pre"))
          .join(postS.filter(keySet("__cdf_post")), keyMatch(_ === _), "full_outer")
      val joined =
        if (!nullKeys) setKeys
        else setKeys.unionByName(preS.filter(!keySet("__cdf_pre"))
          .join(postS.filter(!keySet("__cdf_post")),
            keyMatch((a, b) => coalesce(a === b, a.isNull && b.isNull)), "full_outer"))
      val preP = col("__cdf_pre").isNotNull
      val postP = col("__cdf_post").isNotNull
      val changed = valCols
        .map(c => !(col("__cdf_pre")(c) <=> col("__cdf_post")(c)))
        .foldLeft(lit(false))(_ || _)
      // ONE pass over the join (a 4-way union of filtered branches would
      // execute it four times): each row maps to its image array —
      // insert | delete | (preimage, postimage) — and explodes
      def img(side: String, tag: String): Column =
        struct(cols.map(c => col(side)(c).as(c)) :+ lit(tag).as(ct): _*)
      joined.filter(!preP || !postP || changed)
        .select(explode(
          when(!preP, array(img("__cdf_post", "insert")))
            .when(!postP, array(img("__cdf_pre", "delete")))
            .otherwise(array(img("__cdf_pre", "update_preimage"),
              img("__cdf_post", "update_postimage")))).as("__cdf_img"))
        .select(cols.map(c => col("__cdf_img")(c).as(c)) :+
          col("__cdf_img")(ct).as(ct): _*)
    } else {
      // multiset diff: count per full row value on each side (groupBy
      // treats nulls as equal — the multiset semantics we want)
      val p = packed(pre, "__cdf_rowp").groupBy("__cdf_rowp")
        .agg(count(lit(1)).as("__cdf_npre"))
      val n = packed(post, "__cdf_rown").groupBy("__cdf_rown")
        .agg(count(lit(1)).as("__cdf_npost"))
      val joined = p.join(n, col("__cdf_rowp") <=> col("__cdf_rown"), "full_outer")
        .select(coalesce(col("__cdf_rowp"), col("__cdf_rown")).as("__cdf_row"),
          (coalesce(col("__cdf_npost"), lit(0L)) -
            coalesce(col("__cdf_npre"), lit(0L))).as("__cdf_d"))
        .filter(col("__cdf_d") =!= 0)
      joined
        .withColumn("__cdf_rep", explode(array_repeat(lit(1), abs(col("__cdf_d")).cast("int"))))
        .select(cols.map(c => col("__cdf_row")(c).as(c)) :+
          when(col("__cdf_d") > 0, "insert").otherwise("delete").as(ct): _*)
    }
  }

  /** Drop snapshot history, keeping the last `keepLast` generations
    * readable: deletes the expired manifests, then every file an
    * expired manifest names and no retained manifest does ([[expiry]];
    * from manifests alone, no listing). The manifests go first, so a
    * crash in between leaves only unnamed files, which [[repair]]
    * deletes. Current data is never touched; with keepLast=1 the table
    * keeps only its latest committed state. */
  def vacuum(name: String, keepLast: Int = 1): Unit = withCommitLock(name) {
    require(keepLast >= 1, "vacuum: keepLast must be >= 1")
    val (expired, dead, live) = expiry(name, keepLast)
    if (expired.isEmpty) return
    expired.foreach(g => fs.delete(manifestPath(name, g), false))
    deleteFiles(name, dead.keys)
    // trim stats entries whose files no retained snapshot (the newest
    // included) references anymore — the sidecar's retention tracks
    // the snapshots' (see analyze), so vacuum bounds its growth too
    FileStats.read(fs, statsPath(name)).foreach { st =>
      val keptStats = st.filter { case (f, _) => live.contains(f) }
      if (keptStats.size != st.size)
        FileStats.write(fs, statsPath(name), keptStats)
    }
    audit(s"vacuum $name: dropped generations <= ${expired.last}")
  }

  /** What `vacuum(name, keepLast)` drops: the expired generations, each
    * file named by an expired manifest and by no retained one — mapped
    * to the generation whose manifest stopped naming it — and the files
    * the retained manifests name. */
  private def expiry(name: String, keepLast: Int): (Seq[Int], Map[String, Int], Set[String]) = {
    val gens = manifestGens(name)
    if (gens.size <= keepLast) return (Nil, Map.empty, Set.empty)
    val sets = gens.map(g => g -> readManifest(name, g)._2.toSet)
    val (expired, kept) = sets.splitAt(gens.size - keepLast)
    val live = kept.flatMap(_._2).toSet
    val named = expired.flatMap(_._2).toSet -- live
    val stoppedAt = sets.zip(sets.tail).flatMap { case ((_, prev), (g, cur)) =>
      (prev -- cur).filter(named).map(_ -> g) }.toMap
    (expired.map(_._1), stoppedAt, live)
  }

  /** C40: vacuum DRY-RUN — exactly what `vacuum(name, keepLast)` would
    * free, without freeing it: per generation whose manifest stopped
    * naming them, the count and bytes of the files vacuum deletes.
    * Shares [[vacuum]]'s [[expiry]] verbatim, so the report can never
    * promise a different cut than the real run takes — the
    * retention-decision input a data owner reads next to [[history]]
    * before destroying time travel. Metadata-only: the manifests plus
    * one status per file to free. */
  def vacuumDryRun(name: String, keepLast: Int = 1): DataFrame = {
    require(keepLast >= 1, "vacuumDryRun: keepLast must be >= 1")
    import spark.implicits._
    val rows = expiry(name, keepLast)._2.groupBy(_._2).toSeq.sortBy(_._1).map { case (g, files) =>
      (g, files.size.toLong, files.keys.toSeq.map(r => fileStatus(dataFile(name, r)).getLen).sum)
    }
    rows.toDF("gen", "n_files", "bytes")
  }

  /** C35: pruning report — how many data files each skip layer leaves
    * for a `where`, WITHOUT reading any data (driver-side metadata
    * only, the same [[prune]] real reads take): total → after PK-hash
    * bucket cut (C20b) → after zone-map/Bloom cut (C20/C27). The
    * operational "will this point read be fast, and which layer is
    * doing the work" probe; a report showing no cut says to analyze,
    * rebucket or recluster BEFORE burning a cluster-wide scan. */
  def explainPruning(name: String, where: String): Map[String, Long] = {
    val g = generation(name)
    val (buckets, stats) = prune(name, g, where).getOrElse((g.rels, g.rels))
    Map("total_files" -> g.rels.length.toLong,
      "after_bucket_prune" -> buckets.length.toLong,
      "after_stats_prune" -> stats.length.toLong)
  }

  /** Bucket ids a predicate can possibly hit: requires a bucketed table
    * whose EVERY PK column is pinned by a top-level equality or IN
    * conjunct. Hashes each candidate key tuple with the same
    * Murmur3-pmod the writer uses (literal evaluation, no Spark job);
    * None = cannot prune. Candidate tuples are capped so a huge IN list
    * degrades to a full scan instead of a driver loop. */
  private def allowedBuckets(
      m: Meta,
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      types: Map[String, org.apache.spark.sql.types.DataType]): Option[Set[Long]] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    if (m.buckets <= 0 || m.primaryKey.isEmpty) return None
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // values a (sub-)predicate pins a column to: equality, IN, or an
    // OR of such pins ON THE SAME COLUMN (`k = 1 OR k = 2` unions)
    def pinned(e: Expression): Option[(String, Set[Any])] = e match {
      case EqualTo(a, v) if nameOf(a).isDefined && v.foldable =>
        Option(v.eval(null)).map(value => nameOf(a).get -> Set[Any](value))
      case EqualTo(v, a) if nameOf(a).isDefined && v.foldable =>
        Option(v.eval(null)).map(value => nameOf(a).get -> Set[Any](value))
      case In(a, list) if nameOf(a).isDefined && list.forall(_.foldable) =>
        Some(nameOf(a).get -> list.flatMap(l => Option(l.eval(null))).toSet)
      case Or(l, r) =>
        (pinned(l), pinned(r)) match {
          case (Some((nl, sl)), Some((nr, sr))) if nl == nr => Some(nl -> (sl ++ sr))
          case _ => None
        }
      case _ => None
    }
    // per pk column: the candidate-value set pinned by conjuncts
    val sets = scala.collection.mutable.Map.empty[String, Set[Any]]
    conjuncts(pred).foreach { c =>
      pinned(c).foreach { case (n, s) =>
        sets(n) = sets.get(n).map(_.intersect(s)).getOrElse(s)
      }
    }
    if (!m.primaryKey.forall(sets.contains)) return None
    val perCol = m.primaryKey.map(c => sets(c).toSeq)
    if (perCol.map(_.size.toLong).product > 1024) return None // degenerate IN lists
    def tuples(cols: Seq[Seq[Any]]): Seq[Seq[Any]] = cols match {
      case Seq() => Seq(Seq.empty)
      case head +: tail => for (v <- head; rest <- tuples(tail)) yield v +: rest
    }
    // Pinned values arrive as Catalyst INTERNAL types (Int days for DATE,
    // Long micros for TIMESTAMP, UTF8String …) because they come from
    // evaluating resolved literals — so build Literals with the internal
    // constructor, NOT Literal.create (whose converters accept only
    // external java.sql/java.time values and throw for date/timestamp).
    // Pruning is advisory: ANY failure degrades to a full scan (None).
    scala.util.Try {
      tuples(perCol).map { tup =>
        val lits = m.primaryKey.zip(tup).map { case (c, v) =>
          Literal(v, types(c)): Expression
        }
        // 42 = functions.hash's seed — the same Murmur3Hash instance
        // [[bucketExpr]]'s pmod(hash(pk), n) evaluates (r16)
        val h = Murmur3Hash(lits, 42).eval(null).asInstanceOf[Int]
        math.floorMod(h.toLong, m.buckets.toLong)
      }.toSet
    }.toOption
  }

  /** Write `df` in place under data/ — bucketed tables into their
    * `__bucket=<id>` dirs, each file name embedding its bucket id
    * (Spark's `_00003` convention: FileSourceScanExec groups a bucketed
    * scan's files by the id parsed from the NAME, which is what lets
    * [[prunedMutation]] claim the layout as a Catalyst HashPartitioning)
    * — and commit `keep` plus the written files as the next generation.
    * Nothing is staged or moved: until the manifest lands, no reader
    * sees the new files, and a failed commit deletes them. */
  private def writeAndCommit(name: String, m: Meta, df: DataFrame, keep: Seq[String]): Unit = {
    // an auto-analyzed table's stats ride the write job (C45)
    val tracker = autoAnalyzeCols(name, m).map { case (cols, bloomBits) =>
      statsTracker(m, df.schema, cols, bloomBits, DefaultBloomHashes) }
    val dir = dataPath(name)
    val written = org.apache.spark.sql.graftx.bridge.writeParquet(
      if (m.buckets > 0) df.withColumn(BucketCol, bucketExpr(m)) else df,
      dir.toString, Some(BucketCol).filter(_ => m.buckets > 0), tracker.toSeq)
    val fresh = tracker.fold(Map.empty[String, FileStats.FileStat])(_.files.map {
      case (path, st) => FileStats.relativeKey(dir, new Path(path)) -> st })
    commitSnapshot(name, nextGen(name), keep ++ written, written, fresh)
  }

  /** A fresh LISTING of data/ as relative keys — [[repair]]'s input.
    * Nothing else lists data/: the newest manifest is the table. */
  private def listDataFiles(name: String): Seq[String] = {
    val dir = dataPath(name)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(dir)) {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) out += FileStats.relativeKey(dir, p)
      }
    }
    out.toSeq
  }

  /** Delete table `name`'s data files `rels` and forget their cached
    * statuses and footers. */
  private def deleteFiles(name: String, rels: Iterable[String]): Unit = rels.foreach { rel =>
    val p = dataFile(name, rel)
    fs.delete(p, false)
    statusCache.remove(p.toString)
    fileSchemaCache.remove(p.toString)
  }

  private def dataFile(name: String, rel: String): Path =
    fs.makeQualified(new Path(dataPath(name), rel))

  // ── merged-schema cache (r15 optimization, guide §1.2/§6) ──────────────
  //
  // Every raw scan used to go through `spark.read.option("mergeSchema",
  // "true")`, and Spark's mergeSchema path launches a DISTRIBUTED footer
  // job per read (SchemaMergeUtils.mergeSchemasInParallel) — measured at
  // 16-23 jobs (~0.5-1 s plus driver gaps) per summary-lifecycle bench
  // entry. Files are immutable, never move, and rel paths are never
  // reused (part-names embed the write's job UUID), so per-file statuses
  // and footer schemas are cacheable by path until the file is deleted:
  // vacuum and repair forget exactly the files they delete. A
  // generation's merged schema is a function of its FILE SET alone, so
  // the one merged-schema cache holds, per table, the last set read
  // (digest of every rel) with its schema: current reads hit it, a new
  // commit's set or a snapshot read of another generation replaces it
  // (re-merged from the per-file footer cache), and a re-created table
  // — whose part-file names carry fresh job UUIDs — can never hit a
  // stale entry. A false miss only recomputes. Scans pass the merged schema
  // EXPLICITLY: Spark skips footer I/O at planning, missing columns
  // null-fill exactly as under mergeSchema, and a pruned SUBSET read
  // under the whole set's schema equals mergeSchema over the subset
  // followed by [[alignTo]] (columns only other files carry read as
  // null either way; shared columns must agree or the whole-set merge
  // would have thrown). Incompatible footers still throw the same
  // failed-to-merge error, now driver-side.
  private val statusCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileStatus]()
  private val fileSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  private def fileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
    statusCache.computeIfAbsent(p.toString, _ => fs.getFileStatus(p))

  private def footerSchema(p: Path): StructType =
    fileSchemaCache.computeIfAbsent(p.toString, _ =>
      org.apache.spark.sql.graftx.bridge.parquetFooterSchema(
        spark, spark.sparkContext.hadoopConfiguration, fileStatus(p)))

  /** Merged footer schema of the file set `rels` of table `name`. */
  private def mergedSchema(name: String, rels: Seq[String]): StructType = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rels.foreach(r => md.update((r + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val digest = java.util.Base64.getEncoder.encodeToString(md.digest())
    Option(schemaCache.get(dataLocation(name))).filter(_._1 == digest).map(_._2).getOrElse {
      val s = mergedSchemaOf(rels.map(dataFile(name, _)))
      schemaCache.put(dataLocation(name), (digest, s))
      s
    }
  }

  private def mergedSchemaOf(paths: Seq[Path]): StructType = {
    // r16 (VERDICT r15 #3): the cold-miss path was O(#files) SERIAL
    // driver footer reads — the distributed job the r15 cache replaced
    // was distributed for a reason. Unseen footers now load through a
    // bounded I/O pool (footer reads are independent metadata I/O; the
    // cache is a ConcurrentHashMap), so the first open of a many-file
    // table parallelizes instead of serializing on the driver. The
    // merge reduce itself stays driver-side — it is pure in-memory
    // StructType algebra, microseconds per file.
    val missing = paths.filterNot(p => fileSchemaCache.containsKey(p.toString))
    if (missing.size >= 8) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(32, missing.size))
      try {
        missing.map(p => pool.submit(new java.util.concurrent.Callable[StructType] {
          def call(): StructType = footerSchema(p)
        })).foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally { pool.shutdown(); () }
    }
    paths.map(footerSchema).reduceLeft((a, b) =>
      org.apache.spark.sql.graftx.bridge.mergeSchemas(spark, a, b))
  }

  /** Projection / where / order / limit read surface (reference
    * read.table, core/read.py:23). PK columns are always included, like
    * the reference returns them as the dataframe index. The where string
    * is parsed into a Catalyst predicate (→ parquet pushdown), and the
    * projection prunes the scan's ReadSchema.
    *
    * `asOf` pins the read to a committed snapshot generation (C23):
    * projection/filter/order compose over the table as it WAS, with
    * validation against the snapshot's schema AND the snapshot's
    * primary key (a later setPrimaryKey must not change what a snapshot
    * projection returns). A current read is the same code path as a
    * snapshot read of the newest generation: one [[prune]] over the
    * manifest's file set — bucket dirs by the generation's PK hash,
    * files by the stats sidecar (entries are keyed by never-reused
    * relative paths over immutable files, so they stay valid for
    * replaced files) — then one [[scan]] of the survivors. */
  def readTable(
      name: String,
      columns: Seq[String] = Seq.empty,
      where: Option[String] = None,
      limit: Option[Int] = None,
      orderBy: Seq[String] = Seq.empty,
      orderDesc: Boolean = false,
      asOf: Option[Int] = None): DataFrame = {
    val g = generation(name, asOf)
    val m = g.meta
    // a where-d read consults file statistics (if analyzed) to skip
    // whole files before the scan is built
    var df = alignTo(scan(name, g, where.flatMap(prune(name, g, _)).fold(g.rels)(_._2)), m)
    where.foreach(w => df = df.filter(Filters.parseWhere(df, w, dtoColsOf(m))))
    val avail = df.columns.toSeq // snapshot schema when asOf is set
    if (columns.nonEmpty) {
      val missing = columns.filterNot(avail.contains)
      if (missing.nonEmpty) throw errors.ColumnDoesNotExist(name, missing)
      val proj = (m.primaryKey.filter(avail.contains) ++ columns.filterNot(m.primaryKey.contains))
      df = df.select(proj.map(c => col(Identifiers.quote(c))): _*)
    }
    if (orderBy.nonEmpty) {
      val missing = orderBy.filterNot(avail.contains)
      if (missing.nonEmpty) throw errors.ColumnDoesNotExist(name, missing)
      // datetimeoffset columns sort by INSTANT (the type's SQL
      // comparison semantics), not by the wall-clock string render
      val dtos = dtoColsOf(m)
      val ord = orderBy.map { c =>
        val key = if (dtos.contains(c))
          SqlType.dtoInstantMicros(col(Identifiers.quote(c)))
        else col(Identifiers.quote(c))
        if (orderDesc) key.desc else key
      }
      df = df.orderBy(ord: _*)
    }
    limit.foreach(n => df = df.limit(n))
    df
  }

  // ── write ───────────────────────────────────────────────────────────────

  /** Append `df` (reference write.insert, insert.py:38) with the
    * reference's auto-adjust ladder on mismatch
    * (core/write/_exceptions.py:11-50):
    *   table missing        → create from dataframe      (autoAdjust)
    *   column missing       → add column, inferred type  (autoAdjust)
    *   value out of bounds  → widen column type          (autoAdjust)
    * otherwise the corresponding GraftException is raised.
    * Bounds validation is ONE aggregate over the incoming batch. */
  def insert(
      name: String,
      df0: DataFrame,
      autoAdjust: Boolean = false,
      timeInsert: Option[Column] = None): Unit = withCommitLock(name) {
    if (!exists(name)) {
      if (autoAdjust) {
        audit(s"auto-adjust: creating missing table $name from insert batch")
        // create EMPTY from the batch's inferred schema, then fall
        // through to the normal insert path below — delegating to
        // createTableFromDataFrame would run its plain insert and
        // silently drop this call's timeInsert from the creating batch
        createTable(name, Infer.narrowSchema(df0).map { case (n, t) => n -> t.render })
      } else throw errors.TableDoesNotExist(name)
    }
    var m = meta(name)

    // TIME / DATETIMEOFFSET ingest: timestamps inserted into TIME
    // columns store their time-of-day; into DATETIMEOFFSET columns they
    // localize as UTC +00:00 (the reference's naive-means-UTC rule,
    // conversion.py:528) — see alignTo for the mutation-path twin
    val (df, canonicalized) = {
      import org.apache.spark.sql.types.TimestampNTZType
      def tsCols(tn: String) = m.columns.collect { case (n, t) if t.name == tn &&
        df0.schema.fields.exists(f => f.name == n &&
          (f.dataType == TimestampType || f.dataType == TimestampNTZType)) => n }
      val d1 = tsCols("time").foldLeft(df0)((d, n) =>
        d.withColumn(n, SqlType.timeFromTimestamp(col(Identifiers.quote(n)))))
      val dtoConv = tsCols("datetimeoffset")
      val d2 = dtoConv.foldLeft(d1)((d, n) =>
        d.withColumn(n, SqlType.dtoFromTimestamp(
          col(Identifiers.quote(n)).cast(TimestampType), lit(0L))))
      // dtoFromTimestamp output is canonical by construction (pattern-
      // conforming render, offset +00:00 ≤ 14 h), so the dto bounds
      // check over these columns is provably redundant — and pricey:
      // the per-row rlike + offset parse would re-evaluate the
      // conversion expression inside the validation filter (r15: dto
      // insert entries regressed 1.5-2× before this skip)
      (d2, dtoConv.toSet)
    }

    // columns present in df but not in the table
    val extra = df.columns.filterNot(c => m.columns.exists(_._1 == c)).toSeq
    if (extra.nonEmpty) {
      if (!autoAdjust) throw errors.ColumnDoesNotExist(name, extra)
      val inferred = Infer.narrowSchema(df.select(extra.map(c => col(Identifiers.quote(c))): _*))
      inferred.foreach { case (n, t) =>
        audit(s"auto-adjust: adding missing column $name.$n ${t.render}")
        addColumn(name, n, t.render)
      }
      m = meta(name)
    }

    // NOT NULL columns must be present in the batch (a missing column
    // would be null-filled on read, like omitting it in an INSERT)
    val nnMissing = m.notNull.filterNot(df.columns.contains)
    if (nnMissing.nonEmpty)
      throw errors.InvalidValue(nnMissing.head, "NOT NULL column absent from insert batch")

    if (timeInsert.isDefined && !m.columns.exists(_._1 == Mutations.TimeInsert)) {
      addColumn(name, Mutations.TimeInsert, "datetime2")
      m = meta(name)
    }

    // r15 (guide §1.2, one pass instead of two): bounds / NOT NULL /
    // unicode validation rides the append's OWN write as a per-row
    // assert (withSourceValidation) instead of a separate aggregate job
    // over the batch. The auto-widen ladder keeps its aggregate — but
    // only on the RARE path where a bounds violation actually fired:
    // the catch below re-runs typeViolations to learn the violated
    // column set, widens, and retries the write under the new meta (a
    // failed write job deletes its own files, so a failed attempt
    // leaves nothing behind).
    def writeBatch(m: Meta): Unit = {
      // CHECK constraints on the (possibly widened) batch — absent
      // columns read as null → UNKNOWN → pass, so only fully-present
      // constraints apply on an insert (SQL CHECK semantics)
      enforceChecks(m, df, "insert", deferrable = false)

      val vdf = withSourceValidation(m, df, skipBounds = canonicalized)
      var df2 = vdf
      if (m.sqlPk && !df.columns.contains("_pk")) {
        // Single-writer semantics (like the reference's IDENTITY through one
        // connection): max(_pk) read-then-append is not safe under concurrent
        // inserts to the same table.
        val maxPk = read(name).agg(coalesce(max(col("_pk")), lit(0L))).collect()(0).getLong(0)
        df2 = TableStore.assignDenseIds(vdf, maxPk)
      }

      val g = generation(name)
      val appended = Mutations.insertAll(readGen(name, g).limit(0), df2, timeInsert)
      // the batch's files land in data/ under fresh job-UUID names; the
      // writer KNOWS its exact file list, so the manifest is derived as
      // previous-manifest + batch (O(batch)), never by re-listing the
      // table (O(#files)) — appends remove nothing
      writeAndCommit(name, m, appended, g.rels)
    }

    try writeBatch(m)
    catch {
      case e: Throwable => validationMarkerOf(e) match {
        case Some((kind, _, _)) if (kind == "size" || kind == "range") && autoAdjust =>
          // the aggregate ladder, exactly as before r15 — now only on
          // the path where a violation actually exists
          val violated = typeViolations(m, df)
          if (violated.isEmpty) throw e // marker without violation: re-raise
          val byName = df.select(violated.map(c => col(Identifiers.quote(c))): _*)
          val widened = Infer.narrowSchema(byName)
          widened.foreach { case (n, t) =>
            val cur = m.columns.find(_._1 == n).get._2
            audit(s"auto-adjust: widening $name.$n ${cur.render} -> ${widen(cur, t).render}")
            alterColumn(name, n, widen(cur, t).render)
          }
          writeBatch(meta(name))
        case Some(marker) => throw validationError(marker)
        case None => throw e
      }
    }
  }

  /** Recovery after a writer CRASHED mid-commit (the lock it left
    * behind names it): ROLL BACK to the newest committed generation.
    * The manifest rename is the only commit point, so everything a
    * crashed writer did before it is undone here: every parquet file in
    * data/ that no retained manifest names is deleted (readers never
    * saw it — they plan from the manifests), and a meta.json written
    * ahead of a commit that never landed returns to the newest
    * manifest's schema. Commits nothing new; the one path that lists
    * data/. */
  def repair(name: String): Unit = withCommitLock(name) {
    if (!exists(name)) throw errors.TableDoesNotExist(name)
    val gens = manifestGens(name)
    val named = gens.flatMap(readManifest(name, _)._2).toSet
    val orphans = listDataFiles(name).filterNot(named)
    deleteFiles(name, orphans)
    gens.lastOption.map(readManifest(name, _)._1).filter(_ != meta(name))
      .foreach(writeMeta(name, _))
    audit(s"repair $name: deleted ${orphans.size} uncommitted files")
  }

  /** One-pass validation of a batch against the table's declared types:
    * ONE aggregate over the batch computes every per-column bounds count
    * plus NOT NULL counts. Throws InvalidValue on NULLs in NOT NULL
    * columns; returns the columns whose values exceed their type bounds
    * (callers either raise or auto-widen). Shared by insert and the
    * keyed mutations so oversize varchars / out-of-range numerics
    * surface as the reference's typed errors everywhere
    * (core/write/_exceptions.py). */
  private def typeViolations(m: Meta, df: DataFrame): Seq[String] = {
    val checks = m.columns.flatMap { case (n, t) =>
      if (df.columns.contains(n))
        t.violation(col(Identifiers.quote(n))).map(v => sum(when(v, 1).otherwise(0)).as(n))
      else None
    }
    val nullChecks = m.notNull.filter(df.columns.contains).map(n =>
      sum(when(col(Identifiers.quote(n)).isNull, 1).otherwise(0)).as(s"__nn_$n"))
    val uniChecks = m.columns.flatMap { case (n, t) =>
      if (df.columns.contains(n))
        t.unicodeViolation(col(Identifiers.quote(n)))
          .map(v => sum(when(v, 1).otherwise(0)).as(s"__uni_$n"))
      else None
    }
    val allChecks = checks ++ nullChecks ++ uniChecks
    if (allChecks.isEmpty) return Nil
    val row = df.agg(allChecks.head, allChecks.tail: _*).collect()(0)
    m.notNull.find(n => row.schema.fieldNames.contains(s"__nn_$n") &&
        row.getAs[Long](s"__nn_$n") > 0)
      .foreach(n => throw errors.InvalidValue(n, "NULL values in NOT NULL column"))
    // unicode into char/varchar is never auto-adjusted, matching the
    // reference (check_unicode raises with no _exceptions handler)
    m.columns.map(_._1).find(n => row.schema.fieldNames.contains(s"__uni_$n") &&
        row.getAs[Long](s"__uni_$n") > 0)
      .foreach(n => throw errors.NonUnicodeTypeColumn(n))
    m.columns.map(_._1).filter(n =>
      row.schema.fieldNames.contains(n) && row.getAs[Long](n) > 0)
  }

  private[graft] val ValidateMarker = "__graft_validate"

  /** In-plan source validation (r15 optimization, guide §1.2 "don't
    * compute things twice"): the same checks [[typeViolations]]
    * counts, folded into the mutation's OWN source scan as a per-row
    * task-side assert — the separate validation aggregate used to cost
    * one full source pass + one Spark job PER mutation (measured 11-18
    * jobs, 0.7-2 s, per summary-lifecycle bench entry; at 100 TB it is
    * a full extra pass over every mutation batch). Same
    * guard-rides-the-plan pattern as [[Mutations]]' dup-key guard,
    * translated to the same typed errors by [[translatingDupKeys]].
    *
    * Within a row the error priority matches the aggregate path
    * (NOT NULL > unicode > bounds, each in column order). Across ROWS
    * the first violating task wins, so a source carrying violations of
    * several kinds in DIFFERENT rows may surface a different — still
    * correct — typed error than the aggregate path's fixed priority;
    * single-kind sources (every pinned spec) are unchanged. `exempt`
    * rows (applyChanges delete verdicts, which legitimately carry only
    * a key) skip validation, as they did under the eager path's
    * pre-filter. `skipBounds` columns skip the bounds check only
    * (insert's own canonical dto conversion cannot violate it). `keep`
    * columns pass through unwrapped, so a source partitioned by them
    * stays partitioned (a summary fold's output, by its keys); the
    * caller keeps them only when another wrapped column is read for
    * every row, which then carries their checks. */
  private def withSourceValidation(
      m: Meta, source: DataFrame, exempt: Option[Column] = None,
      skipBounds: Set[String] = Set.empty, keep: Set[String] = Set.empty): DataFrame = {
    val fields = source.columns.toSet
    val checks: Seq[(Column, String)] =
      m.notNull.filter(fields.contains).map { n =>
        (col(Identifiers.quote(n)).isNull,
          s"$ValidateMarker:nn::$n:;")
      } ++
      m.columns.flatMap { case (n, t) =>
        if (!fields(n)) None
        else t.unicodeViolation(col(Identifiers.quote(n)))
          .map(v => (v, s"$ValidateMarker:uni:${t.render}:$n:;"))
      } ++
      m.columns.flatMap { case (n, t) =>
        if (!fields(n) || skipBounds(n)) None
        else t.violation(col(Identifiers.quote(n))).map { v =>
          val kind = if (t.maxLength.isDefined) "size" else "range"
          (v, s"$ValidateMarker:$kind:${t.render}:$n:;")
        }
      }
    if (checks.isEmpty) return source
    val anyViolation = checks.map { case (c, _) => coalesce(c, lit(false)) }.reduce(_ || _)
    val marker = checks.foldRight(lit("")) { case ((c, msg), acc) =>
      when(coalesce(c, lit(false)), lit(msg)).otherwise(acc)
    }
    val ok0 = exempt match {
      case Some(del) => del || !anyViolation
      case None => !anyViolation
    }
    // The guard rides a PROJECTION over every source column (the
    // Mutations.rideGuard idiom), NOT a Filter: a filter evaluating
    // these checks measured 6× slower than the identical expressions
    // in a project (the project gets whole-stage codegen CSE across
    // its output columns; the filter's predicate re-evaluates the
    // substituted source expressions — the dto insert went 1.26 s →
    // 3.2 s under a filter and back to ~0.7 s as a projection).
    // Wrapping every column but `keep` keeps the assert alive under
    // any downstream column pruning (delete prunes to the match keys);
    // CSE evaluates the shared guard once per row. The
    // monotonically_increasing_id anchor — never negative, so it can
    // never change the verdict — makes the guard nondeterministic so
    // no later filter is pushed through and re-evaluates it.
    val ok = ok0 || (monotonically_increasing_id() < 0L)
    val guard = assert_true(ok, marker)
    source.select(source.columns.map { c =>
      val q = col(Identifiers.quote(c))
      if (keep(c)) q else coalesce(guard.cast(source.schema(c).dataType), q).as(c)
    }.toIndexedSeq: _*)
  }

  /** Smallest type covering both current and incoming (widening only). */
  private def widen(cur: SqlType, incoming: SqlType): SqlType = {
    import org.apache.spark.sql.types._
    (cur.spark, incoming.spark) match {
      case (_: DecimalType, _) | (_, _: DecimalType) =>
        val curScale = cur.spark match { case d: DecimalType => d.scale; case _ => 2 }
        SqlType.parse(s"decimal(18,$curScale)")
      case (a, b) if a == b && cur.maxLength.isDefined =>
        // string/binary length: take incoming length (inference maxes it)
        incoming
      case _ =>
        val order = Seq("tinyint", "smallint", "int", "bigint", "float")
        val i = math.max(order.indexOf(cur.name), order.indexOf(incoming.name))
        if (i >= 0) SqlType.parse(order(i)) else incoming
    }
  }

  /** Keyed update (reference write.update, update.py:14). Bucketed
    * tables rewrite only the buckets the source keys hash into. */
  def update(
      name: String,
      source: DataFrame,
      matchCols: Seq[String] = Seq.empty,
      timeUpdate: Option[Column] = None): Unit = withCommitLock(name) {
    val m = meta(name)
    val keys = resolveKeys(name, m, matchCols)
    val src0 = withSourceValidation(m, source)
    val partial = enforceChecks(m, source, "source", deferrable = true)
    translatingDupKeys(name, keys) {
      prunedMutation(name, m, src0, keys, timeUpdate.isDefined) { (target, src) =>
        val r = Mutations.update(target, src, keys, timeUpdate)
        validatePartialChecks(m, r, partial); r
      }
    }
  }

  /** Keyed upsert (reference merge(upsert=True), merge.py:46). */
  def upsert(
      name: String,
      source: DataFrame,
      matchCols: Seq[String] = Seq.empty,
      timeInsert: Option[Column] = None,
      timeUpdate: Option[Column] = None): Unit = withCommitLock(name) {
    val m = meta(name)
    val keys = resolveKeys(name, m, matchCols)
    val src0 = withSourceValidation(m, source)
    val partial = enforceChecks(m, source, "source", deferrable = true)
    translatingDupKeys(name, keys) {
      prunedMutation(name, m, src0, keys, timeInsert.isDefined || timeUpdate.isDefined) {
        (target, src) =>
          val r = Mutations.upsert(target, src, keys, timeInsert, timeUpdate)
          validatePartialChecks(m, r, partial); r
      }
    }
  }

  /** CDC-apply in ONE commit (see [[Mutations.applyChanges]]): source
    * rows flagged true by boolean column `deleteCol` delete their key,
    * the rest upsert. This is the atomic primitive incremental view
    * maintenance needs — upsert-live then delete-dead as two commits
    * leaves dead groups visible (with stale values) to a reader that
    * lands between them, and permanently if the process dies there.
    * Keyed on both halves, so bucketed tables rewrite only the buckets
    * the source keys hash into. Check constraints are enforced on the
    * live (non-delete) rows only — a delete row carries just a key. */
  def applyChanges(
      name: String,
      source: DataFrame,
      deleteCol: String,
      matchCols: Seq[String] = Seq.empty,
      timeInsert: Option[Column] = None,
      timeUpdate: Option[Column] = None): Unit = withCommitLock(name) {
    val m = meta(name)
    val keys = resolveKeys(name, m, matchCols)
    if (!source.columns.contains(deleteCol))
      throw errors.DataFrameColumnDoesNotExist(Seq(s"source.$deleteCol"))
    val isDelete = coalesce(col(Identifiers.quote(deleteCol)).cast("boolean"), lit(false))
    // delete verdicts carry just a key — they are exempt from source
    // validation, as under the eager path's pre-filter. The mutation
    // reads every row's verdict, so the guard rides `deleteCol` and the
    // keys pass through: a source partitioned by them (a summary fold)
    // needs no exchange before the dup-key guard.
    val src0 = withSourceValidation(m, source, exempt = Some(isDelete),
      keep = keys.toSet - deleteCol)
    val partial =
      enforceChecks(m, source.filter(!isDelete).drop(deleteCol), "source", deferrable = true)
    translatingDupKeys(name, keys) {
      prunedMutation(name, m, src0, keys, timeInsert.isDefined || timeUpdate.isDefined) {
        (target, src) =>
          val r = Mutations.applyChanges(target, src, keys, deleteCol, timeInsert, timeUpdate)
          validatePartialChecks(m, r, partial); r
      }
    }
  }

  /** Keyed delete (the CDC-apply primitive; see [[Mutations.delete]]).
    * Unlike merge's WHEN-NOT-MATCHED-BY-SOURCE — which can delete rows
    * in ANY bucket and so forces a full rewrite — a keyed delete only
    * touches rows whose keys the source names, so bucketed tables
    * rewrite just the buckets the source keys hash into. */
  def delete(
      name: String,
      source: DataFrame,
      matchCols: Seq[String] = Seq.empty): Unit = withCommitLock(name) {
    val m = meta(name)
    val keys = resolveKeys(name, m, matchCols)
    val src0 = withSourceValidation(m, source)
    translatingDupKeys(name, keys) {
      prunedMutation(name, m, src0, keys, mayAddTimeCols = false) {
        (target, src) => Mutations.delete(target, src, keys)
      }
    }
  }

  /** Full merge (reference write.merge, merge.py:13). Always a full
    * rewrite even when bucketed: WHEN NOT MATCHED BY SOURCE deletes can
    * hit rows in ANY bucket, so no bucket can be skipped. */
  def merge(
      name: String,
      source: DataFrame,
      matchCols: Seq[String] = Seq.empty,
      deleteRequires: Seq[String] = Seq.empty,
      timeInsert: Option[Column] = None,
      timeUpdate: Option[Column] = None): Unit = withCommitLock(name) {
    val m = meta(name)
    val keys = resolveKeys(name, m, matchCols)
    val src0 = withSourceValidation(m, source)
    val partial = enforceChecks(m, source, "source", deferrable = true)
    val merged = Mutations.merge(read(name), src0, keys, upsertOnly = false,
      deleteRequires, timeInsert, timeUpdate)
    translatingDupKeys(name, keys) {
      validatePartialChecks(m, merged, partial)
      rewrite(name, merged, timeInsert.isDefined || timeUpdate.isDefined)
    }
  }

  /** Type-2 SCD history upsert (see [[Mutations.scd2Upsert]]): closes
    * changed current versions at `clock` and inserts their successors.
    * Auto-registers the `_valid_from`/`_valid_to` datetime2 columns on
    * first use (metadata-only — pre-existing rows read as current with
    * null `_valid_from`). Always a full rewrite: an SCD2 table's PK is
    * not the business key (every key holds many versions), so bucket
    * pruning by business key does not apply. */
  def scd2(
      name: String,
      source: DataFrame,
      matchCols: Seq[String] = Seq.empty,
      clock: Column): Unit = withCommitLock(name) {
    var m = meta(name)
    val keys = resolveKeys(name, m, matchCols)
    Seq(Mutations.ValidFrom, Mutations.ValidTo).foreach { c =>
      if (!m.columns.exists(_._1 == c)) { addColumn(name, c, "datetime2"); m = meta(name) }
    }
    val src0 = withSourceValidation(m, source)
    translatingDupKeys(name, keys) {
      rewrite(name, Mutations.scd2Upsert(read(name), src0, keys, clock), mayAddTimeCols = false)
    }
  }

  /** Translate the in-plan duplicate-source-key assert
    * ([[Mutations.DupKeyMsg]], thrown task-side as Spark's
    * USER_RAISED_EXCEPTION) into the named store error — the same
    * failure the reference's multi-match MERGE raises server-side.
    * The NULL-key collision marker ([[Mutations.NullKeyMsg]]) maps to
    * the NOT-NULL violation instead: several null-key source rows are
    * not duplicates (a null key matches nothing), they break the PK
    * non-null contract — same error family as the insert path's. */
  private def translatingDupKeys[T](name: String, keys: Seq[String])(body: => T): T =
    try body catch {
      case e: Throwable =>
        val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20)
          .flatMap(t => Option(t.getMessage)).toSeq
        if (msgs.exists(_.contains(Mutations.NullKeyMsg)))
          throw errors.InvalidValue(keys.mkString(", "),
            "several source rows carry a NULL match key — match-key columns are " +
              "PK columns and must be non-null")
        if (msgs.exists(_.contains(Mutations.DupKeyMsg)))
          throw errors.DuplicateSourceKey(name, keys)
        // in-plan source-validation markers (see withSourceValidation)
        // → the same typed errors the eager aggregate path raised
        validationMarkerOf(e).foreach(m => throw validationError(m))
        throw e
    }

  /** Parse a task-side validation marker
    * (`__graft_validate:<kind>:<render>:<col>:;`) out of a failure's
    * cause chain — the in-plan twin of [[typeViolations]]' result. */
  private def validationMarkerOf(e: Throwable): Option[(String, String, String)] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20)
      .flatMap(t => Option(t.getMessage))
      .collectFirst { case msg if msg.contains(ValidateMarker) &&
          msg.indexOf(":;", msg.indexOf(ValidateMarker)) >= 0 =>
        val body = msg.substring(msg.indexOf(ValidateMarker) + ValidateMarker.length + 1)
        val parts = body.substring(0, body.indexOf(":;")).split(":", 3)
        (parts(0), parts(1), parts(2))
      }

  private def validationError(m: (String, String, String)): Exception = m match {
    case ("nn", _, c) => errors.InvalidValue(c, "NULL values in NOT NULL column")
    case ("uni", _, c) => errors.NonUnicodeTypeColumn(c)
    case ("size", r, c) => errors.InsufficientColumnSize(c, s"values exceed $r")
    case ("range", r, c) => errors.InvalidValue(c, s"values out of range for $r")
    case (k, r, c) => new IllegalStateException(
      s"unrecognized validation marker kind '$k' ($r, $c)")
  }

  private def resolveKeys(name: String, m: Meta, matchCols: Seq[String]): Seq[String] =
    if (matchCols.nonEmpty) matchCols
    else if (m.primaryKey.nonEmpty) m.primaryKey
    else throw errors.UndefinedPrimaryKey(name)

  /** Delete-free keyed mutation (update/upsert): on a bucketed table
    * whose bucket key == the match key, only the buckets the source
    * keys hash into are read and rewritten — the 100 TB path where a
    * merge of a 1 GB source against a 100 TB table moves ~1/buckets of
    * the table, not all of it. Falls back to a full rewrite when the
    * layout can't prune (unbucketed, or matching on non-PK columns). */
  private def prunedMutation(
      name: String,
      m: Meta,
      source: DataFrame,
      keys: Seq[String],
      mayAddTimeCols: Boolean)(algebra: (DataFrame, DataFrame) => DataFrame): Unit = {
    val g = generation(name)
    val prunable = m.buckets > 0 && keys.sorted == m.primaryKey.sorted && g.rels.nonEmpty
    if (!prunable) {
      rewrite(name, algebra(readGen(name, g), source), mayAddTimeCols)
      return
    }
    val srcBuckets = TableStore.bucketIds(source.select(bucketExpr(m)), m.buckets)
    // r16 (guide §3.4): the table side of the mutation join reads
    // through a scan that ADVERTISES the PK-hash bucket layout as
    // HashPartitioning(pk, buckets) — the full-outer join then
    // exchanges only the SOURCE side; the table's affected buckets
    // stream straight from parquet with no table-side shuffle, at any
    // scale. The claim is honest because bucketExpr IS Spark's
    // partition-id expression (Murmur3 pmod) and every file's name
    // embeds its bucket id (writeAndCommit). A manifest naming a file
    // without a parseable id (a pre-convention writer's) falls back to
    // the unclaimed scan — correctness never depends on the claim.
    val named = g.rels.forall(r =>
      org.apache.spark.sql.graftx.bridge.hasBucketId(new Path(r).getName))
    val raw = scan(name, g, g.rels, bucketed = named)
      .filter(col(BucketCol).isin(srcBuckets.toIndexedSeq: _*)) // partition-pruned scan
    val affected = alignTo(raw, m)
    val result = algebra(affected, source)
    registerTimeCols(name, result, mayAddTimeCols)
    // the rewritten buckets' files are written in place next to the
    // files the scan reads (it reads a fixed file list, so the new ones
    // never feed it), and the commit swaps EVERY source-touched bucket's
    // files for them: a delete that empties a bucket writes no file
    // there, but its old files must still leave the file set. The
    // replaced files stay on disk for snapshot readers until a vacuum;
    // their stats entries stay in the sidecar (keyed by never-reused
    // rel paths, they keep pruning SNAPSHOT reads), and the new files
    // aren't pruned until the next analyze.
    val touched = srcBuckets.map(b => s"$BucketCol=$b").toSet
    writeAndCommit(name, meta(name), result,
      g.rels.filterNot(r => touched(r.takeWhile(_ != '/'))))
  }

  private def registerTimeCols(name: String, result: DataFrame, mayAddTimeCols: Boolean): Unit = {
    if (mayAddTimeCols) {
      var m = meta(name)
      Seq(Mutations.TimeInsert, Mutations.TimeUpdate).foreach { c =>
        if (result.columns.contains(c) && !m.columns.exists(_._1 == c)) {
          m = m.copy(columns = m.columns :+ (c -> SqlType.parse("datetime2")))
          writeMeta(name, m)
        }
      }
    }
  }

  /** Materialize a mutation result and swap it in atomically. Also
    * registers metadata-timestamp columns the mutation introduced. */
  private def rewrite(name: String, result: DataFrame, mayAddTimeCols: Boolean): Unit = {
    registerTimeCols(name, result, mayAddTimeCols)
    overwriteData(name, result)
  }

  /** C31: change a table's PK-hash bucket count online (0 = flat).
    * The bucket count chosen at create is a capacity decision, not
    * forever: a table that grew 100× wants more buckets so keyed
    * mutations keep touching a small fraction of files. One rewrite
    * under the NEW layout (committed like every rewrite), committed as
    * a generation — and because manifests pin
    * the FULL meta, snapshot reads of older generations keep pruning
    * under the layout they were written with. Meta is written first and
    * rolled back if the rewrite fails — and after a crash [[repair]]
    * returns it to the newest manifest's — so the new meta never
    * describes old-layout files (readers would mis-prune). */
  def rebucket(name: String, buckets: Int): Unit = withCommitLock(name) {
    val m = meta(name)
    if (buckets < 0)
      throw errors.InvalidValue("buckets", s"negative bucket count: $buckets")
    if (buckets == m.buckets)
      throw errors.RecastColumnUnchanged("buckets", s"table $name already has $buckets buckets")
    if (buckets > 0 && m.primaryKey.isEmpty) throw errors.UndefinedPrimaryKey(name)
    val df = read(name)
    writeMeta(name, m.copy(buckets = buckets))
    try overwriteData(name, df)
    catch { case e: Throwable => writeMeta(name, m); throw e }
    audit(s"rebucket $name: ${m.buckets} -> $buckets buckets")
  }

  /** Replace the whole table with `df`: its files are written in place
    * and the commit names only them. The old files stay on disk for
    * snapshot readers (and their stats entries for snapshot pruning)
    * until a vacuum; new files are unpruned until the next analyze. */
  private def overwriteData(name: String, df: DataFrame): Unit =
    writeAndCommit(name, meta(name), df, Nil)
}
