package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp

import graft.store.TableStore

/** The user-facing entry point, shaped like the reference's `SQLServer`
  * object (mssql_dataframe/package.py:20-118): one session value with
  * `create` / `modify` / `read` / `write` accessors and a session-level
  * `includeMetadataTimestamps` default, so a user of the reference maps
  * their workflow 1:1:
  *
  * {{{
  * val sql = Graft(spark, "/data/warehouse", includeMetadataTimestamps = true)
  * sql.create.table("t", Seq("k" -> "bigint", "v" -> "varchar(10)"), primaryKey = Seq("k"))
  * sql.write.insert("t", df)
  * sql.write.merge("t", changes, upsert = true)
  * val out = sql.read.table("t", columns = Seq("v"), where = Some("k > 5"))
  * }}}
  *
  * The "connection" is a SparkSession + a storage root; the "server
  * clock" the reference reads via GETDATE() is `current_timestamp()`
  * unless a deterministic clock is injected (tests, reproducible runs).
  */
final case class Graft(
    spark: SparkSession,
    root: String,
    includeMetadataTimestamps: Boolean = false,
    clock: () => Column = () => current_timestamp(),
    audit: String => Unit = TableStore.defaultAudit) {

  private val store = new TableStore(spark, root, audit)

  // ── session-scoped temp tables (reference `##` global temp tables,
  // create.py:54 doctests) ────────────────────────────────────────────
  // A name starting with "##" routes to a session-PRIVATE store rooted
  // under the warehouse (one directory per Graft value), participates
  // in every surface — create/read/keyed mutation/snapshots/maintenance
  // — and vanishes on [[close]] (and at JVM exit via a shutdown hook),
  // like the server dropping a connection's temp tables.
  private val sessionId = java.util.UUID.randomUUID().toString.take(8)
  private lazy val tempStore: TableStore = {
    sys.addShutdownHook(dropTempRoot())
    new TableStore(spark, tempRootPath, audit)
  }
  private def tempRootPath = s"$root/.session_$sessionId"
  private def dropTempRoot(): Unit = {
    val p = new org.apache.hadoop.fs.Path(tempRootPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Route a user-facing table name: `##`-prefixed names live in the
    * session store under a `tmp_` physical name (a `#` is not a legal
    * path/identifier character everywhere; the prefix keeps the two
    * namespaces from colliding in [[sql]]'s view registry). */
  private def route(name: String): (TableStore, String) =
    if (name.startsWith("##")) (tempStore, "tmp_" + name.drop(2)) else (store, name)
  private def st(name: String): TableStore = route(name)._1
  private def pn(name: String): String = route(name)._2

  /** Drop every `##` session table and its directory — the reference's
    * connection-close semantics made explicit (a JVM shutdown hook
    * covers the implicit case). Idempotent; the session can keep
    * creating temp tables afterwards (a fresh lazy store re-roots on
    * the same session directory). */
  def close(): Unit = dropTempRoot()

  private def ti: Option[Column] = if (includeMetadataTimestamps) Some(clock()) else None
  private def tu: Option[Column] = if (includeMetadataTimestamps) Some(clock()) else None

  /** Reference `create` namespace (core/create.py). */
  object create {
    def table(
        name: String,
        columns: Seq[(String, String)],
        primaryKey: Seq[String] = Seq.empty,
        buckets: Int = 0,
        sqlPrimaryKey: Boolean = false): Unit =
      st(name).createTable(pn(name), columns, primaryKey, buckets, sqlPrimaryKey)

    def tableFromDataFrame(
        name: String,
        df: DataFrame,
        primaryKey: Seq[String] = Seq.empty,
        infer: Boolean = true): Unit =
      st(name).createTableFromDataFrame(pn(name), df, primaryKey, infer)
  }

  /** Reference `modify` namespace (core/modify.py). */
  object modify {
    def addColumn(name: String, column: String, dataType: String): Unit =
      st(name).addColumn(pn(name), column, dataType)
    def alterColumn(name: String, column: String, dataType: String,
        isNullable: Boolean = true): Unit =
      st(name).alterColumn(pn(name), column, dataType, isNullable)
    def dropColumn(name: String, column: String): Unit =
      st(name).dropColumn(pn(name), column)
    def primaryKey(name: String, columns: Seq[String]): Unit =
      st(name).setPrimaryKey(pn(name), columns)

    /** CHECK constraints (C30) — the remaining server-side constraint
      * class (PK/NOT NULL/types are C5/C4/C14). The predicate uses the
      * `dynamic.where` grammar; existing data is validated on add. */
    def checkConstraint(name: String, constraint: String, expression: String): Unit =
      st(name).addCheckConstraint(pn(name), constraint, expression)
    def dropCheckConstraint(name: String, constraint: String): Unit =
      st(name).dropCheckConstraint(pn(name), constraint)
  }

  /** Reference `read` namespace (core/read.py). */
  object read {
    def table(
        name: String,
        columns: Seq[String] = Seq.empty,
        where: Option[String] = None,
        limit: Option[Int] = None,
        orderBy: Seq[String] = Seq.empty,
        orderDesc: Boolean = false,
        asOf: Option[Int] = None): DataFrame =
      st(name).readTable(pn(name), columns, where, limit, orderBy, orderDesc, asOf)

    /** Snapshot (time-travel) reads — the table as of a committed
      * generation or wall-clock instant; see TableStore's snapshot
      * section. Beyond the reference (a server table has no history),
      * closing the mutation story's concurrent-reader gap. */
    def tableAt(name: String, gen: Int): DataFrame = st(name).readTableAt(pn(name), gen)
    def tableAsOf(name: String, tsMillis: Long): DataFrame = st(name).readTableAsOf(pn(name), tsMillis)
    def snapshots(name: String): Seq[(Int, Long)] = st(name).snapshots(pn(name))

    /** Generation history as a relation (C38) — metadata-only audit of
      * the table's write traffic; see TableStore.history. */
    def history(name: String): DataFrame = st(name).history(pn(name))

    /** Change-data-feed between two committed generations (`insert` /
      * `delete` / `update_preimage` / `update_postimage` rows in a
      * `_change_type` column) — computed on demand from the manifests'
      * file diff, O(changed files); see TableStore.readChanges. */
    def changes(name: String, fromGen: Int, toGen: Int): DataFrame =
      st(name).readChanges(pn(name), fromGen, toGen)

    /** Metadata-only `COUNT(*)` from the stats sidecar (analyzed files
      * cost zero I/O; un-analyzed appends are counted with one scan over
      * just those files) — see TableStore.countRows. */
    def count(name: String): Long = st(name).countRows(pn(name))
  }

  object export {
    /** C37: hand a managed table off as a hive-partitioned parquet tree
      * (C36's layout) through the GOVERNED read path — the committed
      * manifest file set and rendered schema, optionally pinned to a
      * snapshot generation, so the export is a point-in-time artifact
      * (a mutation racing the export cannot produce a mixed tree) and
      * reproducible: re-exporting the same generation yields the same
      * rows. The store's PK-hash buckets serve keyed mutation; this
      * re-lays the same data out for downstream scan-with-predicate
      * consumers — the two layouts each doing the job the other can't. */
    def partitioned(name: String, path: String, partitionBy: Seq[String],
        asOf: Option[Int] = None): Unit =
      graft.sources.ParquetLayout.exportPartitioned(
        asOf.map(g => st(name).readTableAt(pn(name), g)).getOrElse(st(name).readTable(pn(name))),
        path, partitionBy)
  }

  /** Run arbitrary Spark SQL over managed tables (C34) — the declarative
    * half of the reference workflow: its users write T-SQL against
    * server tables and pull frames back; here the named tables resolve
    * through the SAME governed read path as `read.table` (schema
    * rendering, file manifests, pruning inputs), registered as session
    * views, and the full Spark SQL surface (joins, windows, CTEs) runs
    * distributed over them. Views are snapshots of the CURRENT
    * generation at call time — a concurrent mutation doesn't shift an
    * in-flight query (the C23 reader contract). */
  def sql(query: String, tables: Seq[String] = Seq.empty,
      asOf: Map[String, Int] = Map.empty): DataFrame = {
    // session (##) tables register under their PHYSICAL tmp_<name>
    // view name — `#` is not a legal Spark SQL identifier character,
    // so `##Example` is addressed as tmp_Example in the query text.
    // Schema-qualified names (the reference's `dbo.Example` form,
    // create.py:41 — stored here as one opaque name) register with the
    // dot replaced by `_` for the same reason: Spark view names are
    // single-part, so `dbo.Example` is addressed as dbo_Example.
    val names =
      if (tables.nonEmpty) tables
      else store.tableNames() ++
        tempStore.tableNames().map(p => "##" + p.stripPrefix("tmp_"))
    // the mangling is not injective ('##X' and a permanent table
    // literally named tmp_X both become view tmp_X; 'a.b' and a table
    // named a_b both become a_b) — a silent last-write-wins would read
    // the WRONG table, so ambiguity is an error here, at registration
    val mangled = names.map(n => n -> pn(n).replace(".", "_"))
    val clashes = mangled.groupBy(_._2).filter(_._2.map(_._1).distinct.size > 1)
    if (clashes.nonEmpty)
      throw new IllegalArgumentException(
        "ambiguous sql() view names: " + clashes.map { case (v, ns) =>
          ns.map(_._1).distinct.sorted.mkString("'", "', '", "'") +
            s" would all register as view '$v'"
        }.mkString("; ") +
          " — rename a table or pass a disjoint `tables` list")
    mangled.foreach { case (n, view) =>
      // asOf pins a table to a committed generation — SQL over history
      // (C23 × C34): audit queries, before/after diffs, reproducible
      // reports against a fixed snapshot
      val df = asOf.get(n).map(st(n).readTableAt(pn(n), _)).getOrElse(st(n).readTable(pn(n)))
      df.createOrReplaceTempView(view)
    }
    spark.sql(query)
  }

  /** Reference `write` namespace (core/write). */
  object write {
    def insert(name: String, df: DataFrame, autoAdjust: Boolean = false): Unit =
      st(name).insert(pn(name), df, autoAdjust, ti)

    def update(name: String, df: DataFrame, matchColumns: Seq[String] = Seq.empty): Unit =
      st(name).update(pn(name), df, matchColumns, tu)

    def merge(
        name: String,
        df: DataFrame,
        matchColumns: Seq[String] = Seq.empty,
        upsert: Boolean = false,
        deleteRequires: Seq[String] = Seq.empty): Unit =
      if (upsert) {
        require(deleteRequires.isEmpty, "delete_requires can only be specified if upsert=false")
        st(name).upsert(pn(name), df, matchColumns, ti, tu)
      } else st(name).merge(pn(name), df, matchColumns, deleteRequires, ti, tu)

    /** Keyed delete — the CDC-apply primitive (beyond the reference,
      * which deletes only through full MERGE); bucket-pruned like
      * update/upsert. */
    def delete(name: String, df: DataFrame, matchColumns: Seq[String] = Seq.empty): Unit =
      st(name).delete(pn(name), df, matchColumns)

    /** CDC apply (C12b): rows whose boolean `deleteColumn` is true
      * delete their key, the rest upsert — ONE atomic, bucket-pruned
      * commit (upsert-then-delete as two commits exposes half-applied
      * state to concurrent readers, permanently on a crash). */
    def applyChanges(name: String, df: DataFrame, deleteColumn: String,
        matchColumns: Seq[String] = Seq.empty): Unit =
      st(name).applyChanges(pn(name), df, deleteColumn, matchColumns, ti, tu)

    /** Type-2 SCD history merge (beyond the reference's MERGE — the
      * hand-written history transaction, as one operator). */
    def scd2(name: String, df: DataFrame, matchColumns: Seq[String] = Seq.empty): Unit =
      st(name).scd2(pn(name), df, matchColumns, clock())
  }

  /** Table maintenance (beyond the reference; the DBA-side jobs its
    * users run as server tasks): compaction, statistics, clustering. */
  object maintenance {
    def compact(name: String, rowsPerFile: Long = 1000000L): Unit =
      st(name).compact(pn(name), rowsPerFile)
    def analyze(name: String, columns: Seq[String] = Seq.empty,
        incremental: Boolean = false, bloomBits: Int = 0,
        bloomHashes: Int = 6): Unit =
      st(name).analyze(pn(name), columns, incremental, bloomBits, bloomHashes)
    def cluster(name: String, columns: Seq[String], filesTarget: Int = 0): Unit =
      st(name).cluster(pn(name), columns, filesTarget)
    /** C45: refresh zone maps/Blooms INCREMENTALLY on every commit —
      * O(batch) per commit; see TableStore.setAutoAnalyze. */
    def autoAnalyze(name: String, columns: Seq[String], bloomBits: Int = 0): Unit =
      st(name).setAutoAnalyze(pn(name), columns, bloomBits)
    def clearAutoAnalyze(name: String): Unit = st(name).clearAutoAnalyze(pn(name))
    /** Drop snapshot history older than the last `keepLast` generations. */
    /** Vacuum dry-run (C40) — what a vacuum at this retention would
      * free, per generation that replaced the files; see
      * TableStore.vacuumDryRun. */
    def vacuumDryRun(name: String, keepLast: Int = 1): DataFrame =
      st(name).vacuumDryRun(pn(name), keepLast)

    def vacuum(name: String, keepLast: Int = 1): Unit =
      st(name).vacuum(pn(name), keepLast)
    /** Roll the table back to snapshot `gen` (data + schema) as a NEW
      * generation — one manifest, no data copied or moved. */
    def restore(name: String, gen: Int): Unit = st(name).restore(pn(name), gen)
    /** Post-crash recovery: roll back to the newest committed generation,
      * deleting what a dead writer left uncommitted (run after clearing
      * its commit lock). */
    def repair(name: String): Unit = st(name).repair(pn(name))
    /** Change the PK-hash bucket count (0 = flat) — one rewrite;
      * older snapshots keep pruning under their own layout. */
    def rebucket(name: String, buckets: Int): Unit = st(name).rebucket(pn(name), buckets)
    /** File counts each skip layer leaves for a WHERE (metadata-only) —
      * the "will this read be fast" probe; see TableStore.explainPruning. */
    /** CDF-driven incremental mirror sync (C39) — rewrite only the
      * partitions the change feed touched; see ParquetLayout.syncMirror. */
    def syncMirror(name: String, mirrorPath: String, partitionBy: String,
        fromGen: Int, toGen: Int): Seq[String] =
      graft.sources.ParquetLayout.syncMirror(st(name), pn(name), mirrorPath,
        partitionBy, fromGen, toGen)

    def explainPruning(name: String, where: String): Map[String, Long] =
      st(name).explainPruning(pn(name), where)
  }

  /** C46: the MATERIALIZED-VIEW operational surface over the C41
    * family — `define` is CREATE MATERIALIZED VIEW (bootstrap + durable
    * descriptor + rewrite registration), `maintain` is REFRESH
    * (incremental, through the crash-safe watermark protocol), `attach`
    * re-registers an existing summary with THIS session (the rewrite
    * registry is in-process). The descriptor lives in the summary's
    * table properties, so any session can attach/maintain without
    * re-stating the definition. A kind is parsed once into a measure
    * spec ([[graft.store.IncrementalAgg.Spec]]); the same spec drives
    * the bootstrap, the rewrite registration and the one fold every
    * kind shares. */
  object summaries {
    import graft.store.IncrementalAgg

    private val KindKey = "graft.summary.kind"
    private val BaseKey = "graft.summary.base"
    private val GroupsKey = "graft.summary.groups"
    private val ValuesKey = "graft.summary.values"
    private val KKey = "graft.summary.k"
    private val DeriveKey = "graft.summary.derive"
    private val AutoKey = "graft.summary.automaintain"
    // derivation exprs can contain commas/colons — use control-char
    // separators that no SQL expression carries
    private def encodeDerive(d: Seq[(String, String)]): String =
      d.map { case (n, e) => n + "\u0002" + e }.mkString("\u0001")
    private def decodeDerive(s: String): Seq[(String, String)] =
      if (s.isEmpty) Nil
      else s.split("\u0001").toSeq.map { p =>
        val i = p.indexOf("\u0002"); (p.substring(0, i), p.substring(i + 1)) }

    /** Bootstrap `name` as a maintained summary of `base` and register
      * it for automatic query rewrite. `kind` names the measure spec:
      * "sum"/"multi" (count + sum per value column), "minmax"/
      * "multiminmax" (count + sum + min + max), "distinct"/
      * "distinctmulti" (KMV registers, `k` of them), "quantile" (the
      * A46 integer log-histogram as counter rows keyed by group and
      * bucket; serves the valueSketch query shape). Count, sum and
      * bucket counters fold by add/subtract alone; min/max and KMV
      * rescan the groups a delete touched. Single-measure kinds take
      * exactly one value column; multi kinds one or more. */
    def define(name: String, base: String, groupCols: Seq[String],
        valueCols: Seq[String], kind: String = "sum", k: Int = 64,
        deriveCols: Seq[(String, String)] = Nil,
        autoMaintain: Boolean = false): Unit = {
      val store = st(name)
      require(store eq st(base), "summary and base must share a store root")
      val (summary, b) = (pn(name), pn(base))
      val spec = IncrementalAgg.Spec(kind, valueCols, k)
      // group columns are the summary's PK — a GLOBAL (zero-group)
      // summary has no keyable row identity, and the empty list would
      // not round-trip through the descriptor ("".split(',') is [""]);
      // reject it here rather than fail with a column-resolution error
      // at attach/maintain time
      require(groupCols.nonEmpty,
        "summaries need at least one group column (a global total is a " +
          "one-group summary over a constant derived column)")
      // a derived column SHADOWING a physical base column would be
      // silently substituted during maintenance (withColumn replaces)
      // while queries over the physical column template-match by name
      // — reject early, before any table is bootstrapped; the rewrite
      // registration (deriveTemplates) enforces the same contract
      val baseFields = store.readTable(pn(base)).columns.toSet
      deriveCols.foreach { case (n, e) =>
        // quantile is STRICT (no identity carve-out, matching
        // registerQuantile): validating it here keeps a failing define
        // from bootstrapping the table and THEN throwing inside the
        // trailing attach(), which would leave a permanently broken
        // summary whose every future attach() also throws
        val identityOk = e.trim == n && !spec.quantile
        require(!baseFields.contains(n) || identityOk,
          s"derived column '$n' shadows a physical column of '$base' — " +
            (if (spec.quantile)
              "pick a fresh name (a quantile grouping that IS a physical " +
                "column needs no derivation at all)"
            else "pick a fresh name (only the identity derivation may reuse one)"))
      }
      // C47: derived group columns (e.g. "day" -> "to_date(ts)") are
      // projected identically at bootstrap, fold and rescan time
      val bootstrap = IncrementalAgg.summarize(spec,
        IncrementalAgg.derivedView(store.readTable(b), deriveCols), groupCols)
      // bench timed-span accounting (pass-through unless graft.Bench
      // armed it — see graft.BenchSetup): the summary bootstrap — the
      // MV's initial full-scan aggregate + write — is setup, not the
      // maintenance/serving signal the lifecycle entries time. It runs
      // for real on every bench run; only its span is excluded.
      graft.BenchSetup.setup(
        store.createTableFromDataFrame(summary, bootstrap, spec.keys(groupCols), infer = false))
      IncrementalAgg.markMaintained(store, b, summary, store.snapshots(b).last._1)
      store.setProperties(summary, Map(KindKey -> kind, BaseKey -> b,
        GroupsKey -> groupCols.mkString(","), ValuesKey -> valueCols.mkString(","),
        KKey -> k.toString, DeriveKey -> encodeDerive(deriveCols)) ++
        (if (autoMaintain) Map(AutoKey -> "true") else Map.empty))
      attach(name)
    }

    /** (spec, base, groups, derive) as `define` recorded them. */
    private def descriptor(name: String): (IncrementalAgg.Spec, String, Seq[String], Seq[(String, String)]) =
      descriptorIn(st(name), pn(name), name)

    private def descriptorIn(store: graft.store.TableStore, summary: String,
        name: String): (IncrementalAgg.Spec, String, Seq[String], Seq[(String, String)]) = {
      val props = store.properties(summary)
      val kind = props.getOrElse(KindKey, throw new IllegalArgumentException(
        s"$name carries no summary descriptor — define() it first"))
      (IncrementalAgg.Spec(kind, props(ValuesKey).split(',').toSeq, props(KKey).toInt),
        props(BaseKey), props(GroupsKey).split(',').toSeq,
        decodeDerive(props.getOrElse(DeriveKey, "")))
    }

    /** Register an EXISTING summary (defined here or by another
      * session) with this session's rewrite rule; re-arms the C48
      * auto-maintenance coupling when the descriptor carries it. */
    def attach(name: String): Unit = {
      val store = st(name)
      val (spec, b, groups, derive) = descriptor(name)
      graft.plans.SummaryRewrite.registerSpec(spark, store, b, pn(name), groups, spec, derive)
      if (store.properties(pn(name)).contains(AutoKey)) armAutoMaintain(store, b, name)
    }

    /** C48: couple `maintain(name)` to the BASE's commit path — every
      * committed base generation runs the descriptor-dispatched fold
      * as a post-commit hook, so the summary is ALWAYS fresh (and the
      * C44 rewrite always serves) without an operator in the refresh
      * loop. The auto-analyze contract applied to maintenance: O(feed)
      * per commit, a hook failure is audited and leaves the summary
      * STALE (the freshness probe then falls back to the base scan —
      * never a wrong answer). Durable in the descriptor — any session
      * that attach()es re-arms it; the hook itself is in-process, like
      * the rewrite registry (the single-writer contract already makes
      * this session the summary's only maintainer). */
    def autoMaintainOn(name: String): Unit = {
      val store = st(name)
      val (_, b, _, _) = descriptor(name)
      store.setProperties(pn(name), Map(AutoKey -> "true"))
      armAutoMaintain(store, b, name)
    }

    /** Disarm C48 (the summary stays valid; it just goes stale until
      * the next explicit maintain). */
    def autoMaintainOff(name: String): Unit = {
      val store = st(name)
      val (_, b, _, _) = descriptor(name)
      store.setProperties(pn(name), Map.empty, remove = Seq(AutoKey))
      store.removePostCommitHook(b, "summary-maintain:" + pn(name))
    }

    private def armAutoMaintain(store: graft.store.TableStore, b: String, name: String): Unit =
      store.addPostCommitHook(b, "summary-maintain:" + pn(name), () => maintain(name))

    /** C46c: the MV inventory — every summary DEFINED under the
      * session's store roots (any session), by descriptor presence:
      * the default root plus this session's `##` temp root (temp
      * summaries surface under their user-facing `##` names, like
      * every other summaries API resolves them). One root listing +
      * one property read per table, zero data I/O; feed the names to
      * [[status]]/[[attach]]/[[maintain]]. */
    def list(): Seq[String] =
      store.tableNames().filter(n =>
        store.properties(n).contains(KindKey)) ++
        tempStore.tableNames().filter(n =>
          tempStore.properties(n).contains(KindKey))
          .map(p => "##" + p.stripPrefix("tmp_"))

    /** C46b: MV freshness/status introspection — the operational probe
      * an owner reads before trusting a dashboard: definition, the
      * base generation the summary durably reflects, the base's
      * current generation, whether the rewrite would serve it, and
      * whether auto-maintenance is armed. Metadata-only (two property
      * reads + one manifest listing, zero data I/O). */
    def status(name: String): Map[String, String] = {
      val store = st(name)
      val (spec, b, groups, _) = descriptor(name)
      val applied = IncrementalAgg.maintainedGen(store, b, pn(name))
      val cur = store.snapshots(b).last._1
      Map(
        "summary" -> pn(name), "base" -> b, "kind" -> spec.kind,
        "groups" -> groups.mkString(","), "values" -> spec.values.mkString(","),
        "maintained_gen" -> applied.map(_.toString).getOrElse("none"),
        "base_gen" -> cur.toString,
        "fresh" -> applied.contains(cur).toString,
        "auto_maintain" -> store.properties(pn(name)).contains(AutoKey).toString) ++
        IncrementalAgg.FoldRecord.map(k => s"fold_$k" ->
          IncrementalAgg.foldRecord(store, b, pn(name)).getOrElse(k, "none"))
    }

    /** Incremental REFRESH: fold everything committed to the base
      * since the durable watermark — crash-safe, replay-idempotent.
      * Every other summary this session attached to the same base whose
      * watermark equals this one's is refreshed along with it, from the
      * same change feed (one feed per base, not per summary); a
      * sibling's failure is audited and leaves that sibling stale, and
      * only this summary's failure is thrown. */
    def maintain(name: String): Unit = {
      val store = st(name)
      val (spec, b, groups, derive) = descriptor(name)
      val siblings = graft.plans.SummaryRewrite.registeredOn(store, b)
        .filterNot(_ == pn(name)).flatMap { s =>
          scala.util.Try(descriptorIn(store, s, s)).toOption.collect {
            case (sSpec, `b`, sGroups, sDerive) => IncrementalAgg.Target(s, sSpec, sGroups, sDerive)
          }
        }
      IncrementalAgg.maintainGroup(store, b, IncrementalAgg.Target(pn(name), spec, groups, derive),
        siblings, audit)
    }

    /** C46e: the MV ADVISOR — the inverse of [[explain]]: given an
      * aggregate query over a managed table, the `define(...)` argument
      * sets that would make it serve. The query may be any shape the
      * rewrite serves: a plain scan, grouping sets, a star of dimension
      * joins (recommending on the fact table) or grouping sets over a
      * star. Each entry names the base table, the group columns (fact
      * groupings + join keys + filter columns + COUNT(DISTINCT)
      * columns — the last served EXACTLY via the C44q path, never
      * swapped for a sketch), derived columns for expression
      * groupings, the value columns and the kind
      * (sum/multi/minmax/multiminmax/distinct/distinctmulti). A query
      * mixing sketch and arithmetic measures yields two entries. Empty:
      * nothing recommendable (no aggregate over a managed fact table, a
      * dim-side or mixed measure, or an unservable aggregate shape).
      * Metadata-only. */
    def recommend(df: DataFrame): Seq[(String, graft.plans.SummaryRewrite.Recommendation)] =
      graft.plans.SummaryRewrite.recommend(df).flatMap { rec =>
        val names = store.tableNames().filter(n =>
          new org.apache.hadoop.fs.Path(store.dataLocation(n)).toUri.getPath == rec.basePath)
        val tmp = tempStore.tableNames().filter(n =>
          new org.apache.hadoop.fs.Path(tempStore.dataLocation(n)).toUri.getPath == rec.basePath)
          .map(p => "##" + p.stripPrefix("tmp_"))
        (names ++ tmp).headOption.map(_ -> rec)
      }

    /** C46d: the servability probe — per summary registered with THIS
      * session, whether the rewrite would serve `df` and, if not, the
      * first check that stood it down ("grouping mismatch: …",
      * "unservable predicate: …", "unservable aggregate: …", "missing
      * summary column(s): …", "stale: …", or "not a candidate: …").
      * Metadata-only (one plan compile, no job) — the tool that turns
      * a silent fall-back-to-the-fact-scan into a named reason before
      * it becomes a 100 TB incident. */
    def explain(df: DataFrame): Seq[graft.plans.SummaryRewrite.ServeProbe] =
      graft.plans.SummaryRewrite.explainServe(spark, df)

    /** Drop the rewrite registrations of `base` AND disarm its C48
      * auto-maintenance hooks (decommissioning) — a detached base must
      * not keep folding into its summaries on every commit from this
      * session. The descriptors stay durable: a later attach() re-arms
      * both the rewrite and (if flagged) the auto-maintenance. */
    def detach(base: String): Unit = {
      graft.plans.SummaryRewrite.unregister(st(base), pn(base))
      st(base).removePostCommitHooksByPrefix(pn(base), "summary-maintain:")
    }
  }

  /** Reference `get_schema` (package.py:105). */
  def getSchema(name: String): DataFrame = st(name).describe(pn(name))

  /** Reference `log_init` (package.py:85): engine/runtime versions for
    * debugging, emitted through the same audit channel as DDL — the
    * "what was I even running" line every support thread starts with. */
  def logInit(): Map[String, String] = {
    val info = Map(
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> sys.props("java.version"))
    audit("version info: " +
      info.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", "))
    info
  }

  /** PK-duplicate diagnostics (enforced by the server in the reference). */
  def primaryKeyViolations(name: String): DataFrame = st(name).primaryKeyViolations(pn(name))

  /** Pre-flight audit for a PROPOSED check constraint: the rows that
    * would refuse `modify.checkConstraint` (C30). */
  def checkViolations(name: String, expression: String): DataFrame =
    st(name).checkViolations(pn(name), expression)

  /** See [[Graft.clearOperatorCaches]]; instance alias for discoverability. */
  def clearOperatorCaches(): Unit = Graft.clearOperatorCaches()
}

object Graft {
  /** Release every intermediate the graft OPERATORS persisted (dedup
    * shingle relations, clustering edge sets, contamination indexes…)
    * without touching caches the user created in the same session —
    * unlike `spark.catalog.clearCache()`, which drops both. Operators
    * return lazy plans and so cannot unpersist their own intermediates;
    * the driver surfaces (Bench, Verify) call this between queries, and
    * a long-lived session calls it at batch boundaries instead of
    * relying on LRU eviction. See [[OperatorCache]]. */
  def clearOperatorCaches(): Unit = OperatorCache.clear()
}
