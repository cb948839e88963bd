package graft.store

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** C41: incremental maintenance of grouped summary tables from the base
  * table's change-data-feed (C25) — the materialized-view upkeep every
  * warehouse runs, without re-scanning the base.
  *
  * Every summary kind is a measure [[Spec]]; each measure is a bootstrap
  * aggregate, a signed change-feed delta and a merge of that delta into
  * the stored value. One [[summarize]], one fold and one crash-safe
  * watermark protocol serve all seven kinds: `sum`/`multi` (count +
  * exact DECIMAL(18,2) sum), `minmax`/`multiminmax` (+ min + max),
  * `distinct`/`distinctmulti` (KMV registers) and `quantile` (counter
  * rows per sketch bucket). Single-measure kinds store `<m>_val`, multi
  * kinds `<m>_<c>`.
  *
  * Scale design: count, sum and bucket counters are invertible, so a
  * fold costs O(changes) — `readChanges` reads only the two
  * generations' symmetric-difference files, the per-group delta reduces
  * from that, and the write is ONE keyed [[TableStore.applyChanges]]
  * that rewrites only the touched buckets of a bucketed summary. MIN/MAX
  * and KMV only GROW under inserts, so their fold also RESCANS the
  * groups a delete touched — bounded by those groups' rows, never the
  * base.
  *
  * Exactness: the maintained table is bit-identical to a full recompute
  * of [[summarize]] over the final base state — the driver oracle and
  * IncrementalAggSpec both state exactly that. Group columns are
  * summary PRIMARY KEY columns and therefore non-null by contract; an
  * in-plan assert_true fires on a NULL group value rather than silently
  * diverging from the recompute.
  */
object IncrementalAgg {

  /** C47: derived group columns — `derive` maps a NEW column name to a
    * deterministic SQL expression over the base's columns (e.g.
    * `"day" -> "to_date(ts)"`). Applied identically to the bootstrap
    * relation, the change feed and the rescan reads, so a summary can
    * group by an expression the base does not store (the daily-rollup
    * MV shape). The maintenance algebra is unchanged: a derived column
    * is just another group column once projected. */
  def derivedView(df: DataFrame, derive: Seq[(String, String)]): DataFrame =
    derive.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) }

  private val dec = DecimalType(18, 2)
  private val Kinds = Seq("sum", "minmax", "multi", "multiminmax", "distinct", "distinctmulti", "quantile")

  /** +1 for rows a change adds (insert, update post-image), −1 otherwise. */
  private def sign: Column =
    when(col("_change_type").isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))

  /** Sketch registers persist as a comma-joined ascending decimal
    * string — store tables are SQL-typed (no arrays), and the CSV form
    * is itself oracle-derivable (DuckDB string_agg over the same
    * ordered hashes). Empty sketch (a group of all-NULL values) is the
    * empty string. */
  private def kmvToStr(a: Column): Column = array_join(a.cast("array<string>"), ",")
  private def kmvFromStr(s: Column): Column =
    when(length(s) === 0, array().cast("array<bigint>"))
      .otherwise(split(s, ",").cast("array<bigint>"))

  /** One stored measure column: its bootstrap aggregate, its signed
    * change-feed delta aggregate, how a delta merges into the stored
    * value (stored, delta) → new, and its value on a dying group. */
  private final case class Cell(name: String, agg: Column, delta: Column,
      merge: (Column, Column) => Column, dead: Column)

  /** A summary kind as a measure spec. Built only from the seven kind
    * strings; `values` are the measured base columns, `k` the KMV
    * register count (ignored by the other kinds). Construction rejects
    * an unknown kind and a wrong value-column arity. */
  private[graft] final case class Spec(kind: String, values: Seq[String], k: Int = 64) {
    if (!Kinds.contains(kind)) throw new IllegalArgumentException(
      s"unknown summary kind '$kind' (${Kinds.mkString("|")})")
    private val multi = Set("multi", "multiminmax", "distinctmulti")(kind)
    if (multi) require(values.nonEmpty, s"summary kind '$kind' needs at least one value column")
    else require(values.size == 1, s"summary kind '$kind' takes exactly one value column")
    private val extrema = Set("minmax", "multiminmax")(kind)
    private[graft] val kmv = Set("distinct", "distinctmulti")(kind)
    private[graft] val quantile = kind == "quantile"

    /** Stored-column suffix of value column `c`. */
    private[graft] def suffix(c: String): String = if (multi) c else "val"

    /** Every measure folds by adding its signed delta — no group a
      * delete touched ever needs a rescan. */
    def invertible: Boolean = !extrema && !kmv

    /** The summary's primary key: a quantile row is one bucket of a group. */
    def keys(groupCols: Seq[String]): Seq[String] =
      if (quantile) groupCols ++ Seq("bin_id", "bin_upper") else groupCols

    /** The relation the measures aggregate: `df`, or for quantile the
      * non-null observations' sketch buckets (`keep`: extra columns to
      * carry, e.g. the feed's `_change_type`). */
    private[IncrementalAgg] def measured(df: DataFrame, groupCols: Seq[String],
        keep: Seq[String]): DataFrame =
      if (!quantile) df
      else graft.operators.Analytics.withSketchBuckets(
        df.select((groupCols ++ keep).map(col) :+
          graft.operators.Analytics.sketchUnits(values.head).as("__x"): _*)
          .filter(col("__x").isNotNull))

    /** The stored measure columns after `n_rows`, in column order. */
    private[IncrementalAgg] lazy val cells: Seq[Cell] = if (quantile) Nil else values.flatMap { c =>
      val s = suffix(c)
      val v = col(c).cast(dec)
      val nullDec = lit(null).cast(dec)
      if (kmv) Seq(Cell("kmv_" + s,
        kmvToStr(graft.plans.GraftFunctions.kmvSketch(col(c), k)),
        graft.plans.GraftFunctions.kmvSketch(when(sign === 1L, col(c)), k),
        // register union: sorted distinct merge truncated to k — EXACT,
        // the union's k smallest distinct hashes of any row split are
        // the whole's
        (cur, ins) => kmvToStr(slice(array_sort(array_distinct(concat(
          coalesce(kmvFromStr(cur), array().cast("array<bigint>")), ins))), 1, k)),
        lit(null).cast("string")))
      else Seq(
        // the NON-NULL count: what Average divides by and what count(v)
        // means — n_rows alone cannot serve either when v has NULLs
        Cell("nn_" + s, count(col(c)), sum(when(col(c).isNotNull, sign).otherwise(0L)),
          (cur, d) => coalesce(cur, lit(0L)) + d, lit(0L)),
        Cell("sum_" + s, sum(v), sum(sign * v),
          (cur, d) => (coalesce(cur, lit(0).cast(dec)) + d).cast(dec), nullDec)) ++
        // least/greatest skip nulls (null only when BOTH sides are) —
        // exactly the tighten-or-keep semantics growth needs
        (if (!extrema) Nil else Seq(
          Cell("min_" + s, min(v), min(when(sign === 1L, v)),
            (cur, d) => least(cur, d).cast(dec), nullDec),
          Cell("max_" + s, max(v), max(when(sign === 1L, v)),
            (cur, d) => greatest(cur, d).cast(dec), nullDec)))
    }
  }

  /** One row per `spec.keys(groupCols)`: `n_rows`, then the spec's
    * measure columns — the bootstrap and the fold's rescan. */
  private[graft] def summarize(spec: Spec, base: DataFrame, groupCols: Seq[String]): DataFrame =
    spec.measured(base, groupCols, Nil)
      .groupBy(spec.keys(groupCols).map(col): _*)
      .agg(count(lit(1)).as("n_rows"), spec.cells.map(m => m.agg.as(m.name)): _*)

  /** One summary a maintain folds: its table, measure spec, group
    * columns and derived group columns (C47). */
  private[graft] final case class Target(summary: String, spec: Spec,
      groupCols: Seq[String], derive: Seq[(String, String)])

  /** A fold result — lazy: the commit that writes it runs it — and,
    * on the rescan path, the observation that counts the groups its
    * rescan re-derives from the base as that commit runs. */
  private final case class Folded(rows: DataFrame, rescanned: Option[Observation])

  /** The fold's one checkpoint: the change feed, with its row count
    * from the SAME job that materializes the blocks (the lazy
    * checkpoint's first pass is the count), so emptiness costs no job
    * of its own, and every summary folding the range reads it without
    * re-deriving the diff. Everything downstream of it stays lazy: each
    * fold runs inside its commit's write job, where AQE's stages cover
    * the fold's own exchanges. Local — not replicated, so losing an
    * executor fails the fold; the one-commit intent protocol keeps that
    * safe, because the next call refolds the same range. (A reliable
    * checkpoint would write every feed to a checkpoint directory to
    * survive a loss the protocol already survives, so the fold keeps
    * `localCheckpoint`.) */
  private def materialized(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(false)
    (cp, cp.queryExecution.toRdd.count())
  }

  /** The one fold: post-maintenance rows for every group the range
    * touched, zero-count groups flagged `__dead` — the source of ONE
    * [[TableStore.applyChanges]] commit. Invertible specs merge the
    * feed's per-group deltas (add/subtract). The others take, per group
    * the feed touches, one of grown | rescan | dead: insert-only groups
    * merge their deltas; groups a delete touched re-derive from the
    * base PINNED AT `toGen` (the live table would leak a concurrent
    * writer's rows past the watermark and double-apply them next fold),
    * semi-joined to exactly those groups (read off the feed, so the
    * delta is aggregated once); a touched group with no rows left dies.
    * `feed` is the change feed of the range (at least the columns
    * [[feedColumns]] names); None (a vacuum removed the watermark's
    * snapshot) is that rescan with every stored group touched and the
    * whole pinned base as its scope. A non-empty feed always yields rows
    * (one per group it touches), so its count says whether there is
    * anything to commit. */
  private def fold(store: TableStore, base: String, t: Target, feed: Option[DataFrame],
      toGen: Int): Folded = {
    val Target(summary, spec, groupCols, derive) = t
    val keys = spec.keys(groupCols)
    val cur = store.readTable(summary)
    val nRows = coalesce(cur("n_rows"), lit(0L)) + col("__dn")
    // a negative post-count means the feed and the summary disagree
    // (corrupt feed, or a writer bypassed maintenance) — fail loudly
    // instead of silently dropping the group; the guard rides n_rows
    // (null on success → +0) so pruning cannot elide it
    val negGuard = coalesce(assert_true(nRows >= 0,
      lit(s"incremental aggregate: negative ${if (spec.quantile) "bucket" else "row"} " +
        s"count maintaining '$summary' from the change feed of '$base' — feed and " +
        "summary are inconsistent")).cast("long"), lit(0L))
    def merged(d: DataFrame): DataFrame =
      d.join(cur, keys.map(c => d(c) <=> cur(c)).reduce(_ && _), "left")
        .select(keys.map(d(_)) :+ (nRows + negGuard).as("n_rows") :++
          spec.cells.map(m => m.merge(cur(m.name), col("__d_" + m.name)).as(m.name)): _*)
    def delta(feed: DataFrame): DataFrame = {
      val ch = spec.measured(derivedView(feed, derive), groupCols, Seq("_change_type"))
      // the null-group guard rides the count delta (null on success →
      // +0) so column pruning cannot drop it
      val guard = coalesce(assert_true(
        groupCols.map(col(_).isNotNull).reduce(_ && _),
        lit(s"incremental aggregate: NULL group value in change feed of '$base' — " +
          "group columns are summary PK columns and must be non-null")).cast("long"), lit(0L))
      ch.groupBy(keys.map(col): _*)
        .agg((sum(sign) + first(guard)).as("__dn"),
          spec.cells.map(m => m.delta.as("__d_" + m.name)) ++
            (if (spec.invertible) Nil
            else Seq(sum(when(sign === -1L, 1L).otherwise(0L)).as("__dels"))): _*)
    }
    def pinned = derivedView(store.readTableAt(base, toGen), derive)
    // rescan rows are flagged so the commit can count them
    val rescanFlag = "__rescanned"
    val rows = feed match {
      case Some(f) if spec.invertible => merged(delta(f))
      case Some(f) =>
        // keys == groupCols here (only quantile widens them, and it is
        // invertible), and group values are non-null (delta's guard),
        // so the rescan joins on plain equality — both sides arrive
        // hash-partitioned by the keys, and the join adds no exchange
        val d = delta(f)
        val touched = derivedView(f, derive).filter(sign === -1L)
          .select(groupCols.map(col): _*).distinct()
        val rescan = summarize(spec, pinned.join(touched, groupCols, "left_semi"), groupCols)
        val redo = col("__dels") > 0L
        val found = rescan("n_rows").isNotNull
        d.join(cur, keys.map(c => d(c) <=> cur(c)).reduce(_ && _), "left")
          .join(rescan, keys.map(c => d(c) === rescan(c)).reduce(_ && _), "left")
          .select(keys.map(d(_)) :+
            when(redo, coalesce(rescan("n_rows"), lit(0L))).otherwise(nRows + negGuard).as("n_rows") :++
            spec.cells.map(m => when(redo && found, rescan(m.name)).when(redo, m.dead)
              .otherwise(m.merge(cur(m.name), col("__d_" + m.name))).as(m.name)) :+
            (redo && found).as(rescanFlag): _*)
      case None =>
        val rescan = summarize(spec, pinned, groupCols)
        val dead = cur.select(keys.map(col): _*).join(rescan.select(keys.map(col): _*), keys, "left_anti")
          .select(keys.map(col) :+ lit(0L).as("n_rows") :++ spec.cells.map(m => m.dead.as(m.name)): _*)
        rescan.withColumn(rescanFlag, lit(true)).unionByName(dead.withColumn(rescanFlag, lit(false)))
    }
    val out = rows.withColumn("__dead", col("n_rows") === 0L)
    if (!out.columns.contains(rescanFlag)) Folded(out, None)
    else {
      val obs = Observation()
      Folded(out.observe(obs, sum(col(rescanFlag).cast("long")).as("n")).drop(rescanFlag), Some(obs))
    }
  }

  /** The base columns `t`'s fold reads from a change feed `feed`: its
    * physical (not derived) group and value columns plus what its
    * derivations read (all of `feed`'s columns when a derivation does
    * not resolve over them alone, e.g. one reading another derived
    * column). */
  private def feedColumns(feed: DataFrame, t: Target): Seq[String] = {
    val derived = t.derive.map(_._1).toSet
    (t.groupCols ++ t.spec.values).filterNot(derived) ++ t.derive.flatMap { case (_, e) =>
      scala.util.Try(feed.select(expr(e)).queryExecution.analyzed.references.toSeq.map(_.name))
        .getOrElse(feed.columns.toSeq)
    }
  }

  private def appliedKey(base: String) = s"graft.maint.$base.applied"
  private def pendingKey(base: String) = s"graft.maint.$base.pending"
  private def sgenKey(base: String) = s"graft.maint.$base.sgen"
  private def foldKey(base: String, field: String) = s"graft.maint.$base.fold.$field"

  /** The per-fold record [[maintainGroup]] stores with the watermark:
    * change-feed rows folded, groups rescanned from the base, and the
    * fold's wall time in ms (fold, commit and watermark). */
  private[graft] val FoldRecord = Seq("feed_rows", "rescanned_groups", "ms")

  /** Record that `summary` currently reflects `base` at generation
    * `gen` — call once after bootstrapping the summary from
    * [[summarize]]. Seeds the durable watermark [[maintainToCurrent]]
    * advances. `record` (the [[FoldRecord]] of the fold that got it
    * there) rides the same properties swap. */
  def markMaintained(store: TableStore, base: String, summary: String, gen: Int,
      record: Map[String, Long] = Map.empty): Unit =
    store.setProperties(summary, Map(appliedKey(base) -> gen.toString) ++
      record.map { case (k, v) => foldKey(base, k) -> v.toString },
      remove = Seq(pendingKey(base), sgenKey(base)))

  /** The last fold's [[FoldRecord]] of `summary` from `base` (empty
    * before its first fold). */
  private[graft] def foldRecord(store: TableStore, base: String, summary: String): Map[String, String] = {
    val props = store.properties(summary)
    FoldRecord.flatMap(k => props.get(foldKey(base, k)).map(k -> _)).toMap
  }

  /** The base generation `summary` durably reflects (None before
    * [[markMaintained]] has seeded it). */
  def maintainedGen(store: TableStore, base: String, summary: String): Option[Int] = {
    recover(store, base, summary)
    store.properties(summary).get(appliedKey(base)).map(_.toInt)
  }

  /** READ-ONLY twin of [[maintainedGen]] for the optimizer path
    * (graft.plans.SummaryRewrite): never heals an interrupted attempt
    * — a pending write-ahead intent is undecided, so it answers None
    * (not fresh, rewrite stands down) and leaves recovery to the
    * maintenance path. An optimizer probe that wrote store state would
    * race a concurrent maintainer's properties update (setProperties
    * is a read-modify-write serialized only by the single-writer
    * contract, which a query compile is not part of). */
  private[graft] def maintainedGenReadOnly(
      store: TableStore, base: String, summary: String): Option[Int] = {
    val props = store.properties(summary)
    if (props.contains(pendingKey(base))) None
    else props.get(appliedKey(base)).map(_.toInt)
  }

  /** Finish or roll back an interrupted [[maintainToCurrent]]: the
    * intent record {pending, sgen} plus the summary's current
    * generation decide whether the single maintenance commit landed —
    * if the summary advanced past `sgen` it did (advance the
    * watermark), otherwise it never committed (drop the intent and the
    * next call refolds from the old watermark). Decidable both ways
    * BECAUSE maintenance is one commit; this is why the fold must
    * never be split back into upsert+delete. */
  private def recover(store: TableStore, base: String, summary: String): Unit = {
    val props = store.properties(summary)
    props.get(pendingKey(base)).foreach { p =>
      val committed = props.get(sgenKey(base)).map(_.toInt) match {
        case Some(sAtStart) => store.snapshots(summary).last._1 > sAtStart
        case None           => false
      }
      if (committed) markMaintained(store, base, summary, p.toInt)
      else store.setProperties(summary, Map.empty,
        remove = Seq(pendingKey(base), sgenKey(base)))
    }
  }

  /** The crash-safe driver behind every `maintain*ToCurrent` (protocol:
    * [[maintainToCurrent]]) for one summary: [[maintainGroup]] with no
    * siblings. */
  private[graft] def maintainSpec(store: TableStore, base: String, summary: String,
      spec: Spec, groupCols: Seq[String], derive: Seq[(String, String)]): Unit =
    maintainGroup(store, base, Target(summary, spec, groupCols, derive), Nil, _ => ())

  /** Fold `named` and every sibling on the same base whose watermark
    * equals `named`'s from ONE change feed (classic incremental view
    * maintenance: one delta per base for all of its views). The range's
    * feed is read once, projected to the union of the columns the folds
    * read ([[feedColumns]]) and materialized; an empty one (a pure
    * rewrite: compaction, Z-order) only advances the watermarks. Then
    * every summary folds and commits concurrently, each on its own
    * driver thread (`named` on the caller's), under its own table's lock
    * and its own intent/watermark protocol (see [[maintainToCurrent]]),
    * with its [[FoldRecord]] in the watermark swap. A sibling's failure
    * is audited and leaves that sibling stale, as a failed post-commit
    * hook does; only `named`'s failure is thrown. */
  private[graft] def maintainGroup(store: TableStore, base: String, named: Target,
      siblings: Seq[Target], audit: String => Unit): Unit = {
    def watermark(summary: String): Option[Int] = {
      recover(store, base, summary)
      store.properties(summary).get(appliedKey(base)).map(_.toInt)
    }
    val applied = watermark(named.summary).getOrElse(throw new IllegalStateException(
      s"no maintenance watermark for '$base' on '${named.summary}' — seed it with " +
        "markMaintained at the generation the summary was bootstrapped from"))
    val gens = store.snapshots(base).map(_._1)
    val cur = gens.last
    if (cur <= applied) return
    val group = named +: siblings.filter { t =>
      try watermark(t.summary).contains(applied)
      catch {
        case e: Exception =>
          audit(s"maintain of ${t.summary} skipped (summary stays stale): ${e.getMessage}")
          false
      }
    }
    val feed = Some(applied).filter(gens.contains).map { from =>
      val all = store.readChanges(base, from, cur)
      materialized(all.select(("_change_type" +: group.flatMap(feedColumns(all, _))).distinct
        .map(c => col(graft.Identifiers.quote(c))): _*))
    }
    def one(t: Target): Unit = {
      val t0 = System.nanoTime()
      var rescanned = 0L
      if (!feed.exists(_._2 == 0L)) {
        val folded = fold(store, base, t, feed.map(_._1), cur)
        store.setProperties(t.summary, Map(pendingKey(base) -> cur.toString,
          sgenKey(base) -> store.snapshots(t.summary).last._1.toString))
        store.applyChanges(t.summary, folded.rows, "__dead", t.spec.keys(t.groupCols))
        // reported by the commit's write job; -1 if it never arrives
        rescanned = folded.rescanned.fold(0L)(o =>
          org.apache.spark.sql.graftx.bridge.observed(o, 60000L)
            .fold(-1L)(r => if (r.isNullAt(0)) 0L else r.getLong(0)))
      }
      markMaintained(store, base, t.summary, cur, Map(
        "feed_rows" -> feed.fold(0L)(_._2), "rescanned_groups" -> rescanned,
        "ms" -> (System.nanoTime() - t0) / 1000000L))
    }
    val failures = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val threads = group.tail.map { t =>
      val th = new Thread(() =>
        try one(t) catch { case e: Throwable => failures.put(t.summary, e); () },
        s"graft-fold-${t.summary}")
      th.start()
      th
    }
    try one(named)
    finally {
      threads.foreach(_.join())
      failures.forEach((s, e) => audit(
        s"maintain of $s along with ${named.summary} failed (summary stays stale): ${e.getMessage}"))
    }
  }

  // ── the public per-kind entry points (delegates over one Spec) ──────

  /** The C41 canonical summary: one row per group with the row count,
    * the non-null count `nn_val` and the exact DECIMAL(18,2) sum
    * `sum_val` of `valueCol`. Used once at bootstrap (the only full base
    * scan) and by the reconciliation spec. */
  def summarize(base: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    summarize(Spec("sum", Seq(valueCol)), base, groupCols)

  /** Fold the change feed of `base` between two committed generations
    * into the `summary` store table (schema = [[summarize]]'s, PK =
    * `groupCols`). Inserts and update-postimages count +1/+value,
    * deletes and update-preimages −1/−value; groups whose count
    * reaches zero are deleted from the summary. The whole fold is ONE
    * [[TableStore.applyChanges]] commit (upsert live + delete dead
    * atomically — two commits would expose dead groups with stale
    * counts to a reader landing between them, permanently so on a
    * crash). A feed with no rows (e.g. a pure rewrite: compaction,
    * Z-order) commits nothing. */
  def maintain(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCol: String, fromGen: Int, toGen: Int,
      derive: Seq[(String, String)] = Nil): Unit = {
    val (feed, n) = materialized(store.readChanges(base, fromGen, toGen))
    if (n > 0) store.applyChanges(summary,
      fold(store, base, Target(summary, Spec("sum", Seq(valueCol)), groupCols, derive), Some(feed),
        toGen).rows, "__dead", groupCols)
  }

  /** S36's crash-safe driver: fold everything committed to `base`
    * since the durable watermark into `summary`, idempotently across
    * failures and Structured-Streaming batch replays. Protocol per
    * call: recover any interrupted attempt, compute the delta for the
    * pinned range (watermark → current base generation), write a
    * write-ahead intent {pending, summary-generation}, apply the delta
    * as ONE commit, then advance the watermark. A crash at any point
    * either left the intent undecided-but-uncommitted (next call
    * refolds the same range — same result) or committed (next call's
    * recovery advances the watermark without re-applying). Replayed
    * upserts of the same rows produce self-cancelling feed diffs, so
    * folding a range that spans them stays exact. Single-writer: the
    * summary must be written only through this path (the standard
    * materialized-view ownership contract). */
  def maintainToCurrent(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCol: String,
      derive: Seq[(String, String)] = Nil): Unit =
    maintainSpec(store, base, summary, Spec("sum", Seq(valueCol)), groupCols, derive)

  /** One summary maintaining SEVERAL measures: n_rows plus `nn_<c>` and
    * an exact DECIMAL(18,2) `sum_<c>` per value column — one maintenance
    * fold and one table where N single-measure summaries would cost N
    * folds and N change-feed reads per commit. The TPC-H-Q1 shape ("per
    * flag: row count, sum of quantity, sum of price, averages") is one
    * of these. */
  def summarizeMulti(base: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame =
    summarize(Spec("multi", valueCols), base, groupCols)

  /** [[maintainToCurrent]] for a [[summarizeMulti]] summary — same
    * durable watermark/intent protocol, one fold for all measures. */
  def maintainMultiToCurrent(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCols: Seq[String],
      derive: Seq[(String, String)] = Nil): Unit =
    maintainSpec(store, base, summary, Spec("multi", valueCols), groupCols, derive)

  /** The C41d summary: one row per group with the row count and the
    * portable KMV distinct-count registers `kmv_val` of `valueCol` (the
    * k smallest distinct md5-derived 32-bit hashes of its string
    * rendering — [[graft.plans.KmvCore]]). COUNT is self-maintainable;
    * the sketch only GROWS under inserts (exact set union), so
    * [[maintainDistinctToCurrent]] merges insert-only groups from the
    * feed and rescans just the groups a delete touched — the C41b
    * protocol applied to cardinality. */
  def summarizeDistinct(base: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 64): DataFrame =
    summarize(Spec("distinct", Seq(valueCol), k), base, groupCols)

  /** [[maintainToCurrent]] for a [[summarizeDistinct]] summary — same
    * durable watermark/intent protocol; `k` must match the bootstrap's. */
  def maintainDistinctToCurrent(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCol: String, k: Int = 64,
      derive: Seq[(String, String)] = Nil): Unit =
    maintainSpec(store, base, summary, Spec("distinct", Seq(valueCol), k), groupCols, derive)

  /** The C41g summary: the A46 integer log-histogram
    * ([[graft.operators.Analytics.valueSketch]]'s bucket definition,
    * shared code — the two histograms are counter-identical by
    * construction) maintained as one COUNTER row per
    * (group, bin_id, bin_upper). Bucket counts are pure counters, so
    * unlike min/max/distinct this family maintains under ANY feed by
    * addition/subtraction alone — deletes need NO base rescan: a
    * deleted observation just decrements its bucket, and a bucket
    * reaching zero dies. The "p99 latency per segment, maintained" MV.
    *
    * NULL values are no observation (the sketchUnits discipline): the
    * bootstrap, the fold and the served query shape all filter them
    * before bucketing, which is what [[graft.plans.SummaryRewrite
    * .registerQuantile]] registers as the summary's BASE FILTER. */
  def summarizeQuantile(base: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    summarize(Spec("quantile", Seq(valueCol)), base, groupCols)

  /** [[maintainToCurrent]] for a [[summarizeQuantile]] summary — same
    * durable watermark/intent protocol; the summary's PK must be
    * groupCols ++ (bin_id, bin_upper). `derive` (C47) projects
    * user-derived group columns (e.g. day → to_date(ts)) before
    * bucketing — the "p99 per day, maintained" MV. */
  def maintainQuantileToCurrent(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCol: String,
      derive: Seq[(String, String)] = Nil): Unit =
    maintainSpec(store, base, summary, Spec("quantile", Seq(valueCol)), groupCols, derive)

  /** [[summarizeDistinct]] over SEVERAL measures: n_rows plus a
    * `kmv_<c>` register column per value column — one maintenance fold
    * and one table where N single-measure distinct summaries would
    * cost N change-feed reads per commit. */
  def summarizeDistinctMulti(base: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String], k: Int = 64): DataFrame =
    summarize(Spec("distinctmulti", valueCols, k), base, groupCols)

  /** [[maintainToCurrent]] for a [[summarizeDistinctMulti]] summary. */
  def maintainDistinctMultiToCurrent(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCols: Seq[String], k: Int = 64,
      derive: Seq[(String, String)] = Nil): Unit =
    maintainSpec(store, base, summary, Spec("distinctmulti", valueCols, k), groupCols, derive)

  /** [[summarizeMulti]] extended with per-measure extrema: n_rows plus
    * `nn_<c>`, `sum_<c>`, `min_<c>`, `max_<c>` for every value column —
    * ONE summary (and one maintenance fold) serving the full TPC-H-Q1
    * aggregate menu (count/sum/avg/min/max over several measures). */
  def summarizeMultiMinMax(base: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame =
    summarize(Spec("multiminmax", valueCols), base, groupCols)

  /** [[maintainToCurrent]] for a [[summarizeMultiMinMax]] summary. */
  def maintainMultiMinMaxToCurrent(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCols: Seq[String],
      derive: Seq[(String, String)] = Nil): Unit =
    maintainSpec(store, base, summary, Spec("multiminmax", valueCols), groupCols, derive)

  /** The extended summary: [[summarize]]'s count/sum plus the exact
    * DECIMAL(18,2) min and max of `valueCol` per group. COUNT/SUM are
    * self-maintainable under ANY feed; MIN/MAX are self-maintainable
    * only under growth (an insert can only tighten an extremum), so
    * [[maintainMinMaxToCurrent]] folds insert-only groups from the
    * change feed and RESCANS just the groups the feed deleted from —
    * bounded by the affected groups' rows, never the base. */
  def summarizeMinMax(base: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    summarize(Spec("minmax", Seq(valueCol)), base, groupCols)

  /** [[maintainToCurrent]] for a [[summarizeMinMax]] summary — same
    * durable watermark/intent protocol, min/max-aware fold. */
  def maintainMinMaxToCurrent(store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCol: String,
      derive: Seq[(String, String)] = Nil): Unit =
    maintainSpec(store, base, summary, Spec("minmax", Seq(valueCol)), groupCols, derive)
}
