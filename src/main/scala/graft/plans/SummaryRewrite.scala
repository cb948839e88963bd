package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, DecimalDivideWithOverflowCheck, EqualNullSafe, EqualTo, Expression, If, IsNull, Literal, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.store.{IncrementalAgg, TableStore}

/** C44: automatic aggregate rewrite over a MAINTAINED summary table —
  * the optimizer half of the materialized-view story (C41 keeps the
  * summary current from the change feed; this makes queries USE it
  * without being rewritten by hand). A `Rule[LogicalPlan]` registered
  * through `spark.experimental.extraOptimizations` (the same runtime
  * hook the Pairs strategy uses; `graft.plans.GraftExtensions` is the
  * declarative twin): when a query aggregates the base table's scan
  * with the summary's grouping and an answerable aggregate shape, the
  * whole Aggregate collapses into a scan of the summary — at 100 TB
  * that is the difference between re-scanning the fact table and
  * reading a group-count-sized relation.
  *
  * The rewrite fires only when ALL of the following hold, and is
  * conservative by construction (a miss costs nothing — the plain
  * aggregate runs):
  *
  *  - the Aggregate's child is a FAITHFUL read of the registered base
  *    table: Project/SubqueryAlias layers that only pass attributes
  *    through (optionally cast LOSSLESSLY — a value-changing cast such
  *    as a decimal truncation breaks faithfulness, because the
  *    aggregate would then range over different values than the
  *    summary was maintained from) under the SAME name, plus
  *    deterministic Filters whose predicates reference ONLY group
  *    columns (groups are atomic under a group-column predicate, so
  *    filtering the summary's rows is exactly filtering the groups),
  *    bottoming at the base's parquet scan — and at NOTHING ELSE:
  *    every scan root path must resolve to the same single
  *    registration, so a multi-directory read (base dir plus extras)
  *    never collapses to a summary that covers fewer rows;
  *  - the grouping is exactly the summary's group columns, and every
  *    aggregate is `count(1)`, `sum(cast(valueCol as decimal(18,2)))`
  *    or `avg(cast(valueCol as decimal(18,2)))` (the
  *    [[IncrementalAgg.summarize]] shape; avg is served as
  *    sum_val/n_rows through the exact expression tree
  *    `Average.evaluateExpression` builds for a decimal child, so the
  *    served value is bit-identical to the plain aggregate's);
  *  - the summary is FRESH: its durable maintenance watermark equals
  *    the base's current generation AND no write-ahead intent is
  *    pending. The probe is READ-ONLY — recovery of an interrupted
  *    maintenance attempt belongs to the maintenance path
  *    ([[IncrementalAgg.maintainToCurrent]]); an optimizer rule must
  *    never write store state (a healing write from plan time would
  *    race the maintainer's unsynchronized properties update). An
  *    undecided intent simply stands the rule down. The probe result
  *    is cached per base and invalidated by the store's commit path
  *    ([[TableStore.commitEpoch]]), so a session compiling many
  *    queries against a registered base pays the O(#generations)
  *    manifest listing once per commit, not once per compile.
  *
  * A base may carry SEVERAL registered summaries (different grains,
  * different value columns); the query routes to the CHEAPEST fresh
  * one that can answer — fewest group columns first — and a stale or
  * mismatched candidate falls through to the next, so one stale
  * coarse rollup degrades to a finer summary before it ever degrades
  * to the base scan.
  *
  * Output attribute ids are preserved (each replacement column is
  * aliased under the original exprId), so parent operators above the
  * rewritten Aggregate resolve unchanged. Single-writer contract:
  * the summary must be maintained through the watermark API, via the
  * same TableStore instance this JVM registered (the commit-epoch
  * cache is in-process, like the rest of the single-writer story). */
object SummaryRewrite extends Rule[LogicalPlan] {

  /** `sums`/`mins`/`maxs` map each BASE value column to the summary
    * column holding its decimal(18,2) sum / min / max — `sum_val`/
    * `min_val`/`max_val` for the canonical single-measure summaries
    * (C41/C41b), `sum_<c>`/`min_<c>`/`max_<c>` per measure for the
    * multi-measure families (C41c, summarizeMultiMinMax). mins/maxs
    * are registered unconditionally; whether the summary actually
    * CARRIES the column is decided by the rewrite's column check, so
    * one registration path serves plain, minmax and multi shapes. */
  final case class Registration(
      store: TableStore, base: String, summary: String,
      groupCols: Seq[String], sums: Map[String, String],
      mins: Map[String, String], maxs: Map[String, String],
      kmv: Map[String, String] = Map.empty, kmvK: Int = 0,
      kmvTypes: Map[String, DataType] = Map.empty,
      derive: Map[String, DeriveTemplate] = Map.empty,
      // C41g: filters BAKED INTO the summary (a quantile summary
      // covers only non-null observations). A query is servable only
      // when its scan-level filters include a template-match of every
      // base filter; the matched conds are then DROPPED (already
      // applied at maintenance time) instead of being re-applied to
      // the summary's rows.
      baseFilters: Seq[DeriveTemplate] = Nil)

  /** C47: the normalized shape of a derived group expression — the
    * tree with every attribute reduced to its NAME, plus the leaf
    * (name, type) vector so an upstream lossless widening (same names,
    * different types, possibly different VALUES through render-
    * sensitive functions) never matches. */
  final case class DeriveTemplate(tree: Expression, leaves: Seq[(String, DataType)])

  private def normalizeExpr(e: Expression): DeriveTemplate =
    DeriveTemplate(
      e.transform { case ar: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(ar.name)) },
      e.collect { case ar: AttributeReference => (ar.name, ar.dataType) })

  /** Resolve derivation SQL against the base relation into templates
    * (registration-time; one plan compile, no job). Templates come
    * from the OPTIMIZED projection, not the analyzed one: the rule
    * matches OPTIMIZER-output grouping expressions, and functions like
    * to_date are RuntimeReplaceable — analysis keeps ParseToDate while
    * the optimizer (which also produced the query side) rewrites it to
    * the Cast the grouping actually carries. */
  private def deriveTemplates(store: TableStore, base: String,
      derive: Seq[(String, String)]): Map[String, DeriveTemplate] =
    if (derive.isEmpty) Map.empty
    else {
      val baseDf = store.readTable(base)
      val baseFields = baseDf.columns.toSet
      val optimized = baseDf
        .select(derive.map { case (n, e) =>
          org.apache.spark.sql.functions.expr(e).as(n) }: _*)
        .queryExecution.optimizedPlan
      val exprs = optimized.asInstanceOf[Project].projectList
      derive.map(_._1).zip(exprs).map { case (n, a) =>
        val child = a match {
          case al: Alias => al.child
          case ar: AttributeReference => ar // identity derivation
        }
        require(child.deterministic, s"derived group column $n must be deterministic")
        // a derivation SHADOWING a physical column is rejected (only
        // identity may reuse the name): maintenance's withColumn would
        // silently replace the physical values, while tryCandidate
        // matches bare-attribute groupings on the physical column BY
        // NAME — a query over the physical column would be served the
        // derived values
        val identity = child match {
          case ar: AttributeReference => ar.name == n
          case _ => false
        }
        require(!baseFields.contains(n) || identity,
          s"derived column '$n' shadows a physical column of '$base' — " +
            "pick a fresh name (only the identity derivation may reuse one)")
        n -> normalizeExpr(child)
      }.toMap
    }

  /** The registered derived-column name a grouping expression matches
    * (None: not a registered derivation for this candidate). */
  private def deriveName(e: Expression, reg: Registration): Option[String] =
    if (reg.derive.isEmpty) None
    else {
      lazy val norm = normalizeExpr(e)
      reg.derive.collectFirst { case (n, t) if t == norm => n }
    }

  // keyed by the base table's live data directory — the scan identity.
  // Scheme-normalized (a parquet scan's rootPaths carry `file:`/`hdfs:`
  // prefixes; the store's path string may not). A base can carry
  // SEVERAL registered summaries (different grains, different value
  // columns); the rewrite routes each query to the cheapest fresh one
  // that can answer it.
  private val registry = new ConcurrentHashMap[String, List[Registration]]()

  private final case class Freshness(store: TableStore, epoch: Long,
      baseGen: Int, sig: (Long, Long, Long), fresh: Boolean)
  private val freshCache = new ConcurrentHashMap[String, Freshness]()

  /** Store probes actually performed (cache misses) — the PlanAudit
    * hook proving consecutive compiles don't re-list the store. */
  private[graft] val freshnessProbes = new AtomicLong(0L)

  // ── C46d: the servability probe ─────────────────────────────────────
  //
  // At 100 TB a silent fallback to a fact scan is an incident; the
  // operator's question is "WHY didn't my MV serve this query". The
  // rewrite already computes every answer on its way to standing down —
  // when a probe buffer is armed (explainServe), each candidate attempt
  // logs its first failing check (or "served"). Zero cost when not
  // probing: one ThreadLocal read per candidate.
  final case class ServeProbe(summary: String, base: String, outcome: String)
  private val probe =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[ServeProbe]]()
  private def logProbe(reg: Registration, outcome: String): Unit = {
    val b = probe.get()
    if (b != null) b += ServeProbe(reg.summary, reg.base, outcome)
    ()
  }

  /** Re-optimize `df`'s plan with the probe armed and report, per
    * registered summary, whether the rewrite served it and (if not)
    * the FIRST check that stood it down — "served", "grouping
    * mismatch: …", "unservable predicate: …", "unservable aggregate:
    * …", "missing summary column(s): …", "stale …", or "not a
    * candidate …" for registrations whose base the query never reads.
    * Metadata-only: compiles the plan (freshness probes included), runs
    * no job. A summary attempted more than once (e.g. with and without
    * a HAVING pairing) reports its first attempt. */
  def explainServe(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame): Seq[ServeProbe] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[ServeProbe]
    probe.set(buf)
    try org.apache.spark.sql.graftx.bridge
      .ofRows(spark, df.queryExecution.logical)
      .queryExecution.optimizedPlan
    finally probe.remove()
    val attempted = buf.map(p => (p.summary, p.base)).toSet
    val silent = registry.values().asScala.flatten
      .filterNot(r => attempted.contains((r.summary, r.base)))
      .map(r => ServeProbe(r.summary, r.base,
        "not a candidate: the query has no servable aggregate over this base"))
      .toSeq
    // a summary may be attempted more than once (a Filter+Aggregate
    // pairing, then the bare Aggregate during descent): a served
    // attempt wins, else the first stand-down reason
    val order = scala.collection.mutable.LinkedHashMap.empty[(String, String), ServeProbe]
    buf.foreach { p =>
      val k = (p.summary, p.base)
      order.get(k) match {
        case Some(prev) if prev.outcome == "served" =>
        case Some(_) if p.outcome == "served" => order(k) = p
        case Some(_) =>
        case None => order(k) = p
      }
    }
    order.values.toSeq ++ silent
  }

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Register a maintained summary for rewrite and install the rule on
    * the session's experimental optimizations (idempotent per
    * (base, summary); re-registering a summary replaces its entry). */
  def register(spark: SparkSession, store: TableStore, base: String, summary: String,
      groupCols: Seq[String], valueCol: String,
      derive: Seq[(String, String)] = Nil): Unit =
    registerSpec(spark, store, base, summary, groupCols, IncrementalAgg.Spec("sum", Seq(valueCol)), derive)

  /** Register a C41c MULTI-measure summary ([[IncrementalAgg
    * .summarizeMulti]]'s `sum_<c>` naming). */
  def registerMulti(spark: SparkSession, store: TableStore, base: String,
      summary: String, groupCols: Seq[String], valueCols: Seq[String],
      derive: Seq[(String, String)] = Nil): Unit =
    registerSpec(spark, store, base, summary, groupCols, IncrementalAgg.Spec("multi", valueCols), derive)

  /** Register a C41d distinct-count (KMV) summary ([[IncrementalAgg
    * .summarizeDistinct]]): serves `GraftFunctions.kmvDistinct(v, k)`
    * aggregates bit-identically (KMV union is exact set algebra). The
    * base column's type is captured HERE: the sketch hashes the
    * column's STRING RENDERING, so a query whose attribute was
    * losslessly WIDENED upstream (different render) must not match. */
  def registerDistinct(spark: SparkSession, store: TableStore, base: String,
      summary: String, groupCols: Seq[String], valueCol: String, k: Int,
      derive: Seq[(String, String)] = Nil): Unit =
    registerSpec(spark, store, base, summary, groupCols,
      IncrementalAgg.Spec("distinct", Seq(valueCol), k), derive)

  /** Register a MULTI-MEASURE distinct-count summary ([[IncrementalAgg
    * .summarizeDistinctMulti]]'s `kmv_<c>` naming) — one fold, one
    * table, serving `kmvDistinct(c, k)` for every registered measure. */
  def registerDistinctMulti(spark: SparkSession, store: TableStore, base: String,
      summary: String, groupCols: Seq[String], valueCols: Seq[String], k: Int,
      derive: Seq[(String, String)] = Nil): Unit =
    registerSpec(spark, store, base, summary, groupCols,
      IncrementalAgg.Spec("distinctmulti", valueCols, k), derive)

  /** C41g: register a QUANTILE-SKETCH summary ([[IncrementalAgg
    * .summarizeQuantile]]) — the A46 integer log-histogram maintained
    * as per-(group, bucket) COUNTER rows. The served query shape is
    * `Analytics.valueSketch(base, groups, v)` — an aggregate grouped
    * by (groups, bin_id, bin_upper) over the units-not-null filter —
    * so bin_id/bin_upper register as DERIVED group columns and the
    * filter registers as a BASE filter. The templates are extracted
    * from the optimizer's output of the very same Column constructions
    * valueSketch uses ([[faithfulScan]] inlining, identical to what
    * the rule sees at query time), so the match is by construction. */
  def registerQuantile(spark: SparkSession, store: TableStore, base: String,
      summary: String, groupCols: Seq[String], valueCol: String,
      derive: Seq[(String, String)] = Nil): Unit =
    registerSpec(spark, store, base, summary, groupCols,
      IncrementalAgg.Spec("quantile", Seq(valueCol)), derive)

  /** The one [[Registration]] builder: what a summary of `spec`'s kind
    * can serve, named by the spec's stored columns. Count/sum kinds
    * register sum/min/max maps (a kind without extrema stands down on a
    * min/max query as a missing column); KMV kinds capture each
    * measure's base type; quantile registers its bucket columns as
    * derived groups and its not-null filter as a base filter. */
  private[graft] def registerSpec(spark: SparkSession, store: TableStore, base: String,
      summary: String, groupCols: Seq[String], spec: IncrementalAgg.Spec,
      derive: Seq[(String, String)]): Unit = {
    def named(on: Boolean, prefix: String): Map[String, String] =
      if (on) spec.values.map(c => c -> (prefix + spec.suffix(c))).toMap else Map.empty
    val sums = !spec.kmv && !spec.quantile
    val (derived, filters) =
      if (spec.quantile) quantileTemplates(store, base, spec.values.head, derive)
      else (deriveTemplates(store, base, derive), Nil)
    lazy val schema = store.readTable(base).schema
    registerEntry(spark, Registration(store, base, summary, spec.keys(groupCols),
      named(sums, "sum_"), named(sums, "min_"), named(sums, "max_"),
      kmv = named(spec.kmv, "kmv_"), kmvK = if (spec.kmv) spec.k else 0,
      kmvTypes = if (spec.kmv) spec.values.map(c => c -> schema(c).dataType).toMap else Map.empty,
      derive = derived, baseFilters = filters))
  }

  /** A quantile summary's derived-group and base-filter templates: the
    * bucket columns valueSketch computes, plus any user derivations. */
  private def quantileTemplates(store: TableStore, base: String, valueCol: String,
      derive: Seq[(String, String)]): (Map[String, DeriveTemplate], Seq[DeriveTemplate]) = {
    val baseDf = store.readTable(base)
    // C47×C41g: user-derived group columns (day → to_date(ts)) compose
    // with the bucket derivations — "p99 per day, maintained". Strict
    // no-shadowing here (no identity carve-out: a quantile grouping
    // that IS a physical column needs no derivation at all)
    derive.foreach { case (n, _) =>
      require(!baseDf.columns.contains(n),
        s"derived column '$n' shadows a physical column of '$base' — pick a fresh name")
    }
    val df = IncrementalAgg.derivedView(baseDf, derive)
    val probe = graft.operators.Analytics.withSketchBuckets(
        df.select(df.columns.toIndexedSeq.map(c =>
            org.apache.spark.sql.functions.col(graft.Identifiers.quote(c))) :+
          graft.operators.Analytics.sketchUnits(valueCol).as("__x"): _*)
          .filter(org.apache.spark.sql.functions.col("__x").isNotNull))
      .select((derive.map(_._1) ++ Seq("bin_id", "bin_upper")).map(c =>
        org.apache.spark.sql.functions.col(graft.Identifiers.quote(c))): _*)
    templatesFromPlan(probe, derive.map(_._1) ++ Seq("bin_id", "bin_upper"))
  }

  /** Normalized templates for named output columns of a probe plan,
    * plus the templates of every scan-level filter — extracted through
    * [[faithfulScan]]'s OWN inlining, so registration-side and
    * query-side trees normalize through the identical code path. */
  private def templatesFromPlan(probe: org.apache.spark.sql.DataFrame,
      outNames: Seq[String]): (Map[String, DeriveTemplate], Seq[DeriveTemplate]) = {
    val plan = probe.queryExecution.optimizedPlan
    val (_, conds, subst) = faithfulScan(plan).getOrElse(
      throw new IllegalArgumentException(
        "summary registration probe did not reduce to a faithful scan: " + plan))
    def inline(e: Expression): Expression = e.transform {
      case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
    }
    val byName = plan.output.map(a => a.name -> a).toMap
    (outNames.map(n => n -> normalizeExpr(inline(byName(n)))).toMap,
      conds.map(c => normalizeExpr(inline(c))))
  }

  private def registerEntry(spark: SparkSession, reg: Registration): Unit = {
    val key = normalize(reg.store.dataLocation(reg.base))
    registry.compute(key, (_, old) =>
      reg :: Option(old).getOrElse(Nil).filterNot(r =>
        r.summary == reg.summary && (r.store eq reg.store)))
    freshCache.remove(key + "::" + reg.summary)
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  /** Drop every registration of `base` (tests; decommissioning). */
  def unregister(store: TableStore, base: String): Unit = {
    val key = normalize(store.dataLocation(base))
    Option(registry.remove(key)).getOrElse(Nil)
      .foreach(r => freshCache.remove(key + "::" + r.summary))
    ()
  }

  /** Split a predicate into its AND-conjuncts. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** transformDown so a HAVING Filter is seen TOGETHER WITH its
    * Aggregate child (bottom-up would rewrite the Aggregate first and
    * hide the pair). Group-column HAVING is already below the Aggregate
    * when the rule runs (the main optimizer's predicate pushdown) and
    * lands on the summary through the scan-filter path; what only THIS
    * pairing can push is HAVING over the SERVED AGGREGATES themselves
    * (`HAVING count(*) > 5`): after the rewrite those are stored summary
    * columns, so on the exact-grain path the predicate moves below the
    * Project onto the summary relation, where the parquet source prunes
    * row groups on it — the difference between reading a large summary
    * and reading the qualifying slice. */
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    plan.transformDown {
      case f @ Filter(cond, agg @ Aggregate(groupings, aggExprs, child, _))
          if cond.deterministic =>
        rewrite(agg, groupings, aggExprs, child, conjuncts(cond)).getOrElse(f)
      case agg @ Aggregate(groupings, aggExprs, child, _) =>
        rewrite(agg, groupings, aggExprs, child, Nil).getOrElse(agg)
    }
  }

  /** Strip faithful Project/SubqueryAlias/Filter layers down to the
    * scan, collecting filter predicates AND computed projection columns
    * on the way; None on anything that could change row content. A
    * COMPUTED column (the optimizer's PullOutGroupingExpressions emits
    * `cast(ts as date) AS _groupingexpression` below the Aggregate —
    * also any user-derived column) does not break faithfulness: rows
    * are unchanged, the new attribute is just a name for an expression
    * over them, so it is returned as an exprId→expression substitution
    * for the caller to INLINE before matching. Only deterministic
    * computations qualify. Filter predicates are vetted against the
    * group columns by the caller (after inlining). */
  private def faithfulScan(
      p: LogicalPlan): Option[(Seq[String], Seq[Expression],
        Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression])] = p match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some((fs.location.rootPaths.map(_.toString), Nil, Map.empty))
    case SubqueryAlias(_, c) => faithfulScan(c)
    case Project(list, c) =>
      faithfulScan(c).flatMap { case (paths, conds, subst) =>
        def inline(e: Expression): Expression = e.transform {
          case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
        }
        val extra = scala.collection.mutable.Map.empty[
          org.apache.spark.sql.catalyst.expressions.ExprId, Expression]
        val ok = list.forall {
          case e if faithfulColumn(e) => true
          case a @ Alias(e, _) if e.deterministic =>
            extra += a.exprId -> inline(e); true // nested computed cols inline too
          case _ => false
        }
        if (ok) Some((paths, conds, subst ++ extra)) else None
      }
    case Filter(cond, c) if cond.deterministic =>
      faithfulScan(c).map { case (paths, conds, subst) => (paths, cond +: conds, subst) }
    case _ => None
  }

  private def faithfulColumn(e: NamedExpression): Boolean = e match {
    case _: AttributeReference => true
    case a @ Alias(ar: AttributeReference, _) => ar.name == a.name
    case a @ Alias(c: Cast, _) => c.child match {
      case ar: AttributeReference =>
        ar.name == a.name && losslessCast(ar.dataType, c.dataType)
      case _ => false
    }
    case _ => false
  }

  /** True only when every value of `from` maps injectively and exactly
    * into `to` — the cast neither truncates, rounds, overflows, nor
    * merges distinct values (so grouping, filtering, and summing over
    * the cast column equal the same over the original). Anything not
    * provably lossless is NOT faithful; conservative by design. */
  private def losslessCast(from: DataType, to: DataType): Boolean = {
    def intDigits(t: DataType): Int = t match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10
      case LongType => 19; case _ => Int.MaxValue
    }
    (from, to) match {
      case (f, t) if f == t => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType, FloatType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (f @ (ByteType | ShortType | IntegerType | LongType), t: DecimalType) =>
        t.precision - t.scale >= intDigits(f)
      case _ => false
    }
  }

  /** The summary column holding a measure's NON-NULL count. */
  private def nnOf(sumCol: String): String =
    if (sumCol == "sum_val") "nn_val" else "nn_" + sumCol.stripPrefix("sum_")

  /** One matched servable aggregate: which summary columns answer it
    * and the optional FILTER-clause predicate (group-column-only,
    * verified by [[matchAgg]]). `needed` drives the column-presence
    * check — min/max columns exist only on minmax-capable summaries,
    * so a plain summary fails there and the candidate falls through. */
  private sealed trait ServedAgg {
    def filter: Option[Expression]; def needed: Seq[String]
  }
  private final case class SCountStar(filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq("n_rows")
  }
  private final case class SCountCol(nn: String, filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq(nn)
  }
  private final case class SSum(sumCol: String, filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq(sumCol)
  }
  private final case class SAvg(sumCol: String, nn: String,
      filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq(sumCol, nn)
  }
  private final case class SMin(col: String, filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }
  private final case class SMax(col: String, filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }
  private final case class SKmv(col: String, filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }
  /** C44q: `COUNT(DISTINCT <group column>)` — groups are the summary's
    * PK, so the summary holds exactly one row per full group
    * combination and the distinct set of any group column within a
    * coarser output group is readable off the summary's rows (exact,
    * not an estimate). Measures stay unservable under DISTINCT. */
  private final case class SCountDistinctGroup(col: String,
      filter: Option[Expression]) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }

  /** The same served aggregate under a different FILTER predicate —
    * the join path validates dim-referencing filters itself and
    * re-attaches them after the filter-free shape match. */
  private def withFilter(sa: ServedAgg, f: Option[Expression]): ServedAgg =
    if (f.isEmpty) sa
    else sa match {
      case SCountStar(_) => SCountStar(f)
      case SCountCol(nn, _) => SCountCol(nn, f)
      case SSum(c, _) => SSum(c, f)
      case SAvg(s, nn, _) => SAvg(s, nn, f)
      case SMin(c, _) => SMin(c, f)
      case SMax(c, _) => SMax(c, f)
      case SKmv(c, _) => SKmv(c, f)
      case SCountDistinctGroup(c, _) => SCountDistinctGroup(c, f)
    }

  /** `cast(<v> as decimal(18,2))` over a summarized value column or a
    * registered DERIVED value expression (sum(price*qty) — the measure
    * maintenance already takes through derivedView), or a bare `<v>`
    * already of that type — the child shapes the summarize family
    * sums. Returns the matched value-column/derivation name. */
  private def valueTarget(e: Expression, cols: Map[String, String],
      reg: Registration): Option[String] = e match {
    case c: Cast => c.dataType match {
      case d: DecimalType if d.precision == 18 && d.scale == 2 => c.child match {
        case ar: AttributeReference if cols.contains(ar.name) => Some(ar.name)
        case other => deriveName(other, reg).filter(cols.contains)
      }
      case _ => None
    }
    case ar: AttributeReference if cols.contains(ar.name) =>
      ar.dataType match {
        case d: DecimalType if d.precision == 18 && d.scale == 2 => Some(ar.name)
        case _ => None
      }
    case _ => None
  }

  /** `count(v)` (non-null count): the BARE attribute or a registered
    * derived value expression — `count(cast(v as decimal(18,2)))` is
    * NOT the same count (a non-ANSI overflow casts to null), but the
    * maintained nn column of a DERIVED measure counts the expression's
    * own null-ness, which is exactly what count(<expr>) asks. */
  private def countTarget(child: Expression, reg: Registration): Option[String] = child match {
    case ar: AttributeReference if reg.sums.contains(ar.name) =>
      Some(nnOf(reg.sums(ar.name)))
    case e => deriveName(e, reg).filter(reg.sums.contains)
      .map(n => nnOf(reg.sums(n)))
  }

  /** Match one output aggregate against the candidate registration.
    * DISTINCT aggregates serve only as `COUNT(DISTINCT <group col>)`
    * (C44q — exact off the summary's PK rows); DISTINCT over measures
    * never serves (kmvDistinct is the estimate path). A FILTER clause
    * serves when its predicate is deterministic and references ONLY
    * the candidate's group columns — group columns are constant within
    * a group, so the predicate keeps or drops a group's rows AS A
    * WHOLE and is answerable over summary rows (exact groupings: a
    * conditional over the row; subset rollups: aggregate over
    * `If(p, col, null)`). Anything else (value-column filters,
    * nondeterminism) → None → the candidate falls through to the
    * base scan. */
  /** References of `e` not covered by a registered derived-group
    * subtree — the servability test for predicates: empty-or-group-col
    * means the predicate is answerable over summary rows. */
  private def unservableRefs(e: Expression, reg: Registration): Set[String] =
    if (deriveName(e, reg).exists(n => reg.groupCols.contains(n))) Set.empty
    else e match {
      case ar: AttributeReference => Set(ar.name)
      case other => other.children.flatMap(unservableRefs(_, reg)).toSet
    }

  /** The aggregate's FILTER clause if servable: absent, or a
    * deterministic predicate answerable over summary rows. */
  private def servableFilter(ae: AggregateExpression,
      reg: Registration): Option[Option[Expression]] = ae.filter match {
    case None => Some(None)
    case Some(p) if p.deterministic &&
        unservableRefs(p, reg).subsetOf(reg.groupCols.toSet) => Some(Some(p))
    case _ => None
  }

  private def matchAgg(e: Expression, reg: Registration): Option[ServedAgg] = e match {
    case ae: AggregateExpression if ae.isDistinct =>
      servableFilter(ae, reg).flatMap { f =>
        ae.aggregateFunction match {
          case Count(Seq(child)) =>
            val n = child match {
              case ar: AttributeReference if !reg.derive.contains(ar.name) => Some(ar.name)
              case other => deriveName(other, reg)
            }
            n.filter(reg.groupCols.contains).map(SCountDistinctGroup(_, f))
          case _ => None
        }
      }
    case ae: AggregateExpression if !ae.isDistinct =>
      val fil = servableFilter(ae, reg)
      fil.flatMap { f =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(_, _))) => Some(SCountStar(f))
          case Count(Seq(child)) => countTarget(child, reg).map(SCountCol(_, f))
          case s: Sum => valueTarget(s.child, reg.sums, reg)
            .map(v => SSum(reg.sums(v), f))
          case a: Average => valueTarget(a.child, reg.sums, reg)
            .map { v => val sc = reg.sums(v); SAvg(sc, nnOf(sc), f) }
          case m: Min => valueTarget(m.child, reg.mins, reg)
            .map(v => SMin(reg.mins(v), f))
          case m: Max => valueTarget(m.child, reg.maxs, reg)
            .map(v => SMax(reg.maxs(v), f))
          // kmvDistinct(v, k) over a registered sketch column. The
          // function wrapper casts the value to string (SimplifyCasts
          // drops it when v already IS one); either shape must
          // reference the base column at its ORIGINAL type — the
          // render the sketch hashed. A group-column FILTER serves
          // (all-or-nothing per group; the empty set estimates 0).
          case KmvDistinct(child, k, _, _) if reg.kmv.nonEmpty && k == reg.kmvK =>
            val ar = child match {
              case c: Cast if c.dataType == StringType => c.child match {
                case a: AttributeReference => Some(a)
                case _ => None
              }
              case a: AttributeReference if a.dataType == StringType => Some(a)
              case _ => None
            }
            ar.filter(a => reg.kmvTypes.get(a.name).contains(a.dataType))
              .map(a => SKmv(reg.kmv(a.name), f))
          case _ => None
        }
      }
    case _ => None
  }

  /** The exact expression tree `Average.evaluateExpression` builds for
    * a decimal(18,2) child, applied to the summary's (sum_val, n_rows)
    * — sumDataType decimal(28,2), resultType decimal(22,6), ANSI flag
    * from the live conf — so a served avg is bit-identical to the
    * plain aggregate's, including the divide's rounding and the
    * empty-group null. */
  private def avgFromSummary(sumVal: Expression, nRows: Expression): Expression = {
    val resultType = DecimalType(22, 6)
    If(EqualTo(nRows, Literal(0L)),
      Literal(null, resultType),
      DecimalDivideWithOverflowCheck(
        Cast(sumVal, DecimalType(28, 2)),
        Cast(nRows, DecimalType(20, 0)), // DecimalType.LongDecimal (private[sql])
        // 5th param is nullOnOverflow — Average.evaluateExpression
        // passes `evalMode != ANSI`: non-ANSI nulls, ANSI throws
        resultType, null, !SQLConf.get.ansiEnabled))
  }

  /** Read-only freshness, cached per base and invalidated by (a) the
    * store's in-process commit epoch (any manifest commit or
    * properties write bumps it) and (b) a cheap OUT-OF-BAND staleness
    * signature — mtimes of the base's manifest dir and the summary's
    * props file — so a SECOND process committing to the same directory
    * cannot leave this session serving a stale summary silently (the
    * r11 "sharp edge"; the in-process epoch can't see foreign writers).
    * The signature costs two getFileStatus calls per compile on a
    * cache hit; the O(#generations) full probe still runs only when
    * either signal moved. */
  private def isFresh(key: String, reg: Registration): Boolean = {
    val cacheKey = key + "::" + reg.summary
    // epoch FIRST: a commit landing between this read and the probe
    // makes the cached entry stale-by-epoch immediately, so a probe
    // can never be served past a change it didn't see
    val epoch = reg.store.commitEpoch.get()
    val cached = freshCache.get(cacheKey)
    if (cached != null && (cached.store eq reg.store) && cached.epoch == epoch) {
      // the signature is generation-anchored: existence of the NEXT
      // manifest past the cached probe's base generation (content-
      // derived — no mtime-granularity hole, object-store safe) plus
      // the summary's props mtime; any movement forces a re-probe
      val sig = reg.store.stalenessSignature(reg.base, reg.summary, cached.baseGen)
      if (cached.sig == sig && sig._1 == 0L && sig._2 >= 0) return cached.fresh
    }
    freshnessProbes.incrementAndGet()
    val (fresh, baseGen) = try {
      val g = reg.store.snapshots(reg.base).last._1
      (reg.store.exists(reg.summary) &&
        IncrementalAgg.maintainedGenReadOnly(reg.store, reg.base, reg.summary)
          .contains(g), g)
    } catch { case _: Exception => (false, -1) }
    // the signature is taken AFTER the probe: if a foreign commit
    // landed mid-probe, m{baseGen+1} now exists, the first component
    // reads −1 and the entry can never satisfy the cache check above —
    // every compile re-probes until a probe sees a settled state
    val sig = if (baseGen >= 0)
      reg.store.stalenessSignature(reg.base, reg.summary, baseGen)
    else (-1L, -1L, -1L)
    freshCache.put(cacheKey, Freshness(reg.store, epoch, baseGen, sig, fresh))
    fresh
  }

  private def rewrite(agg: Aggregate, groupings0: Seq[Expression],
      aggExprs0: Seq[NamedExpression], child: LogicalPlan,
      having: Seq[Expression]): Option[LogicalPlan] = {
    val (paths, conds0, subst) = faithfulScan(child).getOrElse(
      return rewriteExpand(agg, groupings0, aggExprs0, child, having)
        .orElse(rewriteJoin(agg, groupings0, aggExprs0, child, having)))
    // inline computed projection columns so matching sees the real
    // expression trees (derived groupings; pulled-out grouping exprs)
    def inline(e: Expression): Expression = e.transform {
      case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
    }
    val groupings = groupings0.map(inline)
    // a TOP-LEVEL substituted attribute must stay named: re-alias the
    // inlined expression under the original name and exprId
    val aggExprs: Seq[NamedExpression] = aggExprs0.map {
      case ar: AttributeReference if subst.contains(ar.exprId) =>
        Alias(subst(ar.exprId), ar.name)(exprId = ar.exprId)
      case ne => inline(ne).asInstanceOf[NamedExpression]
    }
    // split into conjuncts: a Filter node carries `a AND b` as one
    // expression, but baked-base-filter matching is per-conjunct (the
    // r14 fix — a group-col filter ANDed onto the baked units filter
    // used to fail the template match wholesale and stand down)
    val conds = conds0.map(inline).flatMap(conjuncts)
    // EVERY root path must normalize to ONE registered base directory —
    // a scan of the base dir plus anything else covers more rows than
    // any summary and must never collapse
    if (paths.isEmpty) return None
    val key = paths.map(normalize).distinct match {
      case Seq(k) => k
      case _      => return None
    }
    val candidates = Option(registry.get(key)).getOrElse(return None)
    // each grouping must be a bare attribute or (per candidate) a
    // registered DERIVED expression; they must be a SUBSET of the
    // candidate's group columns (exact → read the rows; strict subset
    // incl. the empty set → re-aggregate, lossless for this family).
    // Resolution is per-candidate (derivations differ), so routing
    // happens inside tryCandidate; cheapest-first order is preserved.
    candidates
      .sortBy(_.groupCols.size)
      .iterator
      .map(c => tryCandidate(agg, groupings, aggExprs, conds, key, c, having))
      .collectFirst { case Some(p) => p }
  }

  private def tryCandidate(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], conds: Seq[Expression],
      key: String, reg: Registration,
      having: Seq[Expression]): Option[LogicalPlan] = {
    def no(why: String): Option[LogicalPlan] = { logProbe(reg, why); None }
    val groupNames: Seq[String] = groupings.map {
      // a bare attribute whose name collides with a registered
      // derivation must template-match it (true only for the identity
      // derivation) — registration already forbids shadowing, this is
      // the in-rule backstop for hand-built Registrations
      case ar: AttributeReference if !reg.derive.contains(ar.name) => ar.name
      case e => deriveName(e, reg).getOrElse(return no(
        s"grouping mismatch: ${e.sql} is not a group column or registered derivation"))
    }
    if (!groupNames.toSet.subsetOf(reg.groupCols.toSet))
      return no("grouping mismatch: " +
        groupNames.filterNot(reg.groupCols.contains).mkString(", ") +
        " not in the summary's group columns")
    val exactGrouping = groupNames.sorted == reg.groupCols.sorted
    // scan-level filters: conds template-matching a registered BASE
    // filter are already baked into the summary's rows and DROP here;
    // every registered base filter must be present in the query
    // (otherwise the query ranges over more rows than the summary
    // covers); the remaining conds may reference ONLY group columns
    // (then a group survives the filter as a whole or not at all —
    // answerable by filtering the summary's rows)
    val (baked, rest) =
      if (reg.baseFilters.isEmpty) (Nil, conds)
      else conds.partition(c => reg.baseFilters.contains(normalizeExpr(c)))
    if (!reg.baseFilters.forall(bf => baked.exists(c => normalizeExpr(c) == bf)))
      return no("unservable predicate: the query lacks a filter baked " +
        "into the summary (it ranges over more rows than the summary covers)")
    // a predicate reference hidden inside a registered DERIVED
    // expression is servable (the summary row carries the derived
    // column — e.g. HAVING day = X pushed down as to_date(ts) = X):
    // only the references NOT covered by a derived subtree count
    rest.find(c => !unservableRefs(c, reg).subsetOf(reg.groupCols.toSet)) match {
      case Some(c) => return no(
        s"unservable predicate: ${c.sql} references non-group columns")
      case None =>
    }
    // classify every output — a grouping attribute, a derived
    // grouping, or a servable aggregate — collecting the summary
    // columns this query needs (min/max/kmv columns exist only on the
    // capable summaries; a plain summary fails the presence check and
    // the candidate falls through)
    val needCols = scala.collection.mutable.LinkedHashSet.empty[String]
    aggExprs.foreach {
      case ar: AttributeReference if groupNames.contains(ar.name) =>
      case a: Alias => a.child match {
        case ar: AttributeReference if groupNames.contains(ar.name) =>
        case e if deriveName(e, reg).exists(groupNames.contains) =>
        case e => matchAgg(e, reg) match {
          case Some(sa) => needCols ++= sa.needed
          case None => return no(s"unservable aggregate: ${e.sql}")
        }
      }
      case other => return no(s"unservable output: ${other.sql}")
    }
    if (!isFresh(key, reg))
      return no("stale: the maintenance watermark is behind the base's " +
        "current generation (maintain() or autoMaintainOn() heals it)")

    // the OPTIMIZED read: the store's type-render projection is all
    // identity casts for a summary's SQL types, and optimizing them
    // away here leaves the bare relation — so pushed predicates sit
    // DIRECTLY on the scan (parquet row-group pruning) instead of
    // above a cast Project (re-entering the optimizer inside a rule is
    // the same recursion Spark's own subquery rewrite performs)
    val sumPlan = reg.store.readTable(reg.summary).queryExecution.optimizedPlan
    val byName = sumPlan.output.map(a => a.name -> a).toMap
    // the summary must carry the columns THIS query needs
    if (!(reg.groupCols ++ needCols.toSeq).forall(byName.contains))
      return no("missing summary column(s): " +
        (reg.groupCols ++ needCols.toSeq).filterNot(byName.contains).mkString(", "))

    // a base-side attribute remapped to its summary twin; cast back to
    // the referenced type when a faithful (lossless) widening sat
    // between the scan and the reference, so the predicate stays
    // well-typed and value-identical
    def remap(e: Expression): Expression = e.transform {
      case ar: AttributeReference if byName.contains(ar.name) =>
        val s = byName(ar.name)
        if (s.dataType == ar.dataType) s else Cast(s, ar.dataType)
    }

    // derived subtrees FIRST (their leaf attrs must not be remapped
    // piecemeal), then the by-name remap for bare group columns
    def remapCond(e: Expression): Expression = remap(e.transformDown {
      case sub if deriveName(sub, reg).exists(n =>
        reg.groupCols.contains(n) && byName.contains(n)) =>
        byName(deriveName(sub, reg).get)
    })

    val summaryConds = rest.map(remapCond)

    val minCols = reg.mins.values.toSet
    val maxCols = reg.maxs.values.toSet
    val kmvCols = reg.kmv.values.toSet
    // SUBSET-grouping rollup aggregate: one alias per distinct
    // (summary column, FILTER predicate) pair — one query can need the
    // same column both raw and under several different predicates
    val rolledAliases = scala.collection.mutable.LinkedHashMap
      .empty[(String, Option[Expression]), Alias]
    def rolledOf(n: String, f: Option[Expression]): Attribute =
      rolledAliases.getOrElseUpdate((n, f.map(p => remapCond(p).canonicalized)), {
        val raw = byName(n)
        val child = f match {
          case None => raw
          case Some(p) => If(remapCond(p), raw, Literal.create(null, raw.dataType))
        }
        val fn = if (minCols(n)) Min(child).toAggregateExpression()
          else if (maxCols(n)) Max(child).toAggregateExpression()
          else if (kmvCols(n)) KmvMergeStrAgg(child, reg.kmvK).toAggregateExpression()
          else Sum(child).toAggregateExpression()
        Alias(fn, "__" + n + "_" + rolledAliases.size)()
      }).toAttribute
    // C44q rollup: exact distinct count of a group column over summary
    // rows (one row per full group combo; COUNT DISTINCT skips the
    // If-null of a failing FILTER predicate). Keyed apart from the
    // measure roll-ups — the same column name can never collide, but
    // the same GROUP column may roll under several predicates.
    def rolledDistinctOf(n: String, f: Option[Expression]): Attribute =
      rolledAliases.getOrElseUpdate(("cd:" + n, f.map(p => remapCond(p).canonicalized)), {
        val raw = byName(n)
        val child = f match {
          case None => raw
          case Some(p) => If(remapCond(p), raw, Literal.create(null, raw.dataType))
        }
        Alias(Count(Seq(child)).toAggregateExpression(isDistinct = true),
          "__cd_" + n + "_" + rolledAliases.size)()
      }).toAttribute

    // per-output serving cells. Exact grouping reads the summary row's
    // column, conditionally nulled/zeroed under a FILTER predicate
    // (empty-set semantics: sum/avg/min/max → null, counts → 0, kmv
    // estimate → 0). Subset groupings aggregate the (filtered) cells —
    // counts add, decimal(18,2) sums add exactly in any order, avg
    // divides the rolled-up pair through the same Average tree,
    // min-of-mins / max-of-maxes ARE the group's extrema, and KMV
    // register union is exact set algebra — so every served shape
    // stays bit-identical to the plain aggregate over the base.
    def cell(n: String, f: Option[Expression]): Expression =
      if (exactGrouping) f match {
        case None => byName(n)
        case Some(p) => If(remapCond(p), byName(n), Literal.create(null, byName(n).dataType))
      }
      else rolledOf(n, f)
    // counts restore 0-semantics: sum over zero rolled rows (a GLOBAL
    // aggregate over an empty summary) and the excluded exact-path
    // branch are both the empty count, which is 0, not null
    def countCell(n: String, f: Option[Expression]): Expression =
      if (exactGrouping) f match {
        case None => byName(n)
        case Some(p) => If(remapCond(p), byName(n), Literal(0L))
      }
      else Coalesce(Seq(rolledOf(n, f), Literal(0L)))

    val projected: Seq[NamedExpression] = agg.output.zip(aggExprs).map {
      case (orig, src) =>
        val replacement: Expression = src match {
          case ar: AttributeReference => remap(ar)
          case a: Alias => a.child match {
            case ar: AttributeReference => remap(ar)
            case e if deriveName(e, reg).exists(groupNames.contains) =>
              byName(deriveName(e, reg).get)
            case e => matchAgg(e, reg) match {
              case Some(SCountStar(f)) => countCell("n_rows", f)
              case Some(SCountCol(nn, f)) => countCell(nn, f)
              case Some(SSum(sc, f)) => cell(sc, f)
              case Some(SAvg(sc, nn, f)) =>
                avgFromSummary(cell(sc, f), countCell(nn, f))
              case Some(SMin(c, f)) => cell(c, f)
              case Some(SMax(c, f)) => cell(c, f)
              case Some(SKmv(c, f)) =>
                if (exactGrouping) f match {
                  case None => KmvEstimateStr(byName(c), reg.kmvK)
                  case Some(p) =>
                    If(remapCond(p), KmvEstimateStr(byName(c), reg.kmvK), Literal(0L))
                }
                else KmvEstimateStr(rolledOf(c, f), reg.kmvK)
              // exact grain: the column is part of the grouping, so its
              // distinct count within the group is 1 — except the NULL
              // group (DISTINCT ignores NULL → 0; the managed define()
              // path makes groups PK-non-null, but register() is public
              // and a hand-registered base may carry a NULL group row) —
              // and 0 when a FILTER drops the group
              case Some(SCountDistinctGroup(c, f)) =>
                if (exactGrouping) {
                  val one = If(IsNull(byName(c)), Literal(0L), Literal(1L))
                  f match {
                    case None => one
                    case Some(p) => If(remapCond(p), one, Literal(0L))
                  }
                }
                else rolledDistinctOf(c, f)
              case None => return None
            }
          }
          case _ => return None
        }
        val cast = if (replacement.dataType == orig.dataType) replacement
                   else Cast(replacement, orig.dataType)
        Alias(cast, orig.name)(exprId = orig.exprId)
    }
    // HAVING conjuncts whose every reference is a served output PUSH
    // BELOW the Project on the exact-grain path: each output exprId
    // substitutes to the expression the Project computes for it (a
    // summary column, or a tree over summary columns already cast to
    // the output type), and the Project is 1:1 over summary rows, so
    // filtering below equals filtering above — but below, a simple
    // comparison like `n_rows > 5` reaches the parquet scan as a
    // pushed filter. Rollup groupings keep HAVING above (the served
    // value only exists after the re-aggregation; no scan to prune).
    val outMap: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression] =
      projected.collect { case a: Alias => a.exprId -> a.child }.toMap
    val (pushed, above) =
      if (having.isEmpty) (Nil, Nil)
      else if (exactGrouping)
        having.partition(c => c.references.forall(r => outMap.contains(r.exprId)))
      else (Nil, having)
    val pushedSubst = pushed.map(_.transform {
      case ar: AttributeReference if outMap.contains(ar.exprId) => outMap(ar.exprId)
    })
    val filteredSummary = (summaryConds ++ pushedSubst) match {
      case Nil => sumPlan
      case cs  => Filter(cs.reduce(And), sumPlan)
    }
    val source: LogicalPlan =
      if (exactGrouping) filteredSummary
      else {
        val groupAttrs: Seq[NamedExpression] = groupNames.map(byName(_))
        Aggregate(groupAttrs, groupAttrs ++ rolledAliases.values.toSeq, filteredSummary)
      }
    val rewritten = Project(projected, source)
    logProbe(reg, "served")
    Some(if (above.isEmpty) rewritten else Filter(above.reduce(And), rewritten))
  }

  // ── C46e: the MV advisor ────────────────────────────────────────────

  /** A `summaries.define(...)` argument set that would make the probed
    * query serve — the advisor's output. `basePath` is the scan's data
    * directory; the facade resolves it to a table name. */
  final case class Recommendation(basePath: String, groupCols: Seq[String],
      deriveCols: Seq[(String, String)], valueCols: Seq[String],
      kind: String, k: Int = 64)

  /** C46e: analyze an AGGREGATE query and recommend the summary that
    * would serve it — the inverse of [[explainServe]]: not "why didn't
    * my MV serve" but "which MV should I define". Reads the first
    * Aggregate over a faithful single-table scan: bare groupings become
    * group columns, expression groupings become derived columns, scan
    * filters contribute their referenced columns AS group columns (a
    * group-column filter is servable; anything else would never serve),
    * `COUNT(DISTINCT x)` adds x as a GROUP column (the C44q exact-serve
    * path — never a sketch swap), kmvDistinct demands a distinct-kind
    * summary, min/max demand a minmax kind. Measures must be the
    * servable `cast(v as decimal(18,2))` shape. A query mixing sketch
    * and arithmetic measures yields TWO recommendations (the kinds
    * maintain different columns). A GLOBAL aggregate recommends the
    * one-group constant derivation define() documents. Empty result:
    * nothing recommendable (no aggregate, unfaithful scan, or an
    * unservable aggregate shape). */
  def recommend(df: org.apache.spark.sql.DataFrame): Seq[Recommendation] = {
    val agg = df.queryExecution.optimizedPlan.collectFirst {
      case a: Aggregate => a }.getOrElse(return Nil)
    // 1) the single-table shape
    faithfulScan(agg.child) match {
      case Some((paths, conds, subst)) =>
        return recommendCore(agg.groupingExpressions, agg.aggregateExpressions,
          conds, subst, AttributeSet.empty, agg.child, paths)
      case None =>
    }
    // 2) grouping sets: Aggregate over Expand over a faithful scan —
    // the advisor maps grouping-set slots back to their source
    // expressions and aggregate slot references to the pass-through
    // sources, then recommends exactly as for the flat aggregate
    // (r15 — the r14 advisor was blind to the Expand and join shapes
    // the rewrite serves)
    agg.child match {
      case Expand(projections, output, ech) =>
        faithfulScan(ech).foreach { case (paths, conds, subst) =>
          def inline(e: Expression): Expression = e.transform {
            case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
          }
          val posOf = output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
          // slot p → Some(source expr) | None for a grouping-id slot
          val slotSrc: Map[Int, Option[Expression]] = output.indices.map { p =>
            val vals = projections.map(_(p))
            if (vals.forall {
                  case Literal(v, t) => v != null && (t == LongType || t == IntegerType)
                  case _ => false
                }) p -> (None: Option[Expression])
            else vals.filter { case Literal(null, _) => false; case _ => true }
              .map(inline).distinct match {
              case Seq(e) if e.deterministic && !e.isInstanceOf[Literal] =>
                p -> Some(e)
              case _ => return Nil
            }
          }.toMap
          val groupIds = agg.groupingExpressions.map {
            case ar: AttributeReference if posOf.contains(ar.exprId) => ar.exprId
            case _ => return Nil
          }.toSet
          val groupings2 = agg.groupingExpressions.flatMap {
            case ar: AttributeReference => slotSrc(posOf(ar.exprId))
          }
          def substSlots(e: Expression): Option[Expression] = {
            var ok = true
            val r = e.transform {
              case ar: AttributeReference if posOf.contains(ar.exprId) =>
                slotSrc(posOf(ar.exprId)) match {
                  case Some(se) => se
                  case None => ok = false; ar
                }
            }
            if (ok) Some(r) else None
          }
          val aggExprs2 = agg.aggregateExpressions.flatMap {
            case ar: AttributeReference => None // grouping slot output
            case a: Alias
                if a.child.references.nonEmpty &&
                  a.child.references.forall(r => groupIds.contains(r.exprId)) &&
                  !a.child.exists(_.isInstanceOf[AggregateExpression]) =>
              None // grouping()/grouping_id() marker output
            case a: Alias =>
              Some(Alias(substSlots(a.child).getOrElse(return Nil), a.name)())
            case _ => return Nil
          }
          return recommendCore(groupings2, aggExprs2, conds, subst,
            AttributeSet.empty, ech, paths)
        }
      case _ =>
    }
    // 3) a star join: recommend from the fact leaf — the leaf whose
    // scan is faithful and whose join keys / groupings / measures all
    // resolve on its side; dim-side groupings and pass-through outputs
    // serve verbatim and contribute nothing to the summary's grain
    faithfulOverJoin(agg.child).toSeq.flatMap { case (join, outer) =>
      def inlineOuter(e: Expression): Expression = e.transform {
        case ar: AttributeReference if outer.contains(ar.exprId) => outer(ar.exprId)
      }
      val (leaves, _) = walkSpine(join)
      leaves.iterator.map { factLeaf =>
        faithfulScan(factLeaf).toSeq.flatMap { case (paths, conds, subst) =>
          val dimOut = AttributeSet(leaves.filterNot(_ eq factLeaf).flatMap(_.output))
          def inlineFact(e: Expression): Expression = e.transform {
            case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
          }
          factKeysOf(join, factLeaf, inlineFact).toSeq.flatMap { factKeys =>
            // fact-side groupings + join keys form the grain; a mixed
            // grouping or a dim-referencing measure disqualifies this
            // leaf (→ the next leaf is tried)
            val factGroupings = scala.collection.mutable.ArrayBuffer.empty[Expression]
            val ok = agg.groupingExpressions.forall { g0 =>
              val g = inlineOuter(g0)
              if (g.references.isEmpty) false
              else if (g.references.subsetOf(dimOut)) true // dim: verbatim
              else if (g.references.exists(dimOut.contains)) false // mixed
              else { factGroupings += g; true }
            }
            val aggExprs2 = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
            val ok2 = ok && agg.aggregateExpressions.forall {
              case ar: AttributeReference => true // grouping output
              case a: Alias =>
                val e = inlineOuter(a.child)
                if (e.references.nonEmpty && e.references.subsetOf(dimOut) &&
                    !e.exists(_.isInstanceOf[AggregateExpression])) true // dim verbatim
                else e match {
                  // a dim-referencing FILTER serves verbatim; only the
                  // aggregate FUNCTION must be fact-side
                  case ae: AggregateExpression
                      if !ae.aggregateFunction.references.exists(dimOut.contains) &&
                        ae.filter.forall(_.deterministic) =>
                    aggExprs2 += Alias(ae, a.name)(); true
                  case e2 if !e2.references.exists(dimOut.contains) &&
                      !e2.exists(_.isInstanceOf[AggregateExpression]) =>
                    factGroupings += e2; true // fact grouping expression
                  case _ => false
                }
              case _ => false
            }
            if (!ok2) Nil
            else recommendCore(factGroupings.toSeq ++ factKeys,
              aggExprs2.toSeq, conds, subst, dimOut, factLeaf, paths)
          }
        }
      }.find(_.nonEmpty).getOrElse(Nil)
    }
  }

  /** The shared advisor core: derive the summary grain (bare groupings
    * → group columns, expression groupings → derived columns, scan
    * filters and FILTER clauses promote their fact-side columns) and
    * the measure set from the servable aggregate shapes. `dimOut`
    * references are verbatim-served join attributes: they never join
    * the grain, and a FILTER over them needs nothing maintained. */
  private def recommendCore(groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], conds0: Seq[Expression],
      subst: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression],
      dimOut: AttributeSet, leafPlan: LogicalPlan,
      paths: Seq[String]): Seq[Recommendation] = {
    val basePath = paths.map(normalize).distinct match {
      case Seq(p) => p
      case _ => return Nil
    }
    def inline(e: Expression): Expression = e.transform {
      case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
    }
    val groups = scala.collection.mutable.LinkedHashSet.empty[String]
    val derive = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def groupOf(e: Expression): Boolean = inline(e) match {
      case ar: AttributeReference => groups += ar.name; true
      case other if other.deterministic =>
        val name = derive.find(_._2 == other.sql).map(_._1).getOrElse {
          val n = "d" + (derive.size + 1); derive += n -> other.sql; n
        }
        groups += name; true
      case _ => false
    }
    if (!groupings.forall(groupOf)) return Nil
    // filters must gate whole groups to serve — promote their columns
    conds0.flatMap(conjuncts).foreach(c =>
      inline(c).references.foreach(ar => groups += ar.name))
    val sums = scala.collection.mutable.LinkedHashSet.empty[String]
    val kmvs = scala.collection.mutable.LinkedHashSet.empty[String]
    var needMinMax = false
    var kmvK = 64
    def measureOf(e: Expression): Option[String] = inline(e) match {
      case c: Cast => (c.dataType, c.child) match {
        case (d: DecimalType, ar: AttributeReference)
            if d.precision == 18 && d.scale == 2 => Some(ar.name)
        case _ => None
      }
      case ar: AttributeReference if ar.dataType == DecimalType(18, 2) => Some(ar.name)
      case _ => None
    }
    val servable = aggExprs.forall {
      case ar: AttributeReference => true // grouping output
      case a: Alias => a.child match {
        case ae: AggregateExpression if ae.filter.forall(_.deterministic) =>
          // a FILTER over a dim attribute serves verbatim off the
          // joined row — only fact-side references join the grain
          ae.filter.foreach(p =>
            inline(p).references.filterNot(dimOut.contains)
              .foreach(ar => groups += ar.name))
          ae.aggregateFunction match {
            case Count(Seq(Literal(_, _))) => true
            case Count(Seq(child)) if ae.isDistinct =>
              inline(child) match { // C44q: exact via group membership
                case ar: AttributeReference => groups += ar.name; true
                case _ => false
              }
            case Count(Seq(child)) =>
              // a bare count column must be able to BE a value column
              // (the kinds sum it as decimal(18,2); a string measure
              // would fail the define() bootstrap cast)
              measureOf(child).orElse(inline(child) match {
                case ar: AttributeReference
                    if ar.dataType.isInstanceOf[NumericType] => Some(ar.name)
                case _ => None
              }).exists { n => sums += n; true }
            case s: Sum => measureOf(s.child).exists { n => sums += n; true }
            case av: Average => measureOf(av.child).exists { n => sums += n; true }
            case m: Min => measureOf(m.child).exists { n =>
              sums += n; needMinMax = true; true }
            case m: Max => measureOf(m.child).exists { n =>
              sums += n; needMinMax = true; true }
            case KmvDistinct(child, k, _, _) =>
              inline(child) match {
                case c: Cast if c.dataType == StringType => c.child match {
                  case ar: AttributeReference => kmvs += ar.name; kmvK = k; true
                  case _ => false
                }
                case ar: AttributeReference => kmvs += ar.name; kmvK = k; true
                case _ => false
              }
            case _ => false
          }
        case e if groupOf(e) => true // grouping expression output
        case _ => false
      }
      case _ => false
    }
    if (!servable) return Nil
    // a global aggregate needs the one-group constant derivation
    if (groups.isEmpty && derive.isEmpty) { derive += "all" -> "1"; groups += "all" }
    val g = groups.toSeq
    val d = derive.toSeq
    val recs = scala.collection.mutable.ArrayBuffer.empty[Recommendation]
    if (sums.nonEmpty || kmvs.isEmpty) {
      val kind = (needMinMax, sums.size > 1) match {
        case (true, true) => "multiminmax"
        case (true, false) => "minmax"
        case (false, true) => "multi"
        case (false, false) => "sum"
      }
      // a pure-count query still needs one value column for the kinds'
      // schemas (n_rows is what serves) — it must cast to decimal, so
      // pick a NUMERIC base column (a group column if possible; under
      // ANSI a string measure would fail the bootstrap cast)
      val relSchema: Map[String, DataType] = leafPlan.collectFirst {
        case LogicalRelation(fs: HadoopFsRelation, out, _, _, _) =>
          out.map(a => a.name -> a.dataType).toMap
      }.getOrElse(Map.empty)
      val vals =
        if (sums.nonEmpty) sums.toSeq
        else g.find(n => relSchema.get(n).exists(_.isInstanceOf[NumericType]))
          .orElse(relSchema.collectFirst { case (n, _: NumericType) => n })
          .toSeq
      if (vals.nonEmpty) recs += Recommendation(basePath, g, d, vals, kind)
    }
    if (kmvs.nonEmpty)
      recs += Recommendation(basePath, g, d, kmvs.toSeq,
        if (kmvs.size > 1) "distinctmulti" else "distinct", kmvK)
    recs.toSeq
  }

  // ── C44s: ROLLUP / CUBE / GROUPING SETS serving ─────────────────────
  //
  // The optimizer compiles `GROUP BY ROLLUP(day, status)` into
  // `Aggregate(groups..., gid) over Expand(projections, output, child)`
  // where each Expand projection row is one grouping set: the child's
  // output passes through verbatim (aggregate inputs), the group
  // columns are re-emitted nulled-per-set under fresh attributes, and a
  // literal `spark_grouping_id` tags the set. When the Expand's child
  // is a faithful scan of a registered base and every grouping-set
  // column is a summary group column, each grouping set is a SUBSET
  // rollup of the summary's grain — the exact algebra the single-scan
  // subset path already serves — so the whole shape collapses to the
  // SAME Aggregate/Expand over the summary: group slots re-emit the
  // summary's group columns (nulled per set identically), measure
  // pass-through slots are replaced by the summary's cells, and the
  // aggregates re-aggregate them (counts/sums add, avg divides the
  // rolled pair, min-of-mins/max-of-maxes, KMV register union, exact
  // COUNT(DISTINCT group col) over the preserved slot values). At
  // 100 TB the Expand's input drops from every fact row × #sets to
  // #groups × #sets. FILTER clauses over gid/group-column slots serve
  // too (r15 — the v1 stand-down lifted): the predicate's value is
  // constant per (group, set) pair, so gating the cells per rebuilt-
  // Expand row keeps exactly the fact rows the real FILTER kept.

  /** One Expand output position, classified: a grouping-set id column
    * (integer literals in every row), or one source expression emitted
    * verbatim in some rows and NULL-literal in the rest. */
  private sealed trait Slot
  private final case class GidSlot(lits: Seq[Expression]) extends Slot
  private final case class ExprSlot(e: Expression, nullRows: Set[Int]) extends Slot

  private def rewriteExpand(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan,
      having: Seq[Expression]): Option[LogicalPlan] = child match {
    case Expand(projections, output, ech) =>
      val (paths, conds0, subst) = faithfulScan(ech).getOrElse(
        return rewriteExpandJoin(agg, groupings, aggExprs,
          projections, output, ech, having))
      if (paths.isEmpty) return None
      val key = paths.map(normalize).distinct match {
        case Seq(k) => k
        case _      => return None
      }
      val candidates = Option(registry.get(key)).getOrElse(return None)
      def inline(e: Expression): Expression = e.transform {
        case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
      }
      // classify every output position across the projection rows
      val slots: Seq[Slot] = output.indices.map { p =>
        val vals = projections.map(_(p))
        if (vals.forall {
              case Literal(v, t) => v != null && (t == LongType || t == IntegerType)
              case _ => false
            }) GidSlot(vals)
        else {
          val nullRows = vals.zipWithIndex.collect {
            case (Literal(null, _), i) => i }.toSet
          // every non-null-literal row must be the SAME source
          // expression (ADVICE r14: a non-null literal row — possible
          // from a non-constructExpand producer — was silently rewritten
          // as the source expression; it must stand the rule down)
          vals.filter { case Literal(null, _) => false; case _ => true }
            .map(inline).distinct match {
            case Seq(e) if e.deterministic && !e.isInstanceOf[Literal] =>
              ExprSlot(e, nullRows)
            case _ => return None
          }
        }
      }
      val conds = conds0.map(inline).flatMap(conjuncts)
      candidates
        .sortBy(_.groupCols.size)
        .iterator
        .map(c => tryExpandCandidate(agg, groupings, aggExprs, projections,
          output, slots, conds, key, c, having))
        .collectFirst { case Some(p) => p }
    case _ => None
  }

  private def tryExpandCandidate(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], projections: Seq[Seq[Expression]],
      output: Seq[Attribute], slots: Seq[Slot], conds: Seq[Expression],
      key: String, reg: Registration,
      having: Seq[Expression]): Option[LogicalPlan] = {
    def no(why: String): Option[LogicalPlan] = { logProbe(reg, why); None }
    // the summary group column an expression slot serves under
    def slotName(e: Expression): Option[String] = e match {
      case ar: AttributeReference if !reg.derive.contains(ar.name) =>
        Some(ar.name).filter(reg.groupCols.contains)
      case other => deriveName(other, reg).filter(reg.groupCols.contains)
    }
    val posOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int] =
      output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    // groupings must be Expand output attributes (constructExpand's
    // shape), each a group-column slot or the grouping-id slot
    val groupingIds = groupings.map {
      case ar: AttributeReference if posOf.contains(ar.exprId) => ar.exprId
      case _ => return None
    }.toSet
    groupings.foreach {
      case ar: AttributeReference =>
        slots(posOf(ar.exprId)) match {
          case _: GidSlot =>
          case ExprSlot(e, _) => if (slotName(e).isEmpty) return no(
            s"grouping mismatch: grouping-set column ${e.sql} is not a summary group column")
        }
      case other => return no(s"grouping mismatch: ${other.sql} is not an Expand output")
    }
    // scan-level filters: baked base filters drop, the rest must be
    // answerable over summary rows
    val (baked, rest) =
      if (reg.baseFilters.isEmpty) (Nil, conds)
      else conds.partition(c => reg.baseFilters.contains(normalizeExpr(c)))
    if (!reg.baseFilters.forall(bf => baked.exists(c => normalizeExpr(c) == bf)))
      return no("unservable predicate: the query lacks a filter baked " +
        "into the summary (it ranges over more rows than the summary covers)")
    rest.find(c => !unservableRefs(c, reg).subsetOf(reg.groupCols.toSet)) match {
      case Some(c) => return no(
        s"unservable predicate: ${c.sql} references non-group columns")
      case None =>
    }
    // classify outputs; aggregates substitute their pass-through slot
    // references with the slot's source expression before matching.
    // needCols collects summary measure columns; keepDistinct collects
    // group-column slots a COUNT(DISTINCT) reads verbatim.
    val needCols = scala.collection.mutable.LinkedHashSet.empty[String]
    val keepDistinct = scala.collection.mutable.LinkedHashSet.empty[Int]
    def substSlots(e: Expression): Option[Expression] = {
      // NB: a pass-through slot KEEPS the child's exprId (constructExpand
      // passes child.output verbatim), so substitution may map an
      // attribute to itself — only a nulled/gid slot reference fails
      var ok = true
      val r = e.transform {
        case ar: AttributeReference if posOf.contains(ar.exprId) =>
          slots(posOf(ar.exprId)) match {
            case ExprSlot(se, nulls) if nulls.isEmpty => se
            case _ => ok = false; ar
          }
      }
      if (ok) Some(r) else None
    }
    // r15 (C44s×C44l): FILTER clauses serve on the Expand path too. The
    // predicate references Expand OUTPUT slots; its value is constant
    // per (group, grouping-set) pair — a preserved slot carries the
    // group's constant, a nulled slot is null for set-j rows in the
    // real plan AND in the rebuilt one, and a gid slot is the set tag —
    // so gating the summary cells per rebuilt-Expand row keeps or drops
    // exactly the fact rows the real FILTER kept. The predicate is kept
    // VERBATIM (never slot-substituted): the rebuilt Expand re-emits
    // the referenced positions under the same attributes. Only slots
    // that are gid or summary-group columns qualify — a fact-measure
    // pass-through reference stands down.
    val keepFilter = scala.collection.mutable.LinkedHashSet.empty[Int]
    def servedOf(e: Expression)
        : Option[(ServedAgg, Option[Int], Option[Expression], Set[Int])] = e match {
      case ae: AggregateExpression =>
        val filterOk: Option[(Option[Expression], Set[Int])] = ae.filter match {
          case None => Some((None, Set.empty))
          case Some(p) if p.deterministic &&
              p.references.forall(r => posOf.contains(r.exprId) &&
                (slots(posOf(r.exprId)) match {
                  case _: GidSlot => true
                  case ExprSlot(se, _) => slotName(se).isDefined
                })) =>
            Some((Some(p), p.references.map(r => posOf(r.exprId)).toSet))
          case _ => None
        }
        filterOk.flatMap { case (f, fpos) =>
          substSlots(ae.copy(filter = None)).flatMap {
            case x: AggregateExpression => matchAgg(x, reg) match {
              case Some(sa) => // sa.filter is None (stripped above)
                sa match {
                  case SCountDistinctGroup(_, _) =>
                    // the distinct aggregate reads its slot VERBATIM —
                    // remember which position to keep
                    ae.copy(filter = None).references.toSeq match {
                      case Seq(one) if posOf.contains(one.exprId) =>
                        Some((sa, Some(posOf(one.exprId)), f, fpos))
                      case _ => None
                    }
                  case _ => Some((sa, None, f, fpos))
                }
              case _ => None
            }
            case _ => None
          }
        }
      case _ => None
    }
    aggExprs.foreach {
      case ar: AttributeReference if groupingIds.contains(ar.exprId) =>
      case a: Alias => a.child match {
        case e if e.references.nonEmpty &&
            e.references.forall(r => groupingIds.contains(r.exprId)) &&
            !e.exists(_.isInstanceOf[AggregateExpression]) =>
        case e => servedOf(e) match {
          case Some((sa, keep, _, fpos)) =>
            needCols ++= sa.needed; keepDistinct ++= keep; keepFilter ++= fpos
          case None => return no(s"unservable aggregate: ${e.sql}")
        }
      }
      case other => return no(s"unservable output: ${other.sql}")
    }
    keepDistinct.foreach { p =>
      slots(p) match {
        case ExprSlot(e, _) => if (slotName(e).isEmpty) return no(
          s"unservable aggregate: COUNT(DISTINCT ${e.sql}) — not a summary group column")
        case _ => return no("unservable aggregate: COUNT(DISTINCT <grouping-set slot>)")
      }
    }
    if (!isFresh(key, reg)) {
      logProbe(reg, "stale: the maintenance watermark is behind the base's " +
        "current generation (maintain() or autoMaintainOn() heals it)")
      return None
    }

    val sumPlan = reg.store.readTable(reg.summary).queryExecution.optimizedPlan
    val byName = sumPlan.output.map(a => a.name -> a).toMap
    // distinct-read slots resolve off the summary's group columns, not
    // appended measures
    val measures = needCols.toSeq.filterNot(reg.groupCols.contains)
    if (!(reg.groupCols ++ measures).forall(byName.contains))
      return no("missing summary column(s): " +
        (reg.groupCols ++ measures).filterNot(byName.contains).mkString(", "))

    def remap(e: Expression): Expression = e.transform {
      case ar: AttributeReference if byName.contains(ar.name) =>
        val s = byName(ar.name)
        if (s.dataType == ar.dataType) s else Cast(s, ar.dataType)
    }
    def remapCond(e: Expression): Expression = remap(e.transformDown {
      case sub if deriveName(sub, reg).exists(n =>
        reg.groupCols.contains(n) && byName.contains(n)) =>
        byName(deriveName(sub, reg).get)
    })
    def remapSlot(e: Expression): Expression = e match {
      case ar: AttributeReference =>
        val s = byName(ar.name)
        if (s.dataType == ar.dataType) s else Cast(s, ar.dataType)
      case other => byName(deriveName(other, reg).get)
    }

    // the rebuilt Expand: kept positions re-emit the summary's group
    // columns under the ORIGINAL output attributes (nulled per set
    // identically), plus one pass-through slot per needed measure
    val keepPos: Seq[Int] = output.indices.filter { p =>
      slots(p) match {
        case _: GidSlot => true
        case _: ExprSlot => groupings.exists {
            case ar: AttributeReference => posOf(ar.exprId) == p
            case _ => false
          } || keepDistinct.contains(p) || keepFilter.contains(p)
      }
    }
    val measureAttrs: Map[String, AttributeReference] = measures.map { c =>
      c -> AttributeReference("__s_" + c, byName(c).dataType, nullable = true)()
    }.toMap
    val newProjections: Seq[Seq[Expression]] = projections.indices.map { j =>
      keepPos.map { p =>
        slots(p) match {
          case GidSlot(lits) => lits(j)
          case ExprSlot(e, nulls) =>
            if (nulls(j)) Literal.create(null, output(p).dataType)
            else remapSlot(e)
        }
      } ++ measures.map(c => byName(c): Expression)
    }
    val newOutput: Seq[Attribute] = keepPos.map(output(_)) ++
      measures.map(measureAttrs(_))
    val summaryConds = rest.map(remapCond)
    val filtered = summaryConds match {
      case Nil => sumPlan
      case cs  => Filter(cs.reduce(And), sumPlan)
    }
    val needed: Seq[NamedExpression] =
      (keepPos.flatMap(p => slots(p) match {
        case ExprSlot(e, _) => Some(byName(slotName(e).get))
        case _ => None
      }) ++ measures.map(byName(_))).distinct
    val newExpand = Expand(newProjections, newOutput, Project(needed, filtered))

    // a FILTER predicate gates the cell per rebuilt-Expand row — the
    // kept positions re-emit the original output attributes, so the
    // predicate applies verbatim
    def gate(e: Expression, f: Option[Expression]): Expression = f match {
      case None => e
      case Some(p) => If(p, e, Literal.create(null, e.dataType))
    }
    val newAggExprs: Seq[NamedExpression] = agg.output.zip(aggExprs).map {
      case (orig, src) =>
        def under(e: Expression): NamedExpression = {
          val cast = if (e.dataType == orig.dataType) e else Cast(e, orig.dataType)
          Alias(cast, orig.name)(exprId = orig.exprId)
        }
        src match {
          case ar: AttributeReference => ar // grouping slot, preserved
          case a: Alias => a.child match {
            case e if e.references.nonEmpty &&
                e.references.forall(r => groupingIds.contains(r.exprId)) &&
                !e.exists(_.isInstanceOf[AggregateExpression]) =>
              Alias(e, orig.name)(exprId = orig.exprId)
            case e => servedOf(e) match {
              case Some((SCountStar(_), _, f, _)) =>
                under(Coalesce(Seq(
                  Sum(gate(measureAttrs("n_rows"), f)).toAggregateExpression(),
                  Literal(0L))))
              case Some((SCountCol(nn, _), _, f, _)) =>
                under(Coalesce(Seq(
                  Sum(gate(measureAttrs(nn), f)).toAggregateExpression(),
                  Literal(0L))))
              case Some((SSum(sc, _), _, f, _)) =>
                under(Sum(gate(measureAttrs(sc), f)).toAggregateExpression())
              case Some((SAvg(sc, nn, _), _, f, _)) =>
                under(avgFromSummary(
                  Sum(gate(measureAttrs(sc), f)).toAggregateExpression(),
                  Coalesce(Seq(Sum(gate(measureAttrs(nn), f)).toAggregateExpression(),
                    Literal(0L)))))
              case Some((SMin(c, _), _, f, _)) =>
                under(Min(gate(measureAttrs(c), f)).toAggregateExpression())
              case Some((SMax(c, _), _, f, _)) =>
                under(Max(gate(measureAttrs(c), f)).toAggregateExpression())
              case Some((SKmv(c, _), _, f, _)) =>
                under(KmvEstimateStr(
                  KmvMergeStrAgg(gate(measureAttrs(c), f), reg.kmvK)
                    .toAggregateExpression(),
                  reg.kmvK))
              case Some((SCountDistinctGroup(_, _), Some(p), f, _)) =>
                under(Count(Seq(gate(output(p), f)))
                  .toAggregateExpression(isDistinct = true))
              case _ => return None
            }
          }
          case _ => return None
        }
    }
    val rewritten = Aggregate(groupings, newAggExprs, newExpand)
    logProbe(reg, "served")
    Some(if (having.isEmpty) rewritten else Filter(having.reduce(And), rewritten))
  }

  // ── C44t (r15): grouping sets over a STAR ───────────────────────────
  //
  // `ROLLUP(dim.attr, fact.col)` over fact ⋈ dims — the r14 join and
  // Expand features COMPOSED: when the Expand's child is a servable
  // join spine, the Expand re-runs over (summary ⋈ dims) rows and the
  // Aggregate re-aggregates the cells per grouping set. Grouping-set
  // slots are per-side: a dim-expression slot re-emits VERBATIM (the
  // dim branch survives the rebuild untouched), a fact slot must be a
  // summary group column and re-emits the summary's column; measures
  // ride as pass-through slots exactly like the single-scan Expand
  // path; FILTER clauses gate cells per (group, dim-row, set) triple
  // (constant within it on gid, dim and fact-group slots alike). At
  // 100 TB this is the dashboard query — a rollup over a star — whose
  // Expand input drops from (fact rows × #sets) to (summary ⋈ dim
  // rows × #sets), with the fact table never scanned.

  private def rewriteExpandJoin(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], projections: Seq[Seq[Expression]],
      output: Seq[Attribute], ech: LogicalPlan,
      having: Seq[Expression]): Option[LogicalPlan] = {
    val (join, outer) = faithfulOverJoin(ech).getOrElse(return None)
    def inlineOuter(e: Expression): Expression = e.transform {
      case ar: AttributeReference if outer.contains(ar.exprId) => outer(ar.exprId)
    }
    val (leaves, filterOnly) = walkSpine(join)
    leaves.iterator.flatMap { factLeaf =>
      tryExpandFactLeaf(agg, groupings, aggExprs, projections, output,
        inlineOuter, join, factLeaf, leaves ++ filterOnly, having)
    }.nextOption()
  }

  private def tryExpandFactLeaf(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], projections: Seq[Seq[Expression]],
      output: Seq[Attribute], inlineOuter: Expression => Expression,
      join: Join, factLeaf: LogicalPlan, leaves: Seq[LogicalPlan],
      having: Seq[Expression]): Option[LogicalPlan] = {
    val (paths, factConds0, factSubst) = faithfulScan(factLeaf).getOrElse(return None)
    if (paths.isEmpty) return None
    val key = paths.map(normalize).distinct match {
      case Seq(k) => k
      case _      => return None
    }
    val candidates = Option(registry.get(key)).getOrElse(return None)
    val dimOut = AttributeSet(leaves.filterNot(_ eq factLeaf).flatMap(_.output))
    def inlineFact(e: Expression): Expression = e.transform {
      case ar: AttributeReference if factSubst.contains(ar.exprId) => factSubst(ar.exprId)
    }
    // slot sources live above the join: inline the dropped outer
    // Projects' aliases first, then the fact leaf's computed columns
    def inline(e: Expression): Expression = inlineFact(inlineOuter(e))
    val factKeys = factKeysOf(join, factLeaf, inlineFact).getOrElse(return None)
    // classify every Expand output position (same shape — and same
    // non-null-literal strictness — as the single-scan path)
    val slots: Seq[Slot] = output.indices.map { p =>
      val vals = projections.map(_(p))
      if (vals.forall {
            case Literal(v, t) => v != null && (t == LongType || t == IntegerType)
            case _ => false
          }) GidSlot(vals)
      else {
        val nullRows = vals.zipWithIndex.collect {
          case (Literal(null, _), i) => i }.toSet
        vals.filter { case Literal(null, _) => false; case _ => true }
          .map(inline).distinct match {
          case Seq(e) if e.deterministic && !e.isInstanceOf[Literal] =>
            ExprSlot(e, nullRows)
          case _ => return None
        }
      }
    }
    val factConds = factConds0.map(inlineFact).flatMap(conjuncts)
    candidates
      .sortBy(_.groupCols.size)
      .iterator
      .map(c => tryExpandJoinCandidate(agg, groupings, aggExprs, projections,
        output, slots, factConds, inline, factKeys, join, factLeaf, dimOut,
        key, c, having))
      .collectFirst { case Some(p) => p }
  }

  private def tryExpandJoinCandidate(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], projections: Seq[Seq[Expression]],
      output: Seq[Attribute], slots: Seq[Slot], factConds: Seq[Expression],
      inline: Expression => Expression, factKeys: Seq[Expression],
      join: Join, factLeaf: LogicalPlan, dimOut: AttributeSet,
      key: String, reg: Registration,
      having: Seq[Expression]): Option[LogicalPlan] = {
    def no(why: String): Option[LogicalPlan] = { logProbe(reg, why); None }
    def factGroupName(e: Expression): Option[String] = e match {
      case ar: AttributeReference if !reg.derive.contains(ar.name) =>
        Some(ar.name).filter(reg.groupCols.contains)
      case other => deriveName(other, reg).filter(reg.groupCols.contains)
    }
    // slot sides: a dim expression passes through the rebuilt plan
    // verbatim; a fact slot must resolve to a summary group column
    def isDimExpr(e: Expression): Boolean =
      e.references.nonEmpty && e.references.subsetOf(dimOut)
    def isFactGroupExpr(e: Expression): Boolean =
      !e.references.exists(dimOut.contains) && factGroupName(e).isDefined
    val posOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int] =
      output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    val groupingIds = groupings.map {
      case ar: AttributeReference if posOf.contains(ar.exprId) => ar.exprId
      case _ => return None
    }.toSet
    groupings.foreach {
      case ar: AttributeReference =>
        slots(posOf(ar.exprId)) match {
          case _: GidSlot =>
          case ExprSlot(e, _) =>
            if (!isDimExpr(e) && !isFactGroupExpr(e)) return no(
              s"grouping mismatch: grouping-set column ${e.sql} is neither a " +
                "dim expression nor a summary group column")
        }
      case other => return no(s"grouping mismatch: ${other.sql} is not an Expand output")
    }
    val keyNames = factKeys.map(k => factGroupName(k).getOrElse(return no(
      s"grouping mismatch: join key ${k.sql} is not a summary group column")))
    // fact-side scan filters: baked base filters drop, the rest must be
    // answerable over summary rows
    val (baked, rest) =
      if (reg.baseFilters.isEmpty) (Nil, factConds)
      else factConds.partition(c => reg.baseFilters.contains(normalizeExpr(c)))
    if (!reg.baseFilters.forall(bf => baked.exists(c => normalizeExpr(c) == bf)))
      return no("unservable predicate: the query lacks a filter baked " +
        "into the summary (it ranges over more rows than the summary covers)")
    rest.find(c => !unservableRefs(c, reg).subsetOf(reg.groupCols.toSet)) match {
      case Some(c) => return no(
        s"unservable predicate: ${c.sql} references non-group columns")
      case None =>
    }
    val needCols = scala.collection.mutable.LinkedHashSet.empty[String]
    val keepDistinct = scala.collection.mutable.LinkedHashSet.empty[Int]
    val keepFilter = scala.collection.mutable.LinkedHashSet.empty[Int]
    def substSlots(e: Expression): Option[Expression] = {
      var ok = true
      val r = e.transform {
        case ar: AttributeReference if posOf.contains(ar.exprId) =>
          slots(posOf(ar.exprId)) match {
            case ExprSlot(se, nulls) if nulls.isEmpty => se
            case _ => ok = false; ar
          }
      }
      if (ok) Some(r) else None
    }
    // FILTER predicates over gid / dim / fact-group slots serve: the
    // value is constant per (group, dim-row, set) triple, and the kept
    // positions re-emit identical values in the rebuilt Expand
    def filterOk(p: Expression): Option[Set[Int]] =
      if (p.deterministic && p.references.forall(r => posOf.contains(r.exprId) &&
          (slots(posOf(r.exprId)) match {
            case _: GidSlot => true
            case ExprSlot(se, _) => isDimExpr(se) || isFactGroupExpr(se)
          }))) Some(p.references.map(r => posOf(r.exprId)).toSet)
      else None
    def servedOf(e: Expression)
        : Option[(ServedAgg, Option[Int], Option[Expression], Set[Int])] = e match {
      case ae: AggregateExpression =>
        val fOk: Option[(Option[Expression], Set[Int])] = ae.filter match {
          case None => Some((None, Set.empty))
          case Some(p) => filterOk(p).map(ps => (Some(p), ps))
        }
        fOk.flatMap { case (f, fpos) =>
          substSlots(ae.copy(filter = None)).flatMap {
            // aggregates must range over the FACT side only (a dim or
            // mixed measure is not in the summary) — count(1) has no
            // references and rides n_rows
            case x: AggregateExpression
                if !x.aggregateFunction.references.exists(dimOut.contains) =>
              matchAgg(x, reg) match {
                case Some(sa) => sa match {
                  case SCountDistinctGroup(_, _) =>
                    // the distinct aggregate reads its slot VERBATIM —
                    // it must be a fact group-column slot
                    ae.copy(filter = None).references.toSeq match {
                      case Seq(one) if posOf.contains(one.exprId) =>
                        slots(posOf(one.exprId)) match {
                          case ExprSlot(se, _) if isFactGroupExpr(se) =>
                            Some((sa, Some(posOf(one.exprId)), f, fpos))
                          case _ => None
                        }
                      case _ => None
                    }
                  case _ => Some((sa, None, f, fpos))
                }
                case None => None
              }
            case _ => None
          }
        }
      case _ => None
    }
    aggExprs.foreach {
      case ar: AttributeReference if groupingIds.contains(ar.exprId) =>
      case a: Alias => a.child match {
        case e if e.references.nonEmpty &&
            e.references.forall(r => groupingIds.contains(r.exprId)) &&
            !e.exists(_.isInstanceOf[AggregateExpression]) =>
        case e => servedOf(e) match {
          case Some((sa, keep, _, fpos)) =>
            needCols ++= sa.needed; keepDistinct ++= keep; keepFilter ++= fpos
          case None => return no(s"unservable aggregate: ${e.sql}")
        }
      }
      case other => return no(s"unservable output: ${other.sql}")
    }
    if (!isFresh(key, reg)) {
      logProbe(reg, "stale: the maintenance watermark is behind the base's " +
        "current generation (maintain() or autoMaintainOn() heals it)")
      return None
    }

    val sumPlan = reg.store.readTable(reg.summary).queryExecution.optimizedPlan
    val byName = sumPlan.output.map(a => a.name -> a).toMap
    val measures = needCols.toSeq.filterNot(reg.groupCols.contains)
    if (!(reg.groupCols ++ measures).forall(byName.contains))
      return no("missing summary column(s): " +
        (reg.groupCols ++ measures).filterNot(byName.contains).mkString(", "))

    def remapJ(e: Expression): Expression = e.transform {
      case ar: AttributeReference if !dimOut.contains(ar) && byName.contains(ar.name) =>
        val s = byName(ar.name)
        if (s.dataType == ar.dataType) s else Cast(s, ar.dataType)
    }
    def remapCondJ(e: Expression): Expression = remapJ(e.transformDown {
      case sub if sub.references.nonEmpty && !sub.references.exists(dimOut.contains) &&
          deriveName(sub, reg).exists(n =>
            reg.groupCols.contains(n) && byName.contains(n)) =>
        byName(deriveName(sub, reg).get)
    })

    // the rebuilt Expand keeps grouping / distinct / filter positions
    // and appends one pass-through slot per needed measure
    val keepPos: Seq[Int] = output.indices.filter { p =>
      slots(p) match {
        case _: GidSlot => true
        case _: ExprSlot => groupings.exists {
            case ar: AttributeReference => posOf(ar.exprId) == p
            case _ => false
          } || keepDistinct.contains(p) || keepFilter.contains(p)
      }
    }
    val factSlotNames: Seq[String] = keepPos.flatMap(p => slots(p) match {
      case ExprSlot(e, _) if !e.references.exists(dimOut.contains) =>
        factGroupName(e)
      case _ => None
    })

    // the summary side of the rebuilt join: servable fact filters
    // remapped onto the summary scan, pruned to join keys + kept fact
    // slots + needed measures
    val summaryConds = rest.map(remapCondJ)
    val filtered = summaryConds match {
      case Nil => sumPlan
      case cs  => Filter(cs.reduce(And), sumPlan)
    }
    val keep: Seq[NamedExpression] =
      ((keyNames ++ factSlotNames).distinct.map(byName(_)) ++
        measures.map(byName(_))).distinct
    val factSide: LogicalPlan = Project(keep, filtered)
    def containsFact(p: LogicalPlan): Boolean = p.exists(_ eq factLeaf)
    def rebuild(p: LogicalPlan): LogicalPlan = p match {
      case q if q eq factLeaf => factSide
      case j @ Join(l, r, Inner, cOpt, h) if containsFact(j) =>
        Join(rebuild(l), rebuild(r), Inner,
          cOpt.map(c => remapCondJ(inline(c))), h)
      case j @ Join(l, r, jt @ (LeftSemi | LeftAnti | LeftOuter), cOpt, h)
          if containsFact(j) =>
        Join(rebuild(l), r, jt, cOpt.map(c => remapCondJ(inline(c))), h)
      case Project(_, c) if containsFact(p) => rebuild(c)
      case SubqueryAlias(_, c) if containsFact(p) => rebuild(c)
      case other => other
    }
    val newJoin = rebuild(join)

    val measureAttrs: Map[String, AttributeReference] = measures.map { c =>
      c -> AttributeReference("__s_" + c, byName(c).dataType, nullable = true)()
    }.toMap
    val newProjections: Seq[Seq[Expression]] = projections.indices.map { j =>
      keepPos.map { p =>
        slots(p) match {
          case GidSlot(lits) => lits(j)
          case ExprSlot(e, nulls) =>
            if (nulls(j)) Literal.create(null, output(p).dataType)
            else if (isDimExpr(e)) e // dim slot: verbatim over the kept dim branch
            else {
              val s = byName(factGroupName(e).get)
              if (s.dataType == output(p).dataType) s
              else Cast(s, output(p).dataType)
            }
        }
      } ++ measures.map(c => byName(c): Expression)
    }
    val newOutput: Seq[Attribute] = keepPos.map(output(_)) ++
      measures.map(measureAttrs(_))
    val newExpand = Expand(newProjections, newOutput, newJoin)

    def gate(e: Expression, f: Option[Expression]): Expression = f match {
      case None => e
      case Some(p) => If(p, e, Literal.create(null, e.dataType))
    }
    val newAggExprs: Seq[NamedExpression] = agg.output.zip(aggExprs).map {
      case (orig, src) =>
        def under(e: Expression): NamedExpression = {
          val cast = if (e.dataType == orig.dataType) e else Cast(e, orig.dataType)
          Alias(cast, orig.name)(exprId = orig.exprId)
        }
        src match {
          case ar: AttributeReference => ar // grouping slot, preserved
          case a: Alias => a.child match {
            case e if e.references.nonEmpty &&
                e.references.forall(r => groupingIds.contains(r.exprId)) &&
                !e.exists(_.isInstanceOf[AggregateExpression]) =>
              Alias(e, orig.name)(exprId = orig.exprId)
            case e => servedOf(e) match {
              case Some((SCountStar(_), _, f, _)) =>
                under(Coalesce(Seq(
                  Sum(gate(measureAttrs("n_rows"), f)).toAggregateExpression(),
                  Literal(0L))))
              case Some((SCountCol(nn, _), _, f, _)) =>
                under(Coalesce(Seq(
                  Sum(gate(measureAttrs(nn), f)).toAggregateExpression(),
                  Literal(0L))))
              case Some((SSum(sc, _), _, f, _)) =>
                under(Sum(gate(measureAttrs(sc), f)).toAggregateExpression())
              case Some((SAvg(sc, nn, _), _, f, _)) =>
                under(avgFromSummary(
                  Sum(gate(measureAttrs(sc), f)).toAggregateExpression(),
                  Coalesce(Seq(Sum(gate(measureAttrs(nn), f)).toAggregateExpression(),
                    Literal(0L)))))
              case Some((SMin(c, _), _, f, _)) =>
                under(Min(gate(measureAttrs(c), f)).toAggregateExpression())
              case Some((SMax(c, _), _, f, _)) =>
                under(Max(gate(measureAttrs(c), f)).toAggregateExpression())
              case Some((SKmv(c, _), _, f, _)) =>
                under(KmvEstimateStr(
                  KmvMergeStrAgg(gate(measureAttrs(c), f), reg.kmvK)
                    .toAggregateExpression(),
                  reg.kmvK))
              case Some((SCountDistinctGroup(_, _), Some(p), f, _)) =>
                under(Count(Seq(gate(output(p), f)))
                  .toAggregateExpression(isDistinct = true))
              case _ => return None
            }
          }
          case _ => return None
        }
    }
    val rewritten = Aggregate(groupings, newAggExprs, newExpand)
    logProbe(reg, "served")
    Some(if (having.isEmpty) rewritten else Filter(having.reduce(And), rewritten))
  }

  // ── C44r: JOIN-aware serving (star-schema MVs) ──────────────────────
  //
  // The most common 100 TB query is `agg(fact) JOIN dim GROUP BY
  // dim.attr`. When the fact side of an INNER equi-join is a faithful
  // scan of a registered base and every fact-side join key is a summary
  // GROUP column, the classic MV expansion applies: the Aggregate over
  // (fact ⋈ dim) is served as the same Aggregate over (summary ⋈ dim),
  // re-aggregating the summary's cells. EXACT for every served shape:
  // a summary row stands for n_rows fact rows that all carry identical
  // group-column values, so it matches exactly the dim rows each of its
  // fact rows matches — per joined (summary, dim) pair the cells
  // contribute (n_rows, nn, sum, min, max, kmv registers) for precisely
  // the fact×dim pairs they replace. Counts and sums scale with the
  // join multiplicity on both sides of the equality; min/max and KMV
  // set-union are idempotent under duplication; avg divides the two
  // scaled sums through the same Average tree. At scale the rewritten
  // join is summary-sized — AQE broadcasts it instead of shuffling the
  // fact table.
  //
  // FACT-PRESERVED LEFT OUTER serves too (r15): an unmatched summary
  // row survives the outer join with null dim attrs and its cells
  // intact — exactly as each of its n_rows fact rows would.
  //
  // FACT-FACT joins serve BOTH registered sides (r15): a second leaf
  // scanning a registered base swaps to its summary as a SECONDARY —
  // consumed group columns re-aliased under their original attribute
  // ids, the summary's n_rows exported as a multiplicity that scales
  // the primary's count/sum cells (the classic MV-join algebra; see
  // trySecondary below). Aggregates still range over one side only.
  //
  // Conservative stand-downs (each costs nothing — the plain plan
  // runs): non-equi joins, RightOuter/FullOuter, a LeftOuter with the
  // fact on the null-supplying right side (an unmatched dim row
  // contributes count 1, not n_rows — the summary cannot represent
  // it), a fact join key that
  // is not a group column, aggregates over dim or mixed columns,
  // FILTER clauses touching fact MEASURES (dim attributes and fact
  // group columns are fine — both are constant per (group, dim-row)
  // pair), mixed-side groupings, and everything the single-scan path
  // already rejects (unservable fact filters, missing summary columns,
  // staleness).

  /** Strip faithful Project/SubqueryAlias layers above a Join,
    * collecting computed-column substitutions like [[faithfulScan]]
    * (EVERY deterministic alias is substituted — a dropped layer's
    * attributes must all be re-expressible over the join's output). */
  private def faithfulOverJoin(
      p: LogicalPlan): Option[(Join, Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression])] = p match {
    case j @ Join(_, _, Inner | LeftSemi | LeftAnti | LeftOuter, Some(_), _) =>
      Some((j, Map.empty))
    case SubqueryAlias(_, c) => faithfulOverJoin(c)
    case Project(list, c) =>
      faithfulOverJoin(c).flatMap { case (j, subst) =>
        def inline(e: Expression): Expression = e.transform {
          case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
        }
        val extra = scala.collection.mutable.Map.empty[
          org.apache.spark.sql.catalyst.expressions.ExprId, Expression]
        val ok = list.forall {
          case _: AttributeReference => true
          case a @ Alias(e, _) if e.deterministic => extra += a.exprId -> inline(e); true
          case _ => false
        }
        if (ok) Some((j, subst ++ extra)) else None
      }
    case _ => None
  }

  private def rewriteJoin(agg: Aggregate, groupings0: Seq[Expression],
      aggExprs0: Seq[NamedExpression], child: LogicalPlan,
      having: Seq[Expression]): Option[LogicalPlan] = {
    val (join, outer) = faithfulOverJoin(child).getOrElse(return None)
    def inlineOuter(e: Expression): Expression = e.transform {
      case ar: AttributeReference if outer.contains(ar.exprId) => outer(ar.exprId)
    }
    val groupings = groupings0.map(inlineOuter)
    val aggExprs: Seq[NamedExpression] = aggExprs0.map {
      case ar: AttributeReference if outer.contains(ar.exprId) =>
        Alias(outer(ar.exprId), ar.name)(exprId = ar.exprId)
      case ne => inlineOuter(ne).asInstanceOf[NamedExpression]
    }
    val (leaves, filterOnly) = walkSpine(join)
    leaves.iterator.flatMap { factLeaf =>
      tryFactLeaf(agg, groupings, aggExprs, join, factLeaf,
        leaves, filterOnly, having)
    }.nextOption()
  }

  /** The SPINE: the tree of inner equi-joins — plus LEFT SEMI/ANTI
    * nodes, whose RIGHT side filters the left (EXISTS / NOT EXISTS)
    * without contributing rows — under the Aggregate, seen through
    * pure column-pruning Projects (bare attributes only — the shape
    * the optimizer inserts between the joins of a multi-dimension
    * star). Any other node is an opaque LEAF: a candidate fact (if it
    * faithfully scans a registered base) or a dim subtree kept
    * verbatim. A semi/anti RIGHT subtree is condition context only —
    * its leaves can never be the fact (the aggregate does not range
    * over its rows). Returns (leaves, filter-only subtrees). */
  private def walkSpine(p: LogicalPlan): (Seq[LogicalPlan], Seq[LogicalPlan]) = p match {
    // LeftOuter rides the spine too (r15): its leaves are candidate
    // facts (left, preserved side) or dims; factKeysOf enforces the
    // fact never sits on the null-SUPPLYING right side
    case Join(l, r, Inner | LeftOuter, Some(_), _) =>
      val (ll, lf) = walkSpine(l); val (rl, rf) = walkSpine(r)
      (ll ++ rl, lf ++ rf)
    case Join(l, r, LeftSemi | LeftAnti, Some(_), _) =>
      val (ll, lf) = walkSpine(l)
      (ll, lf :+ r)
    case Project(list, c) if list.forall(_.isInstanceOf[AttributeReference]) =>
      walkSpine(c)
    case SubqueryAlias(_, c) => walkSpine(c)
    case other => (Seq(other), Nil)
  }

  /** Every join conjunct TOUCHING the fact — at any join along the
    * spine — must be an equi-condition with one side referencing only
    * the fact leaf and the other fact-free (the optimizer pushes
    * single-side predicates below joins, so a surviving
    * mixed-but-not-equi fact-touching conjunct is genuinely
    * cross-side → None). Fact-free conjuncts (dim⋈dim keys, dim
    * predicates) pass verbatim. Semi/anti/outer joins require the
    * fact on the LEFT (preserved / row-contributing) side. Returns
    * the fact-side key expressions (inlined through `inlineFact`). */
  private def factKeysOf(join: Join, factLeaf: LogicalPlan,
      inlineFact: Expression => Expression): Option[Seq[Expression]] = {
    val factOut = factLeaf.outputSet
    def containsFact(p: LogicalPlan): Boolean = p.exists(_ eq factLeaf)
    val keyBuf = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def factEqui(c: Expression): Boolean = conjuncts(c).forall {
      case cj if !cj.references.exists(factOut.contains) => true
      case EqualTo(a, b) =>
        if (a.references.subsetOf(factOut) && !b.references.exists(factOut.contains)) {
          keyBuf += inlineFact(a); true
        } else if (b.references.subsetOf(factOut) && !a.references.exists(factOut.contains)) {
          keyBuf += inlineFact(b); true
        } else false
      case EqualNullSafe(a, b) =>
        if (a.references.subsetOf(factOut) && !b.references.exists(factOut.contains)) {
          keyBuf += inlineFact(a); true
        } else if (b.references.subsetOf(factOut) && !a.references.exists(factOut.contains)) {
          keyBuf += inlineFact(b); true
        } else false
      case _ => false
    }
    def collectKeys(p: LogicalPlan): Boolean = p match {
      case Join(l, r, Inner, Some(c), _) if containsFact(p) =>
        factEqui(c) && collectKeys(l) && collectKeys(r)
      // a semi/anti keeps or drops left rows wholesale per key match —
      // with fact keys that are group columns, whole GROUPS survive or
      // die together (nulls too: a null key matches nothing under
      // EqualTo on both the fact rows and their summary row), so the
      // same semi/anti over the summary is exact. The fact must sit on
      // the LEFT — the right side's rows never reach the aggregate.
      case Join(l, r, LeftSemi | LeftAnti, Some(c), _) if containsFact(p) =>
        !r.exists(_ eq factLeaf) && factEqui(c) && collectKeys(l)
      // FACT-PRESERVED left outer (r15): exactly the inner algebra plus
      // — an unmatched summary row survives with null dim attrs and its
      // cells intact, standing for its n_rows fact rows which each
      // survive null-padded the same way (groupings, FILTER predicates
      // and cells all see identical values). The DIM-PRESERVED
      // direction (fact on the null-supplying right) is NOT servable:
      // an unmatched dim row contributes count 1, not n_rows — the
      // summary cannot represent it — so the fact must sit on the LEFT.
      case Join(l, r, LeftOuter, Some(c), _) if containsFact(p) =>
        !r.exists(_ eq factLeaf) && factEqui(c) && collectKeys(l)
      case Project(_, c) if containsFact(p) => collectKeys(c)
      case SubqueryAlias(_, c) if containsFact(p) => collectKeys(c)
      case _ => true // a fact-free branch constrains nothing
    }
    if (collectKeys(join)) Some(keyBuf.toSeq) else None
  }

  private def tryFactLeaf(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], join: Join, factLeaf: LogicalPlan,
      rowLeaves: Seq[LogicalPlan], filterOnly: Seq[LogicalPlan],
      having: Seq[Expression]): Option[LogicalPlan] = {
    val (paths, factConds0, factSubst) = faithfulScan(factLeaf).getOrElse(return None)
    if (paths.isEmpty) return None
    val key = paths.map(normalize).distinct match {
      case Seq(k) => k
      case _      => return None
    }
    val candidates = Option(registry.get(key)).getOrElse(return None)
    val dimOut = AttributeSet(
      (rowLeaves ++ filterOnly).filterNot(_ eq factLeaf).flatMap(_.output))
    def inlineFact(e: Expression): Expression = e.transform {
      case ar: AttributeReference if factSubst.contains(ar.exprId) => factSubst(ar.exprId)
    }
    val factKeys = factKeysOf(join, factLeaf, inlineFact).getOrElse(return None)
    candidates
      .sortBy(_.groupCols.size)
      .iterator
      .map(c => tryJoinCandidate(agg, groupings, aggExprs,
        factConds0.map(inlineFact).flatMap(conjuncts),
        inlineFact, factKeys, join, factLeaf, rowLeaves, filterOnly,
        dimOut, key, c, having))
      .collectFirst { case Some(p) => p }
  }

  private def tryJoinCandidate(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], factConds: Seq[Expression],
      inlineFact: Expression => Expression, factKeys: Seq[Expression],
      join: Join, factLeaf: LogicalPlan, rowLeaves: Seq[LogicalPlan],
      filterOnly: Seq[LogicalPlan], dimOut: AttributeSet,
      key: String, reg: Registration,
      having: Seq[Expression]): Option[LogicalPlan] = {
    def no(why: String): Option[LogicalPlan] = { logProbe(reg, why); None }
    // the name a fact-side expression serves under (bare group column
    // or registered derivation) — the join keys and the fact-side
    // groupings must all resolve to summary group columns
    def factGroupName(e: Expression): Option[String] = e match {
      case ar: AttributeReference if !reg.derive.contains(ar.name) =>
        Some(ar.name).filter(reg.groupCols.contains)
      case other => deriveName(other, reg).filter(reg.groupCols.contains)
    }
    val keyNames = factKeys.map(k => factGroupName(k).getOrElse(return no(
      s"grouping mismatch: join key ${k.sql} is not a summary group column")))
    // fact-side scan filters: baked base filters drop, the rest must be
    // answerable over summary rows (group columns only)
    val (baked, rest) =
      if (reg.baseFilters.isEmpty) (Nil, factConds)
      else factConds.partition(c => reg.baseFilters.contains(normalizeExpr(c)))
    if (!reg.baseFilters.forall(bf => baked.exists(c => normalizeExpr(c) == bf)))
      return no("unservable predicate: the query lacks a filter baked " +
        "into the summary (it ranges over more rows than the summary covers)")
    rest.find(c => !unservableRefs(c, reg).subsetOf(reg.groupCols.toSet)) match {
      case Some(c) => return no(
        s"unservable predicate: ${c.sql} references non-group columns")
      case None =>
    }
    // groupings: dim-side expressions pass through; fact-side ones must
    // be summary group columns; mixed-side groupings stand down
    val factGroupNames = groupings.flatMap { g =>
      if (g.references.subsetOf(dimOut)) None
      else if (g.references.exists(dimOut.contains))
        return no(s"grouping mismatch: ${g.sql} mixes fact and dim columns")
      else Some(factGroupName(inlineFact(g)).getOrElse(return no(
        s"grouping mismatch: ${g.sql} is not a summary group column or derivation")))
    }
    // first pass: classify every output, collecting the summary columns
    // this query needs. Aggregates must range over the fact side only
    // (a dim-side or mixed measure is not in the summary), and FILTER
    // clauses over fact group columns only (matchAgg's contract).
    val needCols = scala.collection.mutable.LinkedHashSet.empty[String]
    // a FILTER clause may reference DIM attributes (present verbatim in
    // the rewritten join row) and fact GROUP columns (constant within a
    // group, remapped to the summary) — exact either way: the predicate
    // keeps or drops each (group, dim-row) pair's cells wholesale,
    // which is precisely what it did to that pair's fact rows. Only
    // fact MEASURE references stand down.
    def unservableJoinRefs(e: Expression): Set[String] =
      if (!e.references.exists(dimOut.contains) &&
          deriveName(e, reg).exists(reg.groupCols.contains)) Set.empty
      else e match {
        case ar: AttributeReference =>
          if (dimOut.contains(ar)) Set.empty else Set(ar.name)
        case other => other.children.flatMap(unservableJoinRefs).toSet
      }
    def servedAggOf(e: Expression): Option[ServedAgg] = e match {
      case ae: AggregateExpression
          if !ae.aggregateFunction.references.exists(dimOut.contains) =>
        val filterOk = ae.filter.forall(p => p.deterministic &&
          unservableJoinRefs(inlineFact(p)).subsetOf(reg.groupCols.toSet))
        if (!filterOk) None
        else inlineFact(ae.copy(filter = None)) match {
          case x: AggregateExpression =>
            matchAgg(x, reg).map(withFilter(_, ae.filter.map(inlineFact)))
          case _ => None
        }
      case _ => None
    }
    // summary group columns a servable FILTER predicate consumes —
    // remapCondJ rewrites them onto summary attributes inside the
    // re-aggregation cells, so the pruned fact-side Project must KEEP
    // them even when they are neither join keys nor groupings (ADVICE
    // r14: count(1) FILTER (WHERE h = 'x') over a (g, h) summary joined
    // on g crashed with ATTRIBUTE_NOT_FOUND otherwise). Dim references
    // pass through the join verbatim and need nothing kept.
    def filterGroupNames(e: Expression): Set[String] =
      if (!e.references.exists(dimOut.contains) &&
          deriveName(e, reg).exists(reg.groupCols.contains))
        Set(deriveName(e, reg).get)
      else e match {
        case ar: AttributeReference =>
          if (dimOut.contains(ar)) Set.empty else Set(ar.name)
        case other => other.children.flatMap(filterGroupNames).toSet
      }
    val filterNames = scala.collection.mutable.LinkedHashSet.empty[String]
    // a dim-side expression passes through ONLY when aggregate-free: an
    // aggregate over dim values (sum(d.x)) scales with the fact-side
    // join multiplicity, which the summary join collapses — stand down
    def dimPassThrough(e: Expression): Boolean =
      e.references.nonEmpty && e.references.subsetOf(dimOut) &&
        !e.exists(_.isInstanceOf[AggregateExpression])
    aggExprs.foreach {
      case ar: AttributeReference =>
        if (!dimOut.contains(ar) && factGroupName(inlineFact(ar)).isEmpty)
          return no(s"unservable output: ${ar.sql}")
      case a: Alias => a.child match {
        case e if dimPassThrough(e) =>
        case e if !e.references.exists(dimOut.contains) &&
            factGroupName(inlineFact(e)).exists(factGroupNames.contains) =>
        case e => servedAggOf(e) match {
          case Some(sa) =>
            needCols ++= sa.needed
            sa.filter.foreach(p => filterNames ++= filterGroupNames(p))
          case None => return no(s"unservable aggregate: ${e.sql}")
        }
      }
      case other => return no(s"unservable output: ${other.sql}")
    }
    if (!isFresh(key, reg)) {
      logProbe(reg, "stale: the maintenance watermark is behind the base's " +
        "current generation (maintain() or autoMaintainOn() heals it)")
      return None
    }

    val sumPlan = reg.store.readTable(reg.summary).queryExecution.optimizedPlan
    val byName = sumPlan.output.map(a => a.name -> a).toMap
    if (!(reg.groupCols ++ needCols.toSeq).forall(byName.contains))
      return no("missing summary column(s): " +
        (reg.groupCols ++ needCols.toSeq).filterNot(byName.contains).mkString(", "))

    // fact→summary attribute remap BY NAME, restricted to non-dim attrs
    // (a dim column sharing a summary column's name must never remap);
    // derived subtrees collapse to their summary column first
    def remapJ(e: Expression): Expression = e.transform {
      case ar: AttributeReference if !dimOut.contains(ar) && byName.contains(ar.name) =>
        val s = byName(ar.name)
        if (s.dataType == ar.dataType) s else Cast(s, ar.dataType)
    }
    def remapCondJ(e: Expression): Expression = remapJ(e.transformDown {
      case sub if sub.references.nonEmpty && !sub.references.exists(dimOut.contains) &&
          deriveName(sub, reg).exists(n =>
            reg.groupCols.contains(n) && byName.contains(n)) =>
        byName(deriveName(sub, reg).get)
    })

    // the summary side of the rewritten join: servable fact filters
    // remapped onto the summary scan (parquet row-group pruning), then
    // pruned to exactly the columns the join + aggregate consume
    val summaryConds = rest.map(remapCondJ)
    val filtered = summaryConds match {
      case Nil => sumPlan
      case cs  => Filter(cs.reduce(And), sumPlan)
    }
    val keep: Seq[NamedExpression] =
      ((keyNames ++ factGroupNames ++ filterNames.toSeq).distinct.map(byName(_)) ++
        needCols.toSeq.map(byName(_))).distinct
    val factSide: LogicalPlan = Project(keep, filtered)

    // ── r15: SECONDARY registered leaves (fact-fact joins) ────────────
    // A second leaf that ALSO faithfully scans a registered base — with
    // its join keys and every consumed attribute resolving to summary
    // group columns — swaps to ITS summary too: the replacement Project
    // re-aliases each consumed group column under the ORIGINAL
    // attribute id (so conditions, groupings and pass-through outputs
    // above resolve unchanged) and exports the summary's n_rows as a
    // multiplicity. Each replaced summary row stands for n_rows base
    // rows with identical consumed values, so the joined relation is
    // exact once the PRIMARY's count/sum cells are scaled by the
    // product of the secondaries' multiplicities (min/max/KMV/distinct
    // cells are multiplicity-insensitive and stay unscaled). A leaf
    // that fails any check just stays a verbatim scan — never a
    // stand-down of the whole rewrite. Aggregates still range over the
    // primary only (a measure over a secondary stands the rewrite down
    // in classification, by design).
    val consumed: AttributeSet = AttributeSet(
      join.collect { case Join(_, _, _, Some(c), _) => c }.flatMap(_.references) ++
        groupings.flatMap(_.references) ++ aggExprs.flatMap(_.references))
    // `semiRef = true` for a LEFT SEMI/ANTI right subtree: its rows
    // only feed the EXISTS check, so multiplicity is irrelevant — no
    // join-key equi requirement (the condition sees only VALUES and
    // the set of consumed group-column tuples is preserved by the
    // grain projection), no n_rows export, no scaling. Exact for any
    // condition shape once every consumed attribute is a group column.
    def trySecondary(s: LogicalPlan,
        semiRef: Boolean): Option[(LogicalPlan, Option[Attribute])] = {
      val (pathsS, condsS0, substS) = faithfulScan(s).getOrElse(return None)
      if (pathsS.isEmpty) return None
      val keyS = pathsS.map(normalize).distinct match {
        case Seq(k) => k
        case _      => return None
      }
      val candsS = Option(registry.get(keyS)).getOrElse(return None)
      def inlineS(e: Expression): Expression = e.transform {
        case ar: AttributeReference if substS.contains(ar.exprId) => substS(ar.exprId)
      }
      val keysS =
        if (semiRef) Nil
        else factKeysOf(join, s, inlineS).getOrElse(return None)
      val condsS = condsS0.map(inlineS).flatMap(conjuncts)
      val used: Seq[Attribute] = s.output.filter(consumed.contains)
      candsS.sortBy(_.groupCols.size).iterator.map { regS =>
        def nameOf(e: Expression): Option[String] = inlineS(e) match {
          case ar: AttributeReference if !regS.derive.contains(ar.name) =>
            Some(ar.name).filter(regS.groupCols.contains)
          case other => deriveName(other, regS).filter(regS.groupCols.contains)
        }
        val keyNamesS = keysS.map(nameOf)
        val usedNames = used.map(a => a -> nameOf(a))
        if (keyNamesS.exists(_.isEmpty) || usedNames.exists(_._2.isEmpty)) None
        else {
          val (bakedS, restS) =
            if (regS.baseFilters.isEmpty) (Nil, condsS)
            else condsS.partition(c => regS.baseFilters.contains(normalizeExpr(c)))
          if (!regS.baseFilters.forall(bf => bakedS.exists(c => normalizeExpr(c) == bf)))
            None
          else if (restS.exists(c =>
              !unservableRefs(c, regS).subsetOf(regS.groupCols.toSet))) None
          else if (!isFresh(keyS, regS)) None
          else {
            val sumPlanS = regS.store.readTable(regS.summary)
              .queryExecution.optimizedPlan
            val byNameS = sumPlanS.output.map(a => a.name -> a).toMap
            if (!regS.groupCols.forall(byNameS.contains) ||
                (!semiRef && !byNameS.contains("n_rows"))) None
            else {
              def remapCondS(e: Expression): Expression =
                e.transformDown {
                  case sub if sub.references.nonEmpty &&
                      deriveName(sub, regS).exists(n =>
                        regS.groupCols.contains(n) && byNameS.contains(n)) =>
                    byNameS(deriveName(sub, regS).get)
                }.transform {
                  case ar: AttributeReference if byNameS.contains(ar.name) =>
                    val x = byNameS(ar.name)
                    if (x.dataType == ar.dataType) x else Cast(x, ar.dataType)
                }
              val filteredS = restS.map(remapCondS) match {
                case Nil => sumPlanS
                case cs  => Filter(cs.reduce(And), sumPlanS)
              }
              val multAlias =
                if (semiRef) None else Some(Alias(byNameS("n_rows"), "__mult")())
              val projList: Seq[NamedExpression] = usedNames.map {
                case (a, nOpt) =>
                  val src = byNameS(nOpt.get)
                  val cx = if (src.dataType == a.dataType) src
                           else Cast(src, a.dataType)
                  Alias(cx, a.name)(exprId = a.exprId)
              } ++ multAlias
              logProbe(regS, "served")
              Some((Project(projList, filteredS): LogicalPlan,
                multAlias.map(_.toAttribute)))
            }
          }
        }
      }.collectFirst { case Some(x) => x }
    }
    // keyed by REFERENCE (eq): self-joined leaves are distinct objects.
    // Row-contributing leaves need keys + multiplicity; semi/anti
    // right subtrees replace value-set-preserving only.
    val secondaries: Seq[(LogicalPlan, (LogicalPlan, Option[Attribute]))] =
      rowLeaves.filter(s => !(s eq factLeaf))
        .flatMap(s => trySecondary(s, semiRef = false).map(s -> _)) ++
      filterOnly.flatMap(s => trySecondary(s, semiRef = true).map(s -> _))
    def replOf(q: LogicalPlan): Option[(LogicalPlan, Option[Attribute])] =
      secondaries.collectFirst { case (s, r) if s eq q => r }
    val multAttrs: Seq[Attribute] = secondaries.flatMap(_._2._2)

    // rebuild the spine: the fact leaf becomes the summary read, every
    // fact-touching join condition remaps to summary attributes,
    // column-pruning Projects on replaced paths drop (a primary-path
    // list references retired fact attributes; a secondary-path list
    // is mere pruning the optimizer redoes), and every other branch is
    // kept verbatim — per-join hints included
    def containsRepl(p: LogicalPlan): Boolean =
      p.exists(n => (n eq factLeaf) || replOf(n).isDefined)
    def rebuild(p: LogicalPlan): LogicalPlan = p match {
      case q if q eq factLeaf => factSide
      case q if replOf(q).isDefined => replOf(q).get._1
      case j @ Join(l, r, Inner, cOpt, h) if containsRepl(j) =>
        Join(rebuild(l), rebuild(r), Inner,
          cOpt.map(c => remapCondJ(inlineFact(c))), h)
      case j @ Join(l, r, jt @ (LeftSemi | LeftAnti | LeftOuter), cOpt, h)
          if containsRepl(j) =>
        // the primary (and any row-contributing secondary) is on the
        // left — factKeysOf rejects a fact on a semi/anti right side
        // or an outer's null-supplying side. A semi/anti RIGHT subtree
        // that is itself a registered base swaps to ITS summary (the
        // EXISTS reference set read group-count-sized); otherwise the
        // right side is kept verbatim.
        Join(rebuild(l), replOf(r).map(_._1).getOrElse(r), jt,
          cOpt.map(c => remapCondJ(inlineFact(c))), h)
      case Project(_, c) if containsRepl(p) => rebuild(c)
      case SubqueryAlias(_, c) if containsRepl(p) => rebuild(c)
      case other => other
    }
    val newJoin = rebuild(join)

    // re-aggregation cells over the joined relation — always the rollup
    // algebra (each output group spans ≥1 (summary, dim) pairs); with
    // secondaries, count/sum cells scale by the multiplicity product
    val minCols = reg.mins.values.toSet
    val maxCols = reg.maxs.values.toSet
    val kmvCols = reg.kmv.values.toSet
    val mult: Option[Expression] = multAttrs match {
      case Nil => None
      case as  => Some(as.map(a => a: Expression).reduce(Multiply(_, _)))
    }
    def scaled(child: Expression): Expression = mult match {
      case None => child
      case Some(m) => child.dataType match {
        // decimal multiply must be same-typed post-analysis: widen both
        // sides to (38,2) — the product is exact in scale ≤ 4 and the
        // outer cast restores the output type (values are whole cents)
        case _: DecimalType =>
          Multiply(Cast(child, DecimalType(38, 2)), Cast(m, DecimalType(38, 2)))
        case _ => Multiply(child, m)
      }
    }
    def rolled(n: String, f: Option[Expression]): Expression = {
      val raw = byName(n)
      val child = f match {
        case None => raw
        case Some(p) => If(remapCondJ(inlineFact(p)), raw, Literal.create(null, raw.dataType))
      }
      if (minCols(n)) Min(child).toAggregateExpression()
      else if (maxCols(n)) Max(child).toAggregateExpression()
      else if (kmvCols(n)) KmvMergeStrAgg(child, reg.kmvK).toAggregateExpression()
      else Sum(scaled(child)).toAggregateExpression()
    }
    def countCell(n: String, f: Option[Expression]): Expression =
      Coalesce(Seq(rolled(n, f), Literal(0L)))
    def distinctCell(n: String, f: Option[Expression]): Expression = {
      val raw = byName(n)
      val child = f match {
        case None => raw
        case Some(p) => If(remapCondJ(inlineFact(p)), raw, Literal.create(null, raw.dataType))
      }
      Count(Seq(child)).toAggregateExpression(isDistinct = true)
    }

    val newGroupings: Seq[Expression] = groupings.map { g =>
      if (g.references.subsetOf(dimOut)) g else remapCondJ(inlineFact(g))
    }
    val newAggExprs: Seq[NamedExpression] = agg.output.zip(aggExprs).map {
      case (orig, src) =>
        def under(e: Expression): NamedExpression = {
          val cast = if (e.dataType == orig.dataType) e else Cast(e, orig.dataType)
          Alias(cast, orig.name)(exprId = orig.exprId)
        }
        src match {
          case ar: AttributeReference if dimOut.contains(ar) => ar
          case ar: AttributeReference => under(remapCondJ(inlineFact(ar)))
          case a: Alias => a.child match {
            case e if dimPassThrough(e) =>
              Alias(e, orig.name)(exprId = orig.exprId)
            case e if !e.references.exists(dimOut.contains) &&
                factGroupName(inlineFact(e)).exists(factGroupNames.contains) =>
              under(remapCondJ(inlineFact(e)))
            case e => servedAggOf(e) match {
              case Some(SCountStar(f)) => under(countCell("n_rows", f))
              case Some(SCountCol(nn, f)) => under(countCell(nn, f))
              case Some(SSum(sc, f)) => under(rolled(sc, f))
              case Some(SAvg(sc, nn, f)) =>
                under(avgFromSummary(rolled(sc, f), countCell(nn, f)))
              case Some(SMin(c, f)) => under(rolled(c, f))
              case Some(SMax(c, f)) => under(rolled(c, f))
              case Some(SKmv(c, f)) => under(KmvEstimateStr(rolled(c, f), reg.kmvK))
              case Some(SCountDistinctGroup(c, f)) => under(distinctCell(c, f))
              case None => return None
            }
          }
          case _ => return None
        }
    }
    val rewritten = Aggregate(newGroupings, newAggExprs, newJoin)
    logProbe(reg, "served")
    Some(if (having.isEmpty) rewritten else Filter(having.reduce(And), rewritten))
  }
}
