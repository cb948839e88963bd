package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, DecimalDivideWithOverflowCheck, EqualNullSafe, EqualTo, ExprId, Expression, If, IsNull, Literal, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.store.{IncrementalAgg, TableStore}

/** C44: automatic aggregate rewrite over MAINTAINED summary tables —
  * the optimizer half of the materialized-view story (C41 keeps each
  * summary current from the change feed; this makes queries USE it
  * without being rewritten by hand). A `Rule[LogicalPlan]` registered
  * through `spark.experimental.extraOptimizations` (the same runtime
  * hook the Pairs strategy uses; `graft.plans.GraftExtensions` is the
  * declarative twin). At 100 TB it is the difference between
  * re-scanning the fact table and reading a group-count-sized relation.
  *
  * Every Aggregate is normalized ONCE into one canonical shape — a fact
  * leaf, an optional star of dimension joins with EXISTS/semi gates, a
  * conjunctive filter, and grouping sets (a plain GROUP BY is the one
  * implicit set) — and ONE matcher checks that shape against each
  * registration of the fact's base (SPJG view matching; see "The
  * canonical shape and the one matcher" below). It serves only when ALL
  * of the following hold, and is conservative by construction (a miss
  * costs nothing — the plain aggregate runs):
  *
  *  - the fact leaf is a FAITHFUL read of the registered base:
  *    Project/SubqueryAlias layers that only pass attributes through
  *    (optionally cast LOSSLESSLY — a value-changing cast such as a
  *    decimal truncation breaks faithfulness, because the aggregate
  *    would then range over different values than the summary was
  *    maintained from) under the SAME name, deterministic computed
  *    columns (inlined before matching) and deterministic Filters,
  *    bottoming at the base's parquet scan — and at NOTHING ELSE: every
  *    scan root path must resolve to the same single registration, so a
  *    multi-directory read (base dir plus extras) never collapses to a
  *    summary that covers fewer rows;
  *  - the grain matches: every fact-side grouping and join key is a
  *    summary group column or registered derived expression (the exact
  *    group set reads summary rows; a strict subset, including the
  *    empty set, re-aggregates), dim-side groupings are served
  *    verbatim, and every scan filter is either baked into the summary
  *    or references ONLY group columns (groups are atomic under a
  *    group-column predicate, so filtering the summary's rows is
  *    exactly filtering the groups);
  *  - every aggregate is a measure the summary carries — `count(1)`,
  *    `count(v)`, `sum`/`avg`/`min`/`max` of `cast(v as decimal(18,2))`
  *    (the [[IncrementalAgg.summarize]] shape), `kmvDistinct(v, k)`, or
  *    `COUNT(DISTINCT <group column>)` — under an optional FILTER clause
  *    whose value is constant per served row; avg is served as
  *    sum/count through the exact expression tree
  *    `Average.evaluateExpression` builds for a decimal child, so the
  *    served value is bit-identical to the plain aggregate's;
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
    * a HAVING pairing) reports "served" if any attempt served, else its
    * first attempt's reason. */
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
    val byName = plan.output.map(a => a.name -> a).toMap
    (outNames.map(n => n -> normalizeExpr(substitute(byName(n), subst))).toMap,
      conds.map(c => normalizeExpr(substitute(c, subst))))
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
      case f @ Filter(cond, agg: Aggregate) if cond.deterministic =>
        rewrite(agg, conjuncts(cond)).getOrElse(f)
      case agg: Aggregate => rewrite(agg, Nil).getOrElse(agg)
    }
  }

  /** Normalize the query once per candidate fact leaf, then try the
    * leaf's registrations cheapest-first (fewest group columns): the
    * first that serves wins, a stale or mismatched one falls through. */
  private def rewrite(agg: Aggregate, having: Seq[Expression]): Option[LogicalPlan] =
    shapesOf(agg, having).flatMap { s =>
      Option(registry.get(s.fact.key)).getOrElse(Nil)
        .sortBy(_.groupCols.size).iterator.flatMap(tryCandidate(s, _))
    }.nextOption()

  private type Subst = Map[ExprId, Expression]

  /** `e` with every substituted attribute replaced by its expression. */
  private def substitute(e: Expression, subst: Subst): Expression =
    e.transform { case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId) }

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
  private def faithfulScan(p: LogicalPlan): Option[(Seq[String], Seq[Expression], Subst)] = p match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some((fs.location.rootPaths.map(_.toString), Nil, Map.empty))
    case SubqueryAlias(_, c) => faithfulScan(c)
    case Project(list, c) =>
      faithfulScan(c).flatMap { case (paths, conds, subst) =>
        val extra = scala.collection.mutable.Map.empty[ExprId, Expression]
        val ok = list.forall {
          case e if faithfulColumn(e) => true
          case a @ Alias(e, _) if e.deterministic =>
            extra += a.exprId -> substitute(e, subst); true // nested computed cols inline too
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

  /** Strip faithful Project/SubqueryAlias layers above a Join,
    * collecting computed-column substitutions like [[faithfulScan]]
    * (EVERY deterministic alias is substituted — a dropped layer's
    * attributes must all be re-expressible over the join's output). */
  private def faithfulOverJoin(p: LogicalPlan): Option[(Join, Subst)] = p match {
    case j @ Join(_, _, Inner | LeftSemi | LeftAnti | LeftOuter, Some(_), _) =>
      Some((j, Map.empty))
    case SubqueryAlias(_, c) => faithfulOverJoin(c)
    case Project(list, c) =>
      faithfulOverJoin(c).flatMap { case (j, subst) =>
        val extra = scala.collection.mutable.Map.empty[ExprId, Expression]
        val ok = list.forall {
          case _: AttributeReference => true
          case a @ Alias(e, _) if e.deterministic => extra += a.exprId -> substitute(e, subst); true
          case _ => false
        }
        if (ok) Some((j, subst ++ extra)) else None
      }
    case _ => None
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
    // LeftOuter rides the spine too: its leaves are candidate facts
    // (left, preserved side) or dims; factKeysOf enforces the fact
    // never sits on the null-SUPPLYING right side
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
      case eq @ (_: EqualTo | _: EqualNullSafe) =>
        val Seq(a, b) = eq.children
        Seq(a -> b, b -> a).collectFirst {
          case (f, d) if f.references.subsetOf(factOut) &&
              !d.references.exists(factOut.contains) => f
        }.exists { f => keyBuf += inlineFact(f); true }
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
      // FACT-PRESERVED left outer: exactly the inner algebra plus — an
      // unmatched summary row survives with null dim attrs and its
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

  // ── The canonical shape and the one matcher ─────────────────────────
  //
  // Every Aggregate is normalized ONCE into one shape (SPJG view
  // matching, Goldstein & Larson, SIGMOD 2001): a FACT LEAF — a faithful
  // scan of a registered base with its inlined filter conjuncts — under
  // an optional SPINE of dimension joins, under optional GROUPING SETS,
  // under the Aggregate and an optional HAVING. A plain scan is a leaf
  // with no spine; a plain GROUP BY is the one implicit grouping set.
  //
  // Spine: the inner and fact-preserving left-outer equi-joins plus LEFT
  // SEMI/ANTI gates (EXISTS / NOT EXISTS) around the fact, whose
  // fact-side join keys must be summary group columns. A summary row
  // stands for n_rows fact rows carrying identical group values, so it
  // matches exactly the dim rows each of them matches, a gate keeps or
  // drops whole groups, and an unmatched summary row survives a
  // fact-preserved outer join null-padded exactly as its fact rows
  // would: per joined (summary, dim) pair the cells contribute (n_rows,
  // nn, sum, min, max, KMV registers) for precisely the fact×dim pairs
  // they replace. Counts and sums scale with the join multiplicity on
  // both sides of the equality; min/max and KMV union are idempotent
  // under duplication; avg divides the two scaled sums. Dim attributes
  // pass through verbatim, and a second leaf scanning another registered
  // base swaps to ITS summary as a secondary ([[secondaryOf]]). At scale
  // the rewritten join is summary-sized — AQE broadcasts it instead of
  // shuffling the fact table.
  //
  // Grouping sets: the optimizer compiles ROLLUP/CUBE/GROUPING SETS into
  // an Aggregate over an Expand whose rows are the sets — the child's
  // output passes through verbatim (aggregate inputs), group columns are
  // re-emitted nulled per set under fresh attributes, and a literal
  // grouping id tags each set. Every set is a subset rollup of the
  // summary's grain, so the Expand is rebuilt over summary (⋈ dims) rows:
  // fact group slots re-emit the summary's columns under the ORIGINAL
  // output attributes (dim slots verbatim), measures ride as appended
  // pass-through slots, and the aggregates re-aggregate them per set. At
  // 100 TB the Expand input drops from fact rows × #sets to summary
  // (⋈ dim) rows × #sets.
  //
  // FILTER clauses serve when their value is constant per served row —
  // group columns, dim attributes, grouping-set slots — so gating the
  // cells keeps or drops exactly the fact rows the real FILTER kept. One
  // matcher ([[tryCandidate]]) runs the checks once each — grain, join
  // keys, filter admission, outputs, freshness, summary columns —
  // logging exactly one probe outcome per candidate attempt.
  // Conservative stand-downs cost nothing (the plain plan runs):
  // non-equi and right/full-outer joins, a fact on a semi/anti right
  // side or an outer's null-supplying side, dim-side or mixed measures,
  // mixed groupings, and everything a plain scan rejects.

  /** One Expand output position, classified: a grouping-set id column
    * (integer literals in every row), or one source expression emitted
    * verbatim in some rows and NULL-literal in the rest. */
  private sealed trait Slot
  private final case class GidSlot(lits: Seq[Expression]) extends Slot
  private final case class ExprSlot(e: Expression, nullRows: Set[Int]) extends Slot

  /** A faithful scan resolved to its registry key (the one normalized
    * root path — a scan of the base dir plus anything else covers more
    * rows than any summary and must never collapse), with its filter
    * conjuncts inlined through its computed-column substitution. */
  private final case class Leaf(plan: LogicalPlan, key: String,
      conds: Seq[Expression], subst: Subst) {
    def inline(e: Expression): Expression = substitute(e, subst)
  }

  private def leafOf(p: LogicalPlan): Option[Leaf] =
    faithfulScan(p).flatMap { case (paths, conds, subst) =>
      paths.map(normalize).distinct match {
        // split into conjuncts: a Filter node carries `a AND b` as one
        // expression, but baked-base-filter matching is per-conjunct
        case Seq(k) => Some(Leaf(p, k, conds.map(substitute(_, subst)).flatMap(conjuncts), subst))
        case _ => None
      }
    }

  /** The star around the fact: the join tree, the fact-side join keys,
    * every other leaf's output (`dimOut`, verbatim-served), the
    * row-contributing leaves and the semi/anti filter-only subtrees. */
  private final case class Spine(join: Join, keys: Seq[Expression], dimOut: AttributeSet,
      rowLeaves: Seq[LogicalPlan], filterOnly: Seq[LogicalPlan])

  /** The grouping sets: the Expand's rows and output, each position
    * classified into a [[Slot]] (sources inlined to fact terms). */
  private final case class Sets(projections: Seq[Seq[Expression]], output: Seq[Attribute],
      slots: Seq[Slot]) {
    val posOf: Map[ExprId, Int] = output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    /** `e` with every pass-through slot reference replaced by its source;
      * None when it reads a nulled or grouping-id slot. A pass-through
      * slot KEEPS the child's exprId (constructExpand passes the child's
      * output verbatim), so substitution may map an attribute to itself. */
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
  }

  /** The canonical shape. Without grouping sets, `groupings` and
    * `aggExprs` are inlined to fact terms — the dropped outer Projects'
    * aliases, then the leaf's computed columns (a top-level substituted
    * attribute re-aliased under its name and exprId); with them they
    * stay verbatim over the Expand's output and the slots carry the
    * fact terms. */
  private final case class Shape(agg: Aggregate, fact: Leaf,
      spine: Option[Spine], sets: Option[Sets], groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], having: Seq[Expression]) {
    def dimOut: AttributeSet = spine.fold(AttributeSet.empty)(_.dimOut)
  }

  /** Normalize an Aggregate: one shape per candidate fact leaf — the
    * scan itself, or each row-contributing leaf of a spine in order
    * (a leaf that is no faithful single-root scan, or whose join
    * conjuncts are not fact equi-keys, yields none). */
  private def shapesOf(agg: Aggregate, having: Seq[Expression]): Iterator[Shape] = {
    val (input, expand) = agg.child match {
      case Expand(projections, output, c) => (c, Some((projections, output)))
      case c => (c, None)
    }
    val leaves: Iterator[(Leaf, Option[(Join, Seq[LogicalPlan], Seq[LogicalPlan])], Subst)] =
      leafOf(input) match {
        case Some(l) => Iterator((l, None, Map.empty))
        case None => faithfulOverJoin(input).iterator.flatMap { case (join, outer) =>
          val (rows, filterOnly) = walkSpine(join)
          rows.iterator.flatMap(r => leafOf(r).map(l => (l, Some((join, rows, filterOnly)), outer)))
        }
      }
    leaves.flatMap { case (leaf, star, outer) =>
      def inline(e: Expression): Expression = leaf.inline(substitute(e, outer))
      val spine: Option[Option[Spine]] = star match {
        case None => Some(None)
        case Some((join, rows, filterOnly)) =>
          factKeysOf(join, leaf.plan, leaf.inline).map(keys => Some(Spine(join, keys,
            AttributeSet((rows ++ filterOnly).filterNot(_ eq leaf.plan).flatMap(_.output)),
            rows, filterOnly)))
      }
      val sets: Option[Option[Sets]] = expand match {
        case None => Some(None)
        case Some((projections, output)) => setsOf(projections, output, inline).map(Some(_))
      }
      for (sp <- spine; st <- sets) yield {
        val (groupings, aggExprs) =
          if (st.isDefined) (agg.groupingExpressions, agg.aggregateExpressions)
          else (agg.groupingExpressions.map(inline), agg.aggregateExpressions.map {
            case ar: AttributeReference if outer.contains(ar.exprId) || leaf.subst.contains(ar.exprId) =>
              Alias(inline(ar), ar.name)(exprId = ar.exprId)
            case ne => inline(ne).asInstanceOf[NamedExpression]
          })
        Shape(agg, leaf, sp, st, groupings, aggExprs, having)
      }
    }
  }

  /** Classify every Expand position across its rows; None when a
    * position is neither (a non-null-literal row — possible from a
    * non-constructExpand producer — stands the rule down). */
  private def setsOf(projections: Seq[Seq[Expression]], output: Seq[Attribute],
      inline: Expression => Expression): Option[Sets] = {
    val slots = output.indices.map { p =>
      val vals = projections.map(_(p))
      if (vals.forall {
            case Literal(v, t) => v != null && (t == LongType || t == IntegerType)
            case _ => false
          }) GidSlot(vals)
      else {
        val nullRows = vals.zipWithIndex.collect { case (Literal(null, _), i) => i }.toSet
        vals.filter { case Literal(null, _) => false; case _ => true }
          .map(inline).distinct match {
          case Seq(e) if e.deterministic && !e.isInstanceOf[Literal] => ExprSlot(e, nullRows)
          case _ => return None
        }
      }
    }
    Some(Sets(projections, output, slots))
  }

  // ── Measures: what a summary serves, and how ────────────────────────

  /** The summary column holding a measure's NON-NULL count. */
  private def nnOf(sumCol: String): String =
    if (sumCol == "sum_val") "nn_val" else "nn_" + sumCol.stripPrefix("sum_")

  /** One matched servable aggregate: which summary columns answer it.
    * `needed` drives the column-presence check — min/max columns exist
    * only on minmax-capable summaries, so a plain summary fails there
    * and the candidate falls through. A FILTER clause is the matcher's
    * (its servability depends on the shape). */
  private sealed trait ServedAgg { def needed: Seq[String] }
  private case object SCountStar extends ServedAgg { def needed: Seq[String] = Seq("n_rows") }
  private final case class SCountCol(nn: String) extends ServedAgg {
    def needed: Seq[String] = Seq(nn)
  }
  private final case class SSum(sumCol: String) extends ServedAgg {
    def needed: Seq[String] = Seq(sumCol)
  }
  private final case class SAvg(sumCol: String, nn: String) extends ServedAgg {
    def needed: Seq[String] = Seq(sumCol, nn)
  }
  private final case class SMin(col: String) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }
  private final case class SMax(col: String) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }
  private final case class SKmv(col: String) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }
  /** C44q: `COUNT(DISTINCT <group column>)` — groups are the summary's
    * PK, so the summary holds exactly one row per full group
    * combination and the distinct set of any group column within a
    * coarser output group is readable off the summary's rows (exact,
    * not an estimate). Measures stay unservable under DISTINCT. */
  private final case class SCountDistinctGroup(col: String) extends ServedAgg {
    def needed: Seq[String] = Seq(col)
  }

  /** The summary column name an expression serves under: a bare
    * attribute by name, or a registered derivation. A bare attribute
    * whose name collides with a registered derivation must
    * template-match it (true only for the identity derivation) —
    * registration already forbids shadowing, this is the in-rule
    * backstop for hand-built Registrations. */
  private def nameOf(e: Expression, reg: Registration): Option[String] = e match {
    case ar: AttributeReference if !reg.derive.contains(ar.name) => Some(ar.name)
    case other => deriveName(other, reg)
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

  /** The summary-side names a predicate reads: a subtree matching a
    * registered DERIVED group column reads that column (the summary row
    * carries it — e.g. HAVING day = X pushed down as to_date(ts) = X),
    * a fact attribute reads its name, a dim attribute (`dimOut`) reads
    * nothing (it is present verbatim in the joined row). A
    * deterministic predicate whose names are all group columns is
    * answerable over summary rows: group columns are constant within a
    * group, so it keeps or drops a group's rows AS A WHOLE. */
  private def refNames(e: Expression, reg: Registration, dimOut: AttributeSet): Set[String] =
    if (!e.references.exists(dimOut.contains) &&
        deriveName(e, reg).exists(reg.groupCols.contains)) Set(deriveName(e, reg).get)
    else e match {
      case ar: AttributeReference => if (dimOut.contains(ar)) Set.empty else Set(ar.name)
      case other => other.children.flatMap(refNames(_, reg, dimOut)).toSet
    }

  private def hasAgg(e: Expression): Boolean = e.exists(_.isInstanceOf[AggregateExpression])

  /** Match one FILTER-free aggregate against the candidate
    * registration. DISTINCT aggregates serve only as `COUNT(DISTINCT
    * <group col>)` (C44q — exact off the summary's PK rows); DISTINCT
    * over measures never serves (kmvDistinct is the estimate path).
    * Anything else → None → the candidate falls through to the base
    * scan. */
  private def matchAgg(ae: AggregateExpression, reg: Registration): Option[ServedAgg] =
    if (ae.isDistinct) ae.aggregateFunction match {
      case Count(Seq(child)) =>
        nameOf(child, reg).filter(reg.groupCols.contains).map(SCountDistinctGroup(_))
      case _ => None
    }
    else ae.aggregateFunction match {
      case Count(Seq(Literal(_, _))) => Some(SCountStar)
      case Count(Seq(child)) => countTarget(child, reg).map(SCountCol(_))
      case s: Sum => valueTarget(s.child, reg.sums, reg).map(v => SSum(reg.sums(v)))
      case a: Average => valueTarget(a.child, reg.sums, reg)
        .map { v => val sc = reg.sums(v); SAvg(sc, nnOf(sc)) }
      case m: Min => valueTarget(m.child, reg.mins, reg).map(v => SMin(reg.mins(v)))
      case m: Max => valueTarget(m.child, reg.maxs, reg).map(v => SMax(reg.maxs(v)))
      // kmvDistinct(v, k) over a registered sketch column. The
      // function wrapper casts the value to string (SimplifyCasts
      // drops it when v already IS one); either shape must reference
      // the base column at its ORIGINAL type — the render the sketch
      // hashed.
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
          .map(a => SKmv(reg.kmv(a.name)))
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

  /** The one ServedAgg → output-cell builder. `read(n, distinct)` is
    * summary column `n`'s value per input row and `f` the FILTER gate
    * in the same terms. Exact grain (`roll` None) reads the summary row
    * itself — a gated-out group's counts and KMV estimate are 0,
    * everything else NULL, the empty-set semantics of the plain
    * aggregate. Otherwise each column re-aggregates (`roll` receives
    * the aggregate to place): counts and decimal(18,2) sums add exactly
    * in any order (`scale` multiplies them by a join multiplicity), avg
    * divides the rolled pair through the same Average tree,
    * min-of-mins / max-of-maxes ARE the group's extrema, KMV register
    * union is exact set algebra, and a group column's distinct count is
    * read off the preserved values (COUNT DISTINCT skips a gated-out
    * NULL) — so every served shape stays bit-identical to the plain
    * aggregate over the base. Counts coalesce to 0: a sum over zero
    * rolled rows is the empty count, which is 0, not null. */
  private def cellOf(sa: ServedAgg, reg: Registration, f: Option[Expression],
      read: (String, Boolean) => Expression,
      roll: Option[(String, Boolean, AggregateExpression) => Expression],
      scale: Expression => Expression = identity): Expression = {
    def gate(e: Expression, empty: Expression): Expression = f.fold(e)(If(_, e, empty))
    def rolled(n: String, distinct: Boolean): Expression = {
      val raw = read(n, distinct)
      val child = gate(raw, Literal.create(null, raw.dataType))
      roll.get(n, distinct,
        if (distinct) Count(Seq(child)).toAggregateExpression(isDistinct = true)
        else if (reg.mins.values.exists(_ == n)) Min(child).toAggregateExpression()
        else if (reg.maxs.values.exists(_ == n)) Max(child).toAggregateExpression()
        else if (reg.kmv.values.exists(_ == n)) KmvMergeStrAgg(child, reg.kmvK).toAggregateExpression()
        else Sum(scale(child)).toAggregateExpression())
    }
    def value(n: String): Expression =
      if (roll.isEmpty) gate(read(n, false), Literal.create(null, read(n, false).dataType))
      else rolled(n, distinct = false)
    def count(n: String): Expression =
      if (roll.isEmpty) gate(read(n, false), Literal(0L))
      else Coalesce(Seq(rolled(n, distinct = false), Literal(0L)))
    sa match {
      case SCountStar => count("n_rows")
      case SCountCol(nn) => count(nn)
      case SSum(c) => value(c)
      case SMin(c) => value(c)
      case SMax(c) => value(c)
      case SAvg(sc, nn) => avgFromSummary(value(sc), count(nn))
      case SKmv(c) =>
        if (roll.isEmpty) gate(KmvEstimateStr(read(c, false), reg.kmvK), Literal(0L))
        else KmvEstimateStr(rolled(c, distinct = false), reg.kmvK)
      // exact grain: the column is part of the grouping, so its
      // distinct count within the group is 1 — except the NULL group
      // (DISTINCT ignores NULL → 0; the managed define() path makes
      // groups PK-non-null, but register() is public and a
      // hand-registered base may carry a NULL group row)
      case SCountDistinctGroup(c) =>
        if (roll.isEmpty) gate(If(IsNull(read(c, true)), Literal(0L), Literal(1L)), Literal(0L))
        else rolled(c, distinct = true)
    }
  }

  // ── The shared stages: freshness, admission, summary read, remap ────

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

  /** Admit a leaf's scan filters against a registration: conjuncts
    * template-matching a registered BASE filter are already baked into
    * the summary's rows and DROP; every registered base filter must be
    * present (otherwise the query ranges over more rows than the
    * summary covers); the rest may reference ONLY group columns (then a
    * group survives the filter as a whole or not at all — answerable by
    * filtering the summary's rows). Right: the conjuncts to re-apply. */
  private def admit(conds: Seq[Expression], reg: Registration): Either[String, Seq[Expression]] = {
    val (baked, rest) =
      if (reg.baseFilters.isEmpty) (Nil, conds)
      else conds.partition(c => reg.baseFilters.contains(normalizeExpr(c)))
    if (!reg.baseFilters.forall(bf => baked.exists(c => normalizeExpr(c) == bf)))
      Left("unservable predicate: the query lacks a filter baked " +
        "into the summary (it ranges over more rows than the summary covers)")
    else rest.find(c => !refNames(c, reg, AttributeSet.empty).subsetOf(reg.groupCols.toSet)) match {
      case Some(c) => Left(s"unservable predicate: ${c.sql} references non-group columns")
      case None => Right(rest)
    }
  }

  /** Freshness, then the OPTIMIZED summary read and its column check.
    * The store's type-render projection is all identity casts for a
    * summary's SQL types, and optimizing them away leaves the bare
    * relation — so pushed predicates sit DIRECTLY on the scan (parquet
    * row-group pruning) instead of above a cast Project (re-entering
    * the optimizer inside a rule is the same recursion Spark's own
    * subquery rewrite performs). Right: the plan and its attributes by
    * name. */
  private def readSummary(key: String, reg: Registration,
      need: Seq[String]): Either[String, (LogicalPlan, Map[String, Attribute])] =
    if (!isFresh(key, reg))
      Left("stale: the maintenance watermark is behind the base's " +
        "current generation (maintain() or autoMaintainOn() heals it)")
    else {
      val plan = reg.store.readTable(reg.summary).queryExecution.optimizedPlan
      val byName = plan.output.map(a => a.name -> a).toMap
      val missing = need.distinct.filterNot(byName.contains)
      if (missing.isEmpty) Right((plan, byName))
      else Left("missing summary column(s): " + missing.mkString(", "))
    }

  private def castTo(e: Expression, t: DataType): Expression =
    if (e.dataType == t) e else Cast(e, t)

  private def filterBy(conds: Seq[Expression], p: LogicalPlan): LogicalPlan =
    if (conds.isEmpty) p else Filter(conds.reduce(And), p)

  /** A fact-side expression moved onto summary attributes `byName`:
    * registered derived subtrees collapse to their summary column
    * FIRST (their leaf attributes must not be remapped piecemeal), then
    * fact attributes remap BY NAME — cast back to the referenced type
    * when a faithful (lossless) widening sat between the scan and the
    * reference, so predicates stay well-typed and value-identical. Dim
    * attributes (`dimOut`) never remap, even when a summary column
    * shares their name. */
  private def remapTo(e: Expression, reg: Registration, byName: Map[String, Attribute],
      dimOut: AttributeSet): Expression =
    e.transformDown {
      case sub if sub.references.nonEmpty && !sub.references.exists(dimOut.contains) &&
          deriveName(sub, reg).exists(n => reg.groupCols.contains(n) && byName.contains(n)) =>
        byName(deriveName(sub, reg).get)
    }.transform {
      case ar: AttributeReference if !dimOut.contains(ar) && byName.contains(ar.name) =>
        castTo(byName(ar.name), ar.dataType)
    }

  // ── The one matcher ─────────────────────────────────────────────────

  /** How one output of the Aggregate is served: verbatim (a dim
    * attribute or aggregate-free dim expression, a grouping-set slot or
    * grouping() marker), as a fact group column, or as a served
    * aggregate under an optional FILTER gate (`at`: the Expand slot a
    * distinct count reads). */
  private sealed trait Out
  private case object KeepOut extends Out
  private final case class GroupOut(e: Expression) extends Out
  private final case class AggOut(sa: ServedAgg, filter: Option[Expression], at: Option[Int])
      extends Out

  private def tryCandidate(s: Shape, reg: Registration): Option[LogicalPlan] = {
    def no(why: String): Option[LogicalPlan] = { logProbe(reg, why); None }
    val dimOut = s.dimOut
    val groupCols = reg.groupCols.toSet
    def factGroup(e: Expression): Option[String] =
      if (e.references.exists(dimOut.contains)) None else nameOf(e, reg).filter(groupCols)
    def onDim(e: Expression): Boolean = e.references.nonEmpty && e.references.subsetOf(dimOut)

    // the grain: grouping-set columns must be dim expressions or summary
    // group columns; plain groupings must be summary group columns or
    // registered derivations (a strict subset re-aggregates), or — over
    // a star — dim expressions served verbatim (a mixed one cannot be)
    def grainOf(): Either[String, Seq[String]] = Right(s.sets match {
      case Some(st) =>
        s.groupings.foreach {
          case ar: AttributeReference if st.posOf.contains(ar.exprId) =>
            st.slots(st.posOf(ar.exprId)) match {
              case ExprSlot(e, _) if !onDim(e) && factGroup(e).isEmpty =>
                return Left(s"grouping mismatch: grouping-set column ${e.sql} is " +
                  (if (s.spine.isEmpty) "not a summary group column"
                   else "neither a dim expression nor a summary group column"))
              case _ =>
            }
          case g => return Left(s"grouping mismatch: ${g.sql} is not an Expand output")
        }
        Nil
      case None if s.spine.isDefined =>
        s.groupings.flatMap { g =>
          if (g.references.subsetOf(dimOut)) None
          else if (g.references.exists(dimOut.contains))
            return Left(s"grouping mismatch: ${g.sql} mixes fact and dim columns")
          else Some(factGroup(g).getOrElse(return Left(
            s"grouping mismatch: ${g.sql} is not a summary group column or derivation")))
        }
      case None =>
        val names = s.groupings.map(g => nameOf(g, reg).getOrElse(return Left(
          s"grouping mismatch: ${g.sql} is not a group column or registered derivation")))
        if (!names.toSet.subsetOf(groupCols)) return Left("grouping mismatch: " +
          names.filterNot(groupCols).mkString(", ") + " not in the summary's group columns")
        names
    })
    // a plain join names a failing join key or filter before a
    // failing grouping; every other shape checks its grain first
    val grain = grainOf()
    val plainJoin = s.spine.isDefined && s.sets.isEmpty
    if (!plainJoin) grain.left.foreach(why => return no(why))
    val keyNames = s.spine.fold(Seq.empty[String])(_.keys.map(k => factGroup(k).getOrElse(
      return no(s"grouping mismatch: join key ${k.sql} is not a summary group column"))))
    val rest = admit(s.fact.conds, reg).fold(why => return no(why), identity)
    val groupNames = grain.fold(why => return no(why), identity)

    // every output: served verbatim, a fact group column, or a servable
    // aggregate. An aggregate must range over the fact side only (a dim
    // or mixed measure is not in the summary — an aggregate over dim
    // values scales with the fact-side join multiplicity, which the
    // summary join collapses); its FILTER must be constant per served
    // row (over summary rows: group columns and dim attributes; over a
    // rebuilt Expand: grouping-id, dim and fact-group slots, kept
    // VERBATIM — the rebuilt Expand re-emits them under the same
    // attributes); a fact-measure reference stands down.
    val gids: Set[ExprId] = s.groupings.collect { case ar: AttributeReference => ar.exprId }.toSet
    def kept(a: Attribute): Boolean = if (s.sets.isDefined) gids(a.exprId) else dimOut.contains(a)
    def servedOf(e: Expression): Option[AggOut] = e match {
      case ae: AggregateExpression =>
        val filterOk = ae.filter.forall(p => p.deterministic && (s.sets match {
          case None => refNames(p, reg, dimOut).subsetOf(groupCols)
          case Some(st) => p.references.forall(r => st.posOf.get(r.exprId).exists(i =>
            st.slots(i) match {
              case _: GidSlot => true
              case ExprSlot(se, _) => onDim(se) || factGroup(se).isDefined
            }))
        }))
        val bare = ae.copy(filter = None)
        s.sets.fold(Option[Expression](bare))(_.substSlots(bare)).collect {
          case x: AggregateExpression
              if filterOk && !x.aggregateFunction.references.exists(dimOut.contains) => x
        }.flatMap(matchAgg(_, reg)).flatMap { sa =>
          // over grouping sets a distinct count reads its fact
          // group-column slot verbatim
          val at = s.sets.filter(_ => sa.isInstanceOf[SCountDistinctGroup]).map { st =>
            bare.references.toSeq match {
              case Seq(one) => st.posOf.get(one.exprId).filter(i => st.slots(i) match {
                case ExprSlot(se, _) => factGroup(se).isDefined
                case _ => false
              })
              case _ => None
            }
          }
          if (at.contains(None)) None else Some(AggOut(sa, ae.filter, at.flatten))
        }
      case _ => None
    }
    val outs: Seq[Out] = s.aggExprs.map {
      case ar: AttributeReference if kept(ar) => KeepOut
      case ar: AttributeReference if s.sets.isEmpty &&
          nameOf(ar, reg).exists(groupNames.contains) => GroupOut(ar)
      case a: Alias if a.child.references.nonEmpty && a.child.references.forall(kept) &&
          !hasAgg(a.child) => KeepOut
      case a: Alias if s.sets.isEmpty && factGroup(a.child).exists(groupNames.contains) =>
        GroupOut(a.child)
      case a: Alias => servedOf(a.child).getOrElse(return no(s"unservable aggregate: ${a.child.sql}"))
      case other => return no(s"unservable output: ${other.sql}")
    }
    val served = outs.collect { case a: AggOut => a }
    val needCols = served.flatMap(_.sa.needed).distinct

    val (sumPlan, byName) = readSummary(s.fact.key, reg, reg.groupCols ++ needCols)
      .fold(why => return no(why), identity)
    def remap(e: Expression): Expression = remapTo(e, reg, byName, dimOut)
    val summaryConds = rest.map(remap)
    // each output keeps its original name and exprId
    def under(orig: Attribute, e: Expression): NamedExpression =
      Alias(castTo(e, orig.dataType), orig.name)(exprId = orig.exprId)
    def emit(cell: AggOut => Expression): Seq[NamedExpression] =
      s.agg.output.zip(s.aggExprs).zip(outs).map {
        case ((_, ar: AttributeReference), KeepOut) => ar
        case ((orig, src), KeepOut) => under(orig, src.asInstanceOf[Alias].child)
        case ((orig, _), GroupOut(e)) => under(orig, remap(e))
        case ((orig, _), a: AggOut) => under(orig, cell(a))
      }
    def serve(plan: LogicalPlan): Option[LogicalPlan] = {
      logProbe(reg, "served"); Some(plan)
    }

    if (s.spine.isEmpty && s.sets.isEmpty) {
      if (groupNames.sorted == reg.groupCols.sorted) {
        // the exact grain: one summary row per output row
        val projected = emit(a => cellOf(a.sa, reg, a.filter.map(remap), (n, _) => byName(n), None))
        // HAVING conjuncts whose every reference is a served output PUSH
        // BELOW the Project: each output exprId substitutes to the
        // expression the Project computes for it (a summary column, or a
        // tree over summary columns already cast to the output type),
        // and the Project is 1:1 over summary rows, so filtering below
        // equals filtering above — but below, a simple comparison like
        // `n_rows > 5` reaches the parquet scan as a pushed filter.
        // Re-aggregated shapes keep HAVING above (the served value only
        // exists after the re-aggregation; no scan to prune).
        val outMap: Map[ExprId, Expression] =
          projected.collect { case a: Alias => a.exprId -> a.child }.toMap
        val (pushed, above) =
          s.having.partition(c => c.references.forall(r => outMap.contains(r.exprId)))
        val pushedSubst = pushed.map(_.transform {
          case ar: AttributeReference if outMap.contains(ar.exprId) => outMap(ar.exprId)
        })
        return serve(filterBy(above,
          Project(projected, filterBy(summaryConds ++ pushedSubst, sumPlan))))
      }
      // a subset grouping (incl. the empty set) re-aggregates in one
      // Aggregate under the Project: one alias per distinct (summary
      // column, FILTER predicate) pair — one query can need the same
      // column both raw and under several different predicates
      val rolled = scala.collection.mutable.LinkedHashMap.empty[(String, Option[Expression]), Alias]
      val projected = emit { a =>
        val f = a.filter.map(remap)
        cellOf(a.sa, reg, f, (n, _) => byName(n), Some { (n, distinct, fn) =>
          rolled.getOrElseUpdate(((if (distinct) "cd:" else "") + n, f.map(_.canonicalized)),
            Alias(fn, (if (distinct) "__cd_" else "__") + n + "_" + rolled.size)()).toAttribute
        })
      }
      val groupAttrs: Seq[NamedExpression] = groupNames.map(byName(_))
      return serve(filterBy(s.having, Project(projected,
        Aggregate(groupAttrs, groupAttrs ++ rolled.values.toSeq, filterBy(summaryConds, sumPlan)))))
    }

    // re-aggregation over the dims joined back and/or a rebuilt Expand.
    // The summary side reads the servable fact filters remapped onto the
    // summary scan, pruned to the join keys, the fact group columns the
    // grain, FILTER predicates and distinct counts consume, and the
    // measures. With grouping sets the kept Expand positions are the
    // grouping id, the groupings and the slots FILTERs and distinct
    // counts read; measures ride as appended pass-through slots.
    val keepPos: Seq[Int] = s.sets.fold(Seq.empty[Int]) { st =>
      val used = s.groupings.collect { case ar: AttributeReference => st.posOf(ar.exprId) } ++
        served.flatMap(a => a.filter.toSeq.flatMap(_.references.map(r => st.posOf(r.exprId))) ++ a.at)
      st.output.indices.filter(p => st.slots(p).isInstanceOf[GidSlot] || used.contains(p))
    }
    val measures = if (s.sets.isDefined) needCols.filterNot(reg.groupCols.contains) else needCols
    val factNames = s.sets match {
      case Some(st) => keepPos.flatMap(p => st.slots(p) match {
        case ExprSlot(e, _) => factGroup(e)
        case _ => None
      })
      case None => groupNames ++ served.flatMap(_.filter).flatMap(refNames(_, reg, dimOut))
    }
    val factSide: LogicalPlan = Project(((keyNames ++ factNames).distinct.map(byName(_)) ++
      measures.map(byName(_))).distinct, filterBy(summaryConds, sumPlan))

    // secondary registered leaves (fact-fact joins) swap to their own
    // summaries; their n_rows multiplicities scale the count/sum cells
    val secondaries: Seq[(LogicalPlan, (LogicalPlan, Option[Attribute]))] =
      (s.spine, s.sets) match {
        case (Some(sp), None) =>
          val consumed = AttributeSet(
            sp.join.collect { case Join(_, _, _, Some(c), _) => c }.flatMap(_.references) ++
              s.groupings.flatMap(_.references) ++ s.aggExprs.flatMap(_.references))
          sp.rowLeaves.filterNot(_ eq s.fact.plan).flatMap(l =>
            secondaryOf(l, sp.join, consumed, semiRef = false).map(l -> _)) ++
            sp.filterOnly.flatMap(l => secondaryOf(l, sp.join, consumed, semiRef = true).map(l -> _))
        case _ => Nil
      }
    val mult: Option[Expression] = secondaries.flatMap(_._2._2) match {
      case Nil => None
      case as  => Some(as.map(a => a: Expression).reduce(Multiply(_, _)))
    }
    def scale(child: Expression): Expression = mult.fold(child)(m => child.dataType match {
      // decimal multiply must be same-typed post-analysis: widen both
      // sides to (38,2) — the product is exact in scale ≤ 4 and the
      // outer cast restores the output type (values are whole cents)
      case _: DecimalType => Multiply(Cast(child, DecimalType(38, 2)), Cast(m, DecimalType(38, 2)))
      case _ => Multiply(child, m)
    })
    // rebuild the spine: the fact leaf becomes the summary read, every
    // fact-touching join condition remaps to summary attributes,
    // column-pruning Projects on replaced paths drop (a primary-path
    // list references retired fact attributes; a secondary-path list is
    // mere pruning the optimizer redoes), and every other branch is kept
    // verbatim — per-join hints included
    def replOf(q: LogicalPlan): Option[LogicalPlan] =
      secondaries.collectFirst { case (l, r) if l eq q => r._1 }
    def touched(p: LogicalPlan): Boolean =
      p.exists(n => (n eq s.fact.plan) || replOf(n).isDefined)
    def rebuild(p: LogicalPlan): LogicalPlan = p match {
      case q if q eq s.fact.plan => factSide
      case q if replOf(q).isDefined => replOf(q).get
      // the fact (and any row-contributing secondary) sits on the left
      // of a semi/anti/outer join; a semi/anti RIGHT subtree that is
      // itself a registered base swaps to its summary (the EXISTS
      // reference set read group-count-sized), else it stays verbatim
      case j @ Join(l, r, jt @ (Inner | LeftSemi | LeftAnti | LeftOuter), cOpt, h) if touched(j) =>
        Join(rebuild(l), if (jt == Inner) rebuild(r) else replOf(r).getOrElse(r), jt,
          cOpt.map(c => remap(s.fact.inline(c))), h)
      case Project(_, c) if touched(p) => rebuild(c)
      case SubqueryAlias(_, c) if touched(p) => rebuild(c)
      case other => other
    }
    val input = s.spine.fold(factSide)(sp => rebuild(sp.join))

    s.sets match {
      case None =>
        serve(filterBy(s.having, Aggregate(
          s.groupings.map(g => if (g.references.subsetOf(dimOut)) g else remap(g)),
          emit(a => cellOf(a.sa, reg, a.filter.map(remap), (n, _) => byName(n),
            Some((_, _, fn) => fn), scale)),
          input)))
      case Some(st) =>
        val measureAttrs: Map[String, AttributeReference] = measures.map { c =>
          c -> AttributeReference("__s_" + c, byName(c).dataType, nullable = true)()
        }.toMap
        val projections: Seq[Seq[Expression]] = st.projections.indices.map { j =>
          keepPos.map { p =>
            st.slots(p) match {
              case GidSlot(lits) => lits(j)
              case ExprSlot(e, nulls) =>
                if (nulls(j)) Literal.create(null, st.output(p).dataType)
                else if (onDim(e)) e
                else castTo(byName(factGroup(e).get), st.output(p).dataType)
            }
          } ++ measures.map(c => byName(c): Expression)
        }
        val expand = Expand(projections,
          keepPos.map(st.output(_)) ++ measures.map(measureAttrs(_)), input)
        serve(filterBy(s.having, Aggregate(s.groupings,
          emit(a => cellOf(a.sa, reg, a.filter,
            (n, distinct) => if (distinct) st.output(a.at.get) else measureAttrs(n),
            Some((_, _, fn) => fn))),
          expand)))
    }
  }

  /** A SECONDARY registered leaf of a fact-fact join: a second leaf
    * that ALSO faithfully scans a registered base — with its join keys
    * and every consumed attribute resolving to summary group columns —
    * swaps to ITS summary: the replacement Project re-aliases each
    * consumed group column under the ORIGINAL attribute id (so
    * conditions, groupings and pass-through outputs above resolve
    * unchanged) and exports the summary's n_rows as a multiplicity.
    * Each replaced summary row stands for n_rows base rows with
    * identical consumed values, so the joined relation is exact once
    * the PRIMARY's count/sum cells are scaled by the product of the
    * secondaries' multiplicities (min/max/KMV/distinct cells are
    * multiplicity-insensitive). A leaf that fails any check just stays
    * a verbatim scan — never a stand-down of the whole rewrite.
    * `semiRef` marks a LEFT SEMI/ANTI right subtree: its rows only feed
    * the EXISTS check, so multiplicity is irrelevant — no join-key equi
    * requirement (the condition sees only VALUES and the set of
    * consumed group-column tuples is preserved by the grain
    * projection), no n_rows export, no scaling. */
  private def secondaryOf(plan: LogicalPlan, join: Join, consumed: AttributeSet,
      semiRef: Boolean): Option[(LogicalPlan, Option[Attribute])] = {
    val leaf = leafOf(plan).getOrElse(return None)
    val candidates = Option(registry.get(leaf.key)).getOrElse(return None)
    val keys = if (semiRef) Nil else factKeysOf(join, plan, leaf.inline).getOrElse(return None)
    val used = plan.output.filter(consumed.contains)
    candidates.sortBy(_.groupCols.size).iterator.flatMap { reg =>
      def groupOf(e: Expression): Option[String] =
        nameOf(leaf.inline(e), reg).filter(reg.groupCols.contains)
      val usedNames = used.map(a => a -> groupOf(a))
      if (keys.exists(groupOf(_).isEmpty) || usedNames.exists(_._2.isEmpty)) None
      else for {
        rest <- admit(leaf.conds, reg).toOption
        (sumPlan, byName) <- readSummary(leaf.key, reg,
          reg.groupCols ++ (if (semiRef) Nil else Seq("n_rows"))).toOption
      } yield {
        val mult = if (semiRef) None else Some(Alias(byName("n_rows"), "__mult")())
        val projList: Seq[NamedExpression] = usedNames.map { case (a, n) =>
          Alias(castTo(byName(n.get), a.dataType), a.name)(exprId = a.exprId)
        } ++ mult
        logProbe(reg, "served")
        (Project(projList, filterBy(rest.map(remapTo(_, reg, byName, AttributeSet.empty)),
          sumPlan)): LogicalPlan, mult.map(_.toAttribute))
      }
    }.nextOption()
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
    * Aggregate in the rewrite's own canonical shape — a plain scan,
    * grouping sets, a star, or grouping sets over a star (recommending
    * from the first fact leaf that can serve). Fact-side groupings
    * (grouping-set slots mapped back to their sources) become group
    * columns, expression groupings derived columns, and a star's
    * fact-side join keys join the grain; dim groupings, dim pass-through
    * outputs and dim-referencing FILTERs serve verbatim and add
    * nothing. Scan filters contribute their referenced columns AS group
    * columns (a group-column filter is servable; anything else would
    * never serve), `COUNT(DISTINCT x)` adds x as a GROUP column (the
    * C44q exact-serve path — never a sketch swap), kmvDistinct demands a
    * distinct-kind summary, min/max demand a minmax kind. Measures must
    * be the servable `cast(v as decimal(18,2))` shape. A query mixing
    * sketch and arithmetic measures yields TWO recommendations (the
    * kinds maintain different columns). A GLOBAL aggregate recommends
    * the one-group constant derivation define() documents. Empty
    * result: nothing recommendable (no aggregate, unfaithful scan, a
    * dim-side or mixed measure, or an unservable aggregate shape). */
  def recommend(df: org.apache.spark.sql.DataFrame): Seq[Recommendation] = {
    val agg = df.queryExecution.optimizedPlan.collectFirst {
      case a: Aggregate => a }.getOrElse(return Nil)
    shapesOf(agg, Nil).map(recommendFor).find(_.nonEmpty).getOrElse(Nil)
  }

  /** The advisor over one shape: the fact-side grain expressions and
    * measures, with grouping sets read through their slots. */
  private def recommendFor(s: Shape): Seq[Recommendation] = {
    val dimOut = s.dimOut
    val (groupSrc, outs): (Seq[Expression], Seq[Expression]) = s.sets match {
      case Some(st) =>
        val gids = s.groupings.map {
          case ar: AttributeReference if st.posOf.contains(ar.exprId) => ar.exprId
          case _ => return Nil
        }.toSet
        (s.groupings.flatMap { g =>
          st.slots(st.posOf(g.asInstanceOf[Attribute].exprId)) match {
            case ExprSlot(e, _) => Some(e)
            case _: GidSlot => None
          }
        }, s.aggExprs.flatMap {
          case _: AttributeReference => None // grouping slot output
          case a: Alias if a.child.references.nonEmpty &&
              a.child.references.forall(r => gids(r.exprId)) && !hasAgg(a.child) =>
            None // grouping()/grouping_id() marker
          case a: Alias => Some(st.substSlots(a.child).getOrElse(return Nil))
          case _ => return Nil
        })
      case None => (s.groupings, s.aggExprs.flatMap {
        case _: AttributeReference => None // grouping output
        case a: Alias => Some(a.child)
        case _ => return Nil
      })
    }
    val grain = scala.collection.mutable.ArrayBuffer.empty[Expression]
    groupSrc.foreach { g =>
      if (s.spine.isDefined && g.references.subsetOf(dimOut)) () // dim: verbatim
      else if (g.references.exists(dimOut.contains)) return Nil // mixed
      else grain += g
    }
    val measures = scala.collection.mutable.ArrayBuffer.empty[AggregateExpression]
    outs.foreach {
      case e if e.references.nonEmpty && e.references.subsetOf(dimOut) && !hasAgg(e) =>
      // a dim-referencing FILTER serves verbatim; only the aggregate
      // FUNCTION must be fact-side
      case ae: AggregateExpression
          if !ae.aggregateFunction.references.exists(dimOut.contains) &&
            ae.filter.forall(_.deterministic) => measures += ae
      case e if !e.references.exists(dimOut.contains) && !hasAgg(e) => grain += e
      case _ => return Nil
    }
    recommendCore(grain.toSeq ++ s.spine.fold(Seq.empty[Expression])(_.keys),
      measures.toSeq, s.fact, dimOut)
  }

  /** The advisor core: derive the summary grain (bare groupings → group
    * columns, expression groupings → derived columns, scan filters and
    * FILTER clauses promote their fact-side columns) and the measure set
    * from the servable aggregate shapes. `dimOut` references are
    * verbatim-served join attributes: a FILTER over them needs nothing
    * maintained. */
  private def recommendCore(groupings: Seq[Expression], aggs: Seq[AggregateExpression],
      leaf: Leaf, dimOut: AttributeSet): Seq[Recommendation] = {
    val groups = scala.collection.mutable.LinkedHashSet.empty[String]
    val derive = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def groupOf(e: Expression): Boolean = e match {
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
    leaf.conds.foreach(_.references.foreach(ar => groups += ar.name))
    val sums = scala.collection.mutable.LinkedHashSet.empty[String]
    val kmvs = scala.collection.mutable.LinkedHashSet.empty[String]
    var needMinMax = false
    var kmvK = 64
    def measureOf(e: Expression): Option[String] = e match {
      case c: Cast => (c.dataType, c.child) match {
        case (d: DecimalType, ar: AttributeReference)
            if d.precision == 18 && d.scale == 2 => Some(ar.name)
        case _ => None
      }
      case ar: AttributeReference if ar.dataType == DecimalType(18, 2) => Some(ar.name)
      case _ => None
    }
    val servable = aggs.forall { ae =>
      // a FILTER over a dim attribute serves verbatim off the joined
      // row — only fact-side references join the grain
      ae.filter.foreach(_.references.filterNot(dimOut.contains).foreach(ar => groups += ar.name))
      ae.aggregateFunction match {
        case Count(Seq(Literal(_, _))) => true
        case Count(Seq(child)) if ae.isDistinct =>
          child match { // C44q: exact via group membership
            case ar: AttributeReference => groups += ar.name; true
            case _ => false
          }
        case Count(Seq(child)) =>
          // a bare count column must be able to BE a value column (the
          // kinds sum it as decimal(18,2); a string measure would fail
          // the define() bootstrap cast)
          measureOf(child).orElse(child match {
            case ar: AttributeReference if ar.dataType.isInstanceOf[NumericType] => Some(ar.name)
            case _ => None
          }).exists { n => sums += n; true }
        case s: Sum => measureOf(s.child).exists { n => sums += n; true }
        case av: Average => measureOf(av.child).exists { n => sums += n; true }
        case m: Min => measureOf(m.child).exists { n => sums += n; needMinMax = true; true }
        case m: Max => measureOf(m.child).exists { n => sums += n; needMinMax = true; true }
        case KmvDistinct(child, k, _, _) =>
          child match {
            case c: Cast if c.dataType == StringType => c.child match {
              case ar: AttributeReference => kmvs += ar.name; kmvK = k; true
              case _ => false
            }
            case ar: AttributeReference => kmvs += ar.name; kmvK = k; true
            case _ => false
          }
        case _ => false
      }
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
      val relSchema: Map[String, DataType] = leaf.plan.collectFirst {
        case LogicalRelation(_: HadoopFsRelation, out, _, _, _) =>
          out.map(a => a.name -> a.dataType).toMap
      }.getOrElse(Map.empty)
      val vals =
        if (sums.nonEmpty) sums.toSeq
        else g.find(n => relSchema.get(n).exists(_.isInstanceOf[NumericType]))
          .orElse(relSchema.collectFirst { case (n, _: NumericType) => n })
          .toSeq
      if (vals.nonEmpty) recs += Recommendation(leaf.key, g, d, vals, kind)
    }
    if (kmvs.nonEmpty)
      recs += Recommendation(leaf.key, g, d, kmvs.toSeq,
        if (kmvs.size > 1) "distinctmulti" else "distinct", kmvK)
    recs.toSeq
  }
}
