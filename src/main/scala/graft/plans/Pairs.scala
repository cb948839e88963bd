package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension (SURVEY §7.1 case (c)): intra-group
  * candidate-pair generation for the near-dup dedup families.
  *
  * Every blocked near-dup operator needs "all ordered pairs of documents
  * sharing a key" (a shingle, an LSH band bucket, a SimHash chunk). As a
  * self-join that costs TWO exchanges of the keyed relation (one per join
  * side) plus a hash-table build per partition, and Spark plans it as a
  * generic equi-join because it cannot know both sides are the same
  * relation. This operator expresses the semantics directly: ONE exchange
  * clustering on the group key, one sort, then a streaming scan that
  * buffers a single group at a time and emits its `n·(n−1)/2` ordered
  * pairs. Shuffle volume halves, the build side disappears, and the
  * per-group buffer bound (`maxGroupRows`) turns the quadratic-skew
  * hazard of a hot key into an explicit, named error instead of a
  * silently stuck task — the df-cut/bucket-width invariants the callers
  * maintain are what keep groups small at 100 TB, and this operator
  * enforces them.
  *
  * Output: group columns (same attributes, so downstream operators that
  * re-aggregate on them reuse the clustering) ++ `a_<id>`,`a_<p>`…,
  * `b_<id>`,`b_<p>`… with `a.<id> < b.<id>` by the child sort order.
  */
case class PairsWithinGroups(
    groupAttrs: Seq[Attribute],
    idAttr: Attribute,
    payloadAttrs: Seq[Attribute],
    pairAttrs: Seq[Attribute],
    maxGroupRows: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = groupAttrs ++ pairAttrs
  override def producedAttributes: AttributeSet = AttributeSet(pairAttrs)
  override protected def withNewChildInternal(newChild: LogicalPlan): PairsWithinGroups =
    copy(child = newChild)
}

/** Planner rule: the logical node has exactly one physical form. Kept as
  * a standalone strategy so it can be registered either through
  * `spark.experimental.extraStrategies` (done lazily by [[Pairs]]) or via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
object PairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PairsWithinGroups(g, id, p, pairs, max, child) =>
      PairsWithinGroupsExec(g, id, p, pairs, max,
        PairsInputBarrierExec(planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Pass-through codegen-stage boundary under [[PairsWithinGroupsExec]].
  *
  * The pair operator starts an iterator-based codegen stage (it reads
  * `inputs[0]`, it never calls its child's produce), so any codegen-able
  * child chain that CollapseCodegenStages fuses into the pair stage
  * would silently execute through per-operator fallback paths instead.
  * For the built-in SortMergeJoin Spark handles this by special-casing
  * the class in CollapseCodegenStages and wrapping its children in
  * InputAdapter; a custom operator can't be added to that match, so this
  * non-codegen pass-through node forces the same stage split. Measured:
  * without it, a pair input fed from a persisted cache loses the
  * codegen'd ColumnarToRow batch loop and the jaccard query ran 1.9×
  * slower. The node itself forwards rows, partitioning and ordering
  * untouched (its doExecute IS child.execute()), so the only runtime
  * effect is where the stage boundary falls. */
case class PairsInputBarrierExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  protected override def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): PairsInputBarrierExec =
    copy(child = newChild)
}

/** `SparkSessionExtensions` entry point for deployments that configure
  * extensions declaratively (`--conf spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectPlannerStrategy(_ => PairsStrategy)
}

/** Serializable factory shipped through the codegen `references` array:
  * UnsafeProjection itself is not serializable, so the generated stage
  * builds its projections on the executor from the bound expressions. */
final case class PairsProjFactory(exprs: Seq[Expression], input: Seq[Attribute]) {
  def create(): UnsafeProjection = UnsafeProjection.create(exprs, input)
}

case class PairsWithinGroupsExec(
    groupAttrs: Seq[Attribute],
    idAttr: Attribute,
    payloadAttrs: Seq[Attribute],
    pairAttrs: Seq[Attribute],
    maxGroupRows: Int,
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = groupAttrs ++ pairAttrs
  override def producedAttributes: AttributeSet = AttributeSet(pairAttrs)

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  /** The single exchange: cluster on the group key. A child already
    * hash-partitioned on these attributes (e.g. the window that computed
    * the jaccard df-cut) satisfies this with no new shuffle. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupAttrs) :: Nil

  /** Sort groups together; the id tie-break inside a group makes the
    * emitted (a, b) orientation deterministic (a = smaller id). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((groupAttrs :+ idAttr).map(a => SortOrder(a, Ascending)))

  /** Group attributes pass through with their exprIds, so the child's
    * clustering remains valid for downstream per-group aggregation. */
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    groupAttrs.map(a => SortOrder(a, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val gAttrs = groupAttrs
    val sideAttrs = idAttr +: payloadAttrs
    val childOutput = child.output
    val outAttrs = output
    val maxRows = maxGroupRows
    val numOutput = longMetric("numOutputRows")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(gAttrs, childOutput)
      val sideProj = UnsafeProjection.create(sideAttrs, childOutput)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val keyAndA = new JoinedRow
      val full = new JoinedRow
      // one group at a time: (key, members sorted by id)
      val groups = new Iterator[(UnsafeRow, ArrayBuffer[UnsafeRow])] {
        private var lookahead: InternalRow = if (iter.hasNext) iter.next() else null
        override def hasNext: Boolean = lookahead != null
        override def next(): (UnsafeRow, ArrayBuffer[UnsafeRow]) = {
          val key = keyProj(lookahead).copy()
          val buf = ArrayBuffer.empty[UnsafeRow]
          var inGroup = true
          while (inGroup) {
            buf += sideProj(lookahead).copy()
            if (buf.length > maxRows)
              throw new IllegalStateException(
                s"pairsWithinGroups: group exceeded maxGroupRows=$maxRows " +
                  "(a hot key would emit quadratic pairs — raise the limit " +
                  "or tighten the caller's df-cut/bucket width)")
            lookahead = if (iter.hasNext) iter.next() else null
            inGroup = lookahead != null && keyProj(lookahead) == key
          }
          (key, buf)
        }
      }
      groups.flatMap { case (key, rows) =>
        // emission order/orientation contract lives in PairEmitterCore
        // (shared with the streaming S6 state fold)
        PairEmitterCore.allPairIndices(rows.length).map { case (i, j) =>
          numOutput.add(1)
          outProj(full(keyAndA(key, rows(i)), rows(j)))
        }
      }
    }
  }

  // ── whole-stage codegen ───────────────────────────────────────────────
  //
  // Iterator-style produce (the SortMergeJoin shape): this operator
  // STARTS a codegen stage — it reads the sorted child through
  // `inputs[0]` and emits each pair straight into the downstream
  // operators' consume path, so a partial aggregation over the pair
  // stream fuses into the same generated loop with no row handoff.
  // The group buffer and (i, j) pair cursor live as stage fields so the
  // loop can suspend at shouldStop() and resume mid-group.

  override def inputRDDs(): Seq[RDD[InternalRow]] = child.execute() :: Nil

  override def needCopyResult: Boolean = true // out rows reuse the projection buffer

  /** A/B escape hatch (bench comparisons): GRAFT_PAIRS_NO_CODEGEN=1
    * falls back to the interpreted doExecute. */
  override def supportCodegen: Boolean = !sys.env.contains("GRAFT_PAIRS_NO_CODEGEN")

  override protected def doProduce(ctx: CodegenContext): String = {
    val input = ctx.addMutableState("scala.collection.Iterator", "pairsInput",
      v => s"$v = inputs[0];", forceInline = true)
    val keyFactory = ctx.addReferenceObj("pairsKeyFactory",
      PairsProjFactory(groupAttrs, child.output), classOf[PairsProjFactory].getName)
    val sideFactory = ctx.addReferenceObj("pairsSideFactory",
      PairsProjFactory(idAttr +: payloadAttrs, child.output), classOf[PairsProjFactory].getName)
    val outFactory = ctx.addReferenceObj("pairsOutFactory",
      PairsProjFactory(output, output), classOf[PairsProjFactory].getName)
    val unsafeProj = classOf[UnsafeProjection].getName
    val unsafeRow = classOf[UnsafeRow].getName
    val joinedRow = classOf[JoinedRow].getName
    val keyProj = ctx.addMutableState(unsafeProj, "pairsKeyProj", v => s"$v = $keyFactory.create();")
    val sideProj = ctx.addMutableState(unsafeProj, "pairsSideProj", v => s"$v = $sideFactory.create();")
    val outProj = ctx.addMutableState(unsafeProj, "pairsOutProj", v => s"$v = $outFactory.create();")
    val j1 = ctx.addMutableState(joinedRow, "pairsJoined1", v => s"$v = new $joinedRow();")
    val j2 = ctx.addMutableState(joinedRow, "pairsJoined2", v => s"$v = new $joinedRow();")
    val buffer = ctx.addMutableState("java.util.ArrayList", "pairsBuffer",
      v => s"$v = new java.util.ArrayList();")
    val lookahead = ctx.addMutableState("InternalRow", "pairsLookahead")
    val key = ctx.addMutableState(unsafeRow, "pairsKey")
    val i = ctx.addMutableState("int", "pairsI")
    val j = ctx.addMutableState("int", "pairsJ")
    val outRow = ctx.freshName("pairsOutRow")
    val n = ctx.freshName("pairsN")
    val inGroup = ctx.freshName("pairsInGroup")
    val numOutput = metricTerm(ctx, "numOutputRows")
    s"""
       |while (true) {
       |  // emit (resuming mid-group after shouldStop) the buffered group's pairs
       |  int $n = $buffer.size();
       |  while ($i < $n - 1) {
       |    while ($j < $n) {
       |      $unsafeRow $outRow = $outProj.apply(
       |        $j2.apply(
       |          $j1.apply($key, (InternalRow) $buffer.get($i)),
       |          (InternalRow) $buffer.get($j)));
       |      $j++;
       |      $numOutput.add(1);
       |      ${consume(ctx, null, outRow)}
       |      if (shouldStop()) return;
       |    }
       |    $i++;
       |    $j = $i + 1;
       |  }
       |  // group exhausted — buffer the next run of equal keys
       |  if ($lookahead == null && !$input.hasNext()) { $buffer.clear(); return; }
       |  if ($lookahead == null) $lookahead = (InternalRow) $input.next();
       |  $key = $keyProj.apply($lookahead).copy();
       |  $buffer.clear();
       |  boolean $inGroup = true;
       |  while ($inGroup) {
       |    $buffer.add($sideProj.apply($lookahead).copy());
       |    if ($buffer.size() > $maxGroupRows)
       |      throw new IllegalStateException(
       |        "pairsWithinGroups: group exceeded maxGroupRows=$maxGroupRows (a hot key " +
       |        "would emit quadratic pairs - raise the limit or tighten the caller's " +
       |        "df-cut/bucket width)");
       |    $lookahead = $input.hasNext() ? (InternalRow) $input.next() : null;
       |    $inGroup = $lookahead != null && $keyProj.apply($lookahead).equals($key);
       |  }
       |  $i = 0;
       |  $j = 1;
       |}
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PairsWithinGroupsExec =
    copy(child = newChild)
}

object Pairs {

  private def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val em = spark.experimental
    if (!em.extraStrategies.contains(PairsStrategy))
      em.extraStrategies = em.extraStrategies :+ PairsStrategy
  }

  /** All ordered intra-group pairs of `df` rows: group by `groupCols`,
    * pair members by ascending `idCol` (`a_<id> < b_<id>`), carrying
    * `payloadCols` on both sides. One exchange + sort, no join. */
  def withinGroups(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      payloadCols: Seq[String] = Nil,
      maxGroupRows: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"pairsWithinGroups: no column '$n' in [${plan.output.map(_.name).mkString(", ")}]"))
    val side = (idCol +: payloadCols).map(attr)
    val pairAttrs = (Seq("a_", "b_")).flatMap(prefix =>
      side.map(a => AttributeReference(prefix + a.name, a.dataType, a.nullable)()))
    org.apache.spark.sql.graftx.bridge.ofRows(spark,
      PairsWithinGroups(groupCols.map(attr), attr(idCol), payloadCols.map(attr),
        pairAttrs, maxGroupRows, plan))
  }
}
