package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** What a workload op is, for the end-to-end metrics. */
sealed trait Cls
object Cls {
  case object Write extends Cls
  case object Read extends Cls
  /** `summaries.maintain`: folding committed writes into summaries. */
  case object Fold extends Cls
  case object Maintenance extends Cls
}

/** An interval on the epoch-millisecond clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, opId: Long, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
  def contains(t: Double): Boolean = t >= startMs && t <= endMs
}

/** Per-op layer counts, filled only in traced runs. Listener events an
  * op caused are delivered to it before the op is closed (the bus is
  * drained at both op boundaries). */
final class LayerSample(val id: Long, val kind: String, val startMs: Double) {
  var endMs: Double = startMs
  def span: Span = Span(id, 0L, id, kind, startMs, endMs)
  val jobs = ArrayBuffer.empty[(Double, Double)] // (start, end) epoch ms
  val tasks = ArrayBuffer.empty[(Double, Long, Long)] // (finish ms, records read, shuffle bytes written)
  val children = ArrayBuffer.empty[(Span, FsCounters.Snap)]
  var fs: FsCounters.Snap = FsCounters.zero
  var exchanges, sorts = 0
  var analysisMs, optimizerMs, physicalMs, rewriteMs = 0.0
  /** Data directory of the base table a summary should keep this read away from. */
  var servedBase: Option[String] = None
  var served: Option[Boolean] = None

  def jobsIn(s: Span): Seq[(Double, Double)] = jobs.filter(j => s.contains(j._1)).toSeq
  def tasksIn(s: Span): Seq[(Double, Long, Long)] = tasks.filter(t => s.contains(t._1)).toSeq

  /** Span time covered by the union of the Spark jobs that ran in it. */
  def jobBusyMs(s: Span): Double = {
    val iv = jobs.map(j => (math.max(j._1, s.startMs), math.min(j._2, s.endMs)))
      .filter(j => j._2 > j._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) { if (!curS.isNaN) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}

/** The ops of one timed loop, the wall seconds of each of its rounds, and its wall. */
final case class LoopResult(ops: Seq[OpRecord], roundS: Seq[Double], wallS: Double,
    cpuS: Double, stealShare: Double) {
  def opsPerSecond: Double = ops.count(_.ok) / wallS
}

final case class OpRecord(kind: String, cls: Cls, latencyMs: Double, ok: Boolean,
    rows: Long, bytes: Long, returned: Long, layer: Option[LayerSample])

/** Times workload ops in a closed loop and, in traced runs, records
  * spans and the listener/filesystem counts at the same boundaries. */
final class Harness(val spark: SparkSession) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  /** The ops of the timed loops. */
  val ops = ArrayBuffer.empty[OpRecord]
  val mismatches = ArrayBuffer.empty[String]
  /** Every op run, warm-up included, and how many of them failed. */
  var opsRun, opsFailed = 0L
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  /** Timed ops are recorded only while the loop runs (not in setup/warm-up). */
  @volatile var recording = false
  /** True while a traced timed loop runs. */
  @volatile var tracing = false
  @volatile private var current: LayerSample = null
  @volatile var peakTaskMemBytes = 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = current
      if (c != null) c.synchronized { c.jobs += ((e.time.toDouble, Double.MaxValue)) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val c = current
      // jobs of one op run one at a time from the single client thread,
      // except broadcast/subquery jobs; close the earliest open one
      if (c != null) c.synchronized {
        val i = c.jobs.indexWhere(_._2 == Double.MaxValue)
        if (i >= 0) c.jobs(i) = (c.jobs(i)._1, e.time.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      if (recording && m.peakExecutionMemory > peakTaskMemBytes) peakTaskMemBytes = m.peakExecutionMemory
      val c = current
      if (c != null) c.synchronized {
        c.tasks += ((e.taskInfo.finishTime.toDouble, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = current
      if (c == null) return
      val phases = qe.tracker.phases
      def ph(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val rewrite = qe.tracker.rules.collect {
        case (rule, s) if rule.endsWith("SummaryRewrite") => s.totalTimeNs / 1e6
      }.sum
      val nodes = Harness.physicalNodes(qe.executedPlan)
      c.synchronized {
        c.analysisMs += ph("analysis"); c.optimizerMs += ph("optimization")
        c.physicalMs += ph("planning"); c.rewriteMs += rewrite
        c.exchanges += nodes.count(_.isInstanceOf[Exchange])
        c.sorts += nodes.count(_.isInstanceOf[SortExec])
        c.servedBase.filter(_ => funcName == "collect")
          .foreach(dir => c.served = Some(!Harness.scansPath(qe.optimizedPlan, dir)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** A timed read; the op ends when its rows are on the driver. For an
    * aggregate a summary should serve, `servedBase` names the base table's
    * data directory, and the traced run records whether the plan avoided it. */
  def read(kind: String, servedBase: Option[String] = None)(
      body: => Array[org.apache.spark.sql.Row]): Option[Array[org.apache.spark.sql.Row]] =
    op(kind, Cls.Read, 0L, 0L, servedBase)(body)(_.length.toLong)

  /** A timed op of `rows` user rows (`bytes` by Spark's default row size). */
  def op(kind: String, cls: Cls, rows: Long = 0L, bytes: Long = 0L)(body: => Unit): Option[Unit] =
    op(kind, cls, rows, bytes, None)(body)(_ => 0L)

  /** Run one timed op. A thrown exception counts as a failed op. */
  private def op[T](kind: String, cls: Cls, rows: Long, bytes: Long,
      servedBase: Option[String])(body: => T)(
      returned: T => Long): Option[T] = {
    val tr = tracing
    var sample: LayerSample = null
    val id = newId()
    var fs0 = FsCounters.zero
    if (tr) {
      drain()
      fs0 = FsCounters.snap()
    }
    val t0 = System.nanoTime()
    val startMs = nowMs
    if (tr) {
      sample = new LayerSample(id, kind, startMs)
      sample.servedBase = servedBase
      current = sample
    }
    val res = try Some(body) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: op $kind failed: $e")
        if (opsFailed < 3) e.printStackTrace()
        None
    }
    val latencyMs = (System.nanoTime() - t0) / 1e6
    opsRun += 1
    if (res.isEmpty) opsFailed += 1
    val endMs = nowMs
    val layer = if (!tr) None else {
      val fs1 = FsCounters.snap()
      drain()
      current = null
      sample.endMs = endMs
      sample.jobs.mapInPlace(j => (j._1, math.min(j._2, endMs)))
      sample.fs = fs1 - fs0
      Some(sample)
    }
    if (recording)
      ops += OpRecord(kind, cls, latencyMs, res.isDefined, rows, bytes,
        res.map(returned).getOrElse(0L), layer)
    res
  }

  /** A child span inside the current op (e.g. one summary's fold inside a maintain). */
  def child[T](name: String)(body: => T): T = {
    val s = current
    if (s == null) return body
    val fs0 = FsCounters.snap()
    val a = nowMs
    val r = body
    val b = nowMs
    s.children += ((Span(newId(), s.id, s.id, name, a, b), FsCounters.snap() - fs0))
    r
  }

  def mismatch(msg: String): Unit = {
    if (mismatches.size < 20) System.err.println("perfbench: MISMATCH " + msg)
    mismatches += msg
  }

  /** Runs `round` until `seconds` have passed (whole rounds only), with
    * tracing on if `traced`; returns the ops it recorded and the wall
    * seconds of each round. */
  def loop(seconds: Double, traced: Boolean)(round: => Unit): LoopResult = {
    val first = ops.size
    recording = true
    tracing = traced
    FsCounters.enabled = traced
    val cpu0 = Box.cpuNanos()
    val jiffies0 = Box.jiffies()
    val t0 = System.nanoTime()
    val rounds = ArrayBuffer.empty[Double]
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val a = System.nanoTime()
      round
      rounds += (System.nanoTime() - a) / 1e9
    }
    tracing = false
    FsCounters.enabled = false
    recording = false
    val wallS = (System.nanoTime() - t0) / 1e9
    val (steal, total) = Box.jiffies()
    LoopResult(ops.slice(first, ops.size).toSeq, rounds.toSeq, wallS, (Box.cpuNanos() - cpu0) / 1e9,
      if (total > jiffies0._2) (steal - jiffies0._1).toDouble / (total - jiffies0._2) else 0.0)
  }

  /** Spans as JSON lines: ops, the graft calls inside them, and Spark jobs.
    * `self_ms` is a span's time not covered by its children: for an op,
    * neither by its calls nor by jobs outside them; for a call, not by jobs. */
  def traceLines: Seq[String] = {
    def line(s: Span, kind: String, selfMs: Double) =
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":"${s.name}","kind":"$kind",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":$selfMs%.3f}"""
    ops.flatMap(_.layer).flatMap { l =>
      val calls = l.children.map(_._1)
      val callSelf = calls.map(c => c.ms - l.jobBusyMs(c))
      val opSelf = l.span.ms - l.jobBusyMs(l.span) - callSelf.sum
      Seq(line(l.span, "op", opSelf)) ++ calls.zip(callSelf).map { case (c, s) => line(c, "call", s) } ++
        l.jobs.map(j => line(Span(0L, l.id, l.id, "spark.job", j._1, j._2), "job", j._2 - j._1))
    }.toSeq
  }
}

object Harness {
  /** Every physical node, looking inside adaptive plans, query stages and subqueries. */
  def physicalNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries ++
        other.innerChildren.collect { case s: SparkPlan => s }
    }
    p +: inner.flatMap(physicalNodes)
  }

  /** True if the optimized plan reads any file under `dir`. */
  def scansPath(plan: LogicalPlan, dir: String): Boolean =
    plan.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .exists {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains(dir))
        case _ => false
      }
}
