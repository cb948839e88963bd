package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.{Graft, GraftSession}
import graft.store.NioLocalFileSystem

/** What every workload gets: the session, the harness, the seed, the
  * benchmark's input tables (`dataDir`) and its working directory. */
final class Ctx(val spark: SparkSession, val h: Harness, val seed: Long, val dataDir: String, work: String) {
  def storeRoot(rep: Int): String = s"$work/store$rep"
  def stagingDir(rep: Int): String = s"$work/data$rep"
  def spaceRefDir: String = s"$work/space_ref"
}

/** A benchmark workload: one client thread driving `graft.Graft` in a
  * closed loop of rounds, each round one pass of a fixed op sequence. */
trait Workload {
  /** Builds the starting state from nothing (fresh store root); the last repetition is kept. */
  def setup(rep: Int): Unit
  /** Untimed, before the timed set-ups: a set-up of its own (repetition -1)
    * and one round, so the timed set-ups and rounds run compiled code. */
  def warmup(): Unit
  /** One pass of the op sequence. */
  def round(): Unit
  /** End-of-run correctness checks; each failed check is reported to the harness. */
  def verify(): Unit
  /** The managed tables the workload leaves live, for space and file counts. */
  def liveTables: Seq[(Graft, String)]
}

object Main {
  private val SetupReps = 3

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf("--" + name)
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val work = arg(args, "work")
    val out = arg(args, "out")

    val probeBefore = Probe.run()
    val t0 = System.nanoTime()
    val spark = session(traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(spark)
    val ctx = new Ctx(spark, h, seed, data, work)
    val phase = scala.collection.mutable.LinkedHashMap("session" -> sessionS)
    def timed[T](name: String)(body: => T): T = {
      val a = System.nanoTime()
      try body finally phase(name) = phase.getOrElse(name, 0.0) + (System.nanoTime() - a) / 1e9
    }
    val w: Workload = timed("prepare") {
      workload match {
        case "keyed_oltp" => new KeyedOltp(ctx)
        case "analytics_mix" => new AnalyticsMix(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }

    def drop(rep: Int): Unit = Seq(ctx.storeRoot(rep), ctx.stagingDir(rep)).foreach(d => deleteTree(Paths.get(d)))
    timed("warmup")(w.warmup())
    drop(-1)
    // set-up runs several times from nothing; its median is setup_s
    val setups = (0 until SetupReps).map { rep =>
      val s0 = System.nanoTime()
      w.setup(rep)
      val s = (System.nanoTime() - s0) / 1e9
      if (rep > 0) drop(rep - 1)
      s
    }
    phase("setup") = setups.sum
    // a traced run times an untraced loop first, for trace.overhead and the
    // client latencies, then the traced loop the layer metrics come from
    val plain = timed("loop")(h.loop(seconds, traced = false)(w.round()))
    val tracedLoop = if (traced) Some(timed("loop")(h.loop(seconds, traced = true)(w.round()))) else None
    timed("verify")(w.verify())

    val metrics: Seq[(String, Double, String)] = tracedLoop match {
      case None => Seq(
        ("setup_s", median(setups), "s"),
        ("pass_s", median(plain.roundS), "s"),
        ("ops_per_s", plain.opsPerSecond, "1/s"))
      case Some(tr) =>
        val client = new Metrics(plain.ops)
        new Metrics(tr.ops).layers(liveFiles(w)) ++ Seq(
          ("client.write_p50_ms", client.p50(Cls.Write), "ms"),
          ("client.read_p50_ms", client.p50(Cls.Read), "ms"),
          ("client.fold_p50_ms", client.p50(Cls.Fold), "ms"),
          ("store.space_amp", timed("space")(spaceAmp(ctx, w, SetupReps - 1)), "ratio"),
          ("spark.peak_task_mem_mb", h.peakTaskMemBytes / 1048576.0, "MB"),
          ("setup.session_s", sessionS, "s"),
          ("trace.overhead", plain.opsPerSecond / tr.opsPerSecond, "ratio"),
          ("box.steal_share", plain.stealShare, "ratio"))
    }
    spark.stop()
    val probeAfter = Probe.run()
    val reported = if (!traced) metrics else metrics :+ (("box.probe_ratio", probeAfter / probeBefore, "ratio"))

    h.traceLines match {
      case lines if lines.nonEmpty =>
        Files.createDirectories(Paths.get(out))
        Files.write(Paths.get(out, s"$workload-seed$seed.jsonl"), lines.asJava)
      case _ =>
    }
    val correct = h.mismatches.isEmpty
    val m = new Metrics(plain.ops)
    val latencies = Seq(Cls.Write -> "write", Cls.Read -> "read", Cls.Fold -> "fold").filter(c => m.count(c._1) > 0)
      .map { case (c, n) => f"${n}s=${m.count(c)} ${n}_p50_ms=${m.p50(c)}%.1f ${n}_p90_ms=${m.p(c, 0.9)}%.1f " }
    System.err.println(s"perfbench: $workload seed=$seed ops=${h.ops.size} rounds=${plain.roundS.size} " +
      latencies.mkString + s"setups_s=${setups.map(s => f"$s%.2f").mkString(",")} " +
      s"rounds_s=${plain.roundS.map(s => f"$s%.2f").mkString(",")} " +
      f"loop_cpu_s=${plain.cpuS}%.2f loop_steal=${plain.stealShare}%.3f " +
      phase.map { case (k, v) => f"$k=$v%.2f" }.mkString("phases_s: ", " ", " ") +
      f"probe_s=$probeBefore%.3f/$probeAfter%.3f failed_ops=${h.opsFailed}/${h.opsRun} mismatches=${h.mismatches.size}")
    val json = reported.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    // attempted: every op, warm-up included, plus the final check
    val attempted = h.opsRun + 1
    val failed = math.min(attempted, h.opsFailed + h.mismatches.size)
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    sys.exit(if (correct && h.opsFailed == 0) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** graft's `GraftSession.local`, sized to this machine (local[nproc],
    * shuffle partitions = nproc); a traced run swaps in the counting
    * filesystem before any op runs. */
  private def session(traced: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = GraftSession.local(cores, cores)
    val conf = s.sparkContext.hadoopConfiguration
    val key = NioLocalFileSystem.ConfKey.stripPrefix("spark.hadoop.")
    if (traced) {
      conf.set(key, classOf[CountingFs].getName)
      FileSystem.closeAll()
    }
    val installed = FileSystem.get(new java.net.URI("file:///"), conf).getClass.getName
    val want = if (traced) classOf[CountingFs].getName else NioLocalFileSystem.ConfValue
    require(installed == want, s"file:// resolves to $installed, not $want")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Bytes under the store root, after a vacuum to the last generation,
    * over the bytes of the same live rows written once by Spark's parquet
    * writer; 0 for a workload that keeps no tables. */
  private def spaceAmp(ctx: Ctx, w: Workload, rep: Int): Double =
    if (w.liveTables.isEmpty) 0.0
    else {
      w.liveTables.foreach { case (g, t) => g.maintenance.vacuum(t) }
      val ref = w.liveTables.map { case (g, t) =>
        val dir = s"${ctx.spaceRefDir}/$t"
        g.read.table(t).write.parquet(dir)
        treeBytes(Paths.get(dir))
      }.sum
      treeBytes(Paths.get(ctx.storeRoot(rep))).toDouble / ref
    }

  private def liveFiles(w: Workload): Double =
    if (w.liveTables.isEmpty) 0.0
    else w.liveTables.map { case (g, t) => g.read.table(t).inputFiles.length.toDouble }.sum / w.liveTables.size
}
/** What the machine gives the process: its CPU time, and the CPU time the
  * hypervisor took from this machine's CPUs (steal) against all of it. */
object Box {
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat; zeros where it is missing. */
  def jiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }
}

/** Contention probe: a fixed single-thread multiply/rotate loop, best of
  * three. Its ratio after/before a run flags runs on a contended box. */
object Probe {
  def run(): Double = (1 to 3).map { _ =>
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < (1L << 25)) { x = java.lang.Long.rotateLeft(x * 0xBF58476D1CE4E5B9L, 31) ^ i; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }.min
}
