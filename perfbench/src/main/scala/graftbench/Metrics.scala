package graftbench

/** Latency percentiles and per-layer figures of the ops of one timed loop. */
final class Metrics(ops: Seq[OpRecord]) {
  private def of(c: Cls) = ops.filter(_.cls == c)
  def count(c: Cls): Int = of(c).size

  /** Nearest-rank percentile of one op class's latencies. */
  def p(c: Cls, q: Double): Double = {
    val xs = of(c).map(_.latencyMs).sorted
    if (xs.isEmpty) 0.0 else xs(math.min(xs.size - 1, math.ceil(q * xs.size).toInt - 1).max(0))
  }
  def p50(c: Cls): Double = Main.median(of(c).map(_.latencyMs))

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Per-layer metrics of a traced run (0 where a layer did no work). */
  def layers(liveFilesPerTable: Double): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.layer.isDefined)
    val ws = traced.filter(_.cls == Cls.Write).flatMap(_.layer)
    val rs = traced.filter(_.cls == Cls.Read)
    val rl = rs.flatMap(_.layer)
    val all = traced.flatMap(_.layer)
    def perW(f: LayerSample => Double) = ratio(ws.map(f).sum, ws.size)
    def perR(f: LayerSample => Double) = ratio(rl.map(f).sum, rl.size)
    def perOp(f: LayerSample => Double) = ratio(all.map(f).sum, all.size)
    def fsKind(k: Int)(l: LayerSample) = l.fs.total(k).toDouble
    def gap(l: LayerSample) = l.span.ms - l.jobBusyMs(l.span)
    val userBytes = traced.filter(_.cls == Cls.Write).map(_.bytes).sum.toDouble

    // summary folds: the child spans of the maintain ops, one per summary;
    // a maintain op's rows are the rows written since the previous one
    val maintains = traced.filter(_.cls == Cls.Fold)
    val folds = maintains.flatMap(o => o.layer.get.children.map(c => (o.layer.get, c)))
    val foldRecords = folds.map { case (l, (s, _)) => l.tasksIn(s).map(_._2).sum.toDouble }.sum
    val foldChanged = maintains.map(_.rows.toDouble).sum

    def queryS(q: String) = Main.median(ops.filter(_.kind == q).map(_.latencyMs / 1000.0))
    val served = rl.flatMap(_.served)

    Seq(
      ("store.fs_calls_per_write", perW(_.fs.all.toDouble), "count"),
      ("store.renames_per_write", perW(fsKind(FsCounters.Rename)), "count"),
      ("store.lists_per_write", perW(fsKind(FsCounters.List)), "count"),
      ("store.status_calls_per_write", perW(fsKind(FsCounters.Status)), "count"),
      ("store.creates_per_write", perW(fsKind(FsCounters.Create)), "count"),
      ("store.deletes_per_write", perW(fsKind(FsCounters.Delete)), "count"),
      ("store.driver_fs_calls_per_write", perW(_.fs.driver.sum.toDouble), "count"),
      ("store.fs_busy_ms_per_write", perW(_.fs.busyNs / 1e6), "ms"),
      ("store.fs_calls_per_read", perR(_.fs.all.toDouble), "count"),
      ("store.lists_per_read", perR(fsKind(FsCounters.List)), "count"),
      ("store.bytes_written_per_user_byte", ratio(ws.map(_.fs.bytes.toDouble).sum, userBytes), "ratio"),
      ("store.live_files_per_table", liveFilesPerTable, "count"),
      ("driver.gap_ms_per_write", perW(gap), "ms"),
      ("driver.gap_ms_per_read", perR(gap), "ms"),
      ("spark.jobs_per_write", perW(_.jobs.size.toDouble), "count"),
      ("spark.jobs_per_read", perR(_.jobs.size.toDouble), "count"),
      ("spark.job_busy_ms_per_write", perW(l => l.jobBusyMs(l.span)), "ms"),
      ("spark.tasks_per_write", perW(_.tasks.size.toDouble), "count"),
      ("spark.shuffle_bytes_per_write", perW(_.tasks.map(_._3).sum.toDouble), "bytes"),
      ("spark.rows_read_per_row_returned",
        ratio(rl.map(_.tasks.map(_._2).sum.toDouble).sum, rs.map(_.returned.toDouble).sum), "ratio"),
      ("operators.exchanges_per_write", perW(_.exchanges.toDouble), "count"),
      ("operators.sorts_per_write", perW(_.sorts.toDouble), "count"),
      ("plans.analysis_ms_per_op", perOp(_.analysisMs), "ms"),
      ("plans.optimizer_ms_per_op", perOp(_.optimizerMs), "ms"),
      ("plans.physical_ms_per_op", perOp(_.physicalMs), "ms"),
      ("plans.summary_rewrite_ms_per_read", perR(_.rewriteMs), "ms"),
      ("plans.served_ratio", ratio(served.count(identity).toDouble, served.size), "ratio"),
      ("fold.ms_per_maintain", ratio(folds.map(_._2._1.ms).sum, folds.size), "ms"),
      ("fold.jobs_per_maintain", ratio(folds.map { case (l, (s, _)) => l.jobsIn(s).size.toDouble }.sum,
        folds.size), "count"),
      ("fold.fs_calls_per_maintain", ratio(folds.map(_._2._2.all.toDouble).sum, folds.size), "count"),
      ("fold.rows_read_per_changed_row", ratio(foldRecords, foldChanged), "ratio"),
      ("query.q9_s", queryS("q9_product_profit"), "s"),
      ("query.q18_s", queryS("q18_large_orders"), "s"),
      ("query.dfam_s", queryS("dedup_families"), "s"),
      ("query.dclu_s", queryS("dedup_clusters"), "s"),
      ("query.dcsp_s", queryS("dedup_cluster_split"), "s"),
      ("query.tclt_s", queryS("text_classifier_train"), "s"),
      ("query.sivf_s", queryS("sim_topk_ivf"), "s"))
  }
}
