package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

import graft.Identifiers

/** Structured Streaming operators (SURVEY §2 S1–S8): the streaming twins
  * of the batch analytics surface, built on watermarks + windowed state.
  *
  * Scale notes: all three are keyed-state operators that Spark
  * distributes by group key; watermarks bound state size, so the same
  * topology runs unbounded streams on a cluster. Specs drive them with
  * `Trigger.AvailableNow` over parquet directories and assert equality
  * with the batch twins (events_tumbling etc.).
  */
object Streams {

  /** S1: stream → watermark → tumbling window aggregation (the streaming
    * twin of Analytics.eventsTumbling). */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DecimalType(18, 4)).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** S1b: hopping (sliding) windows — 1h windows every 30m; each event
    * lands in two overlapping windows (streaming twin of the batch
    * eventsHopping). Watermark bounds the open-window state. */
  def hoppingCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DecimalType(18, 4)).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** S2: streaming dedup by key with bounded state. */
  def dedupeByKey(stream: DataFrame, keyCol: String): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keyCol)

  /** S5: streaming exact dedup by CONTENT hash (the streaming twin of
    * Dedup.exact): state keys are RAW 16-byte md5 digests (unhex'd, not
    * the 32-char hex rendering), so state size is O(distinct-content ×
    * 16 bytes) within the watermark — half the footprint of hex keys. */
  def dedupeByContent(stream: DataFrame, textCol: String, tsCol: String): DataFrame =
    stream
      .withColumn("__content_hash", unhex(md5(col(textCol))))
      .withWatermark(tsCol, "10 minutes")
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  /** S31: streaming PARAGRAPH admission — the live-ingest twin of the
    * batch paragraph dedup ([[graft.dedup.Dedup.paragraphDedup]] L60):
    * each arriving document explodes into the batch operator's exact
    * segmentation (non-overlapping `para`-token windows) STATELESSLY
    * on the scan side, and only first-seen paragraph content within
    * the watermark horizon is admitted downstream. The batch winner
    * rule (global min (doc_id, para_idx)) is order-free; a stream
    * admits by ARRIVAL order instead — same admitted content SET, the
    * honest streaming contract. State keys are raw 16-byte md5 digests
    * (S5's footprint discipline): O(distinct paragraphs × 16 bytes)
    * within the watermark, regardless of document sizes. */
  def paragraphAdmission(stream: DataFrame, tsCol: String = "ts",
      para: Int = 20): DataFrame = {
    val toks = split(col("text"), " ")
    val nP = when(size(toks) <= para, lit(1))
      .otherwise(ceil(size(toks).cast("double") / para).cast("int"))
    stream.filter(col("text").isNotNull)
      .select(col("doc_id"), col(tsCol), toks.as("__toks"), nP.as("__np"))
      .select(col("doc_id"), col(tsCol),
        posexplode(transform(sequence(lit(0), col("__np") - 1),
          i => array_join(slice(col("__toks"), i * para + 1, lit(para)), " "))))
      .select(col("doc_id"), col(tsCol), col("pos").cast("int").as("para_idx"),
        col("col").as("para_text"))
      .withColumn("__h", unhex(md5(col("para_text"))))
      .withWatermark(tsCol, "10 minutes")
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
  }

  /** S13: streaming sessionization — the streaming twin of the batch
    * gap-based sessionize (Analytics.eventsSessionize): Spark's
    * `session_window` merges events within the inactivity gap into one
    * growing window per user, emitted when the watermark closes it.
    * `session_window.end` is defined as last-event + gap, so the
    * reported `session_end` subtracts the gap back out to equal the
    * batch operator's max(ts). State is one open session window per
    * active user, watermark-bounded. */
  def sessionizedCounts(
      stream: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val gapMs = windowMillis(gap)
    stream
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        timestamp_micros(unix_micros(col("w.end")) - gapMs * 1000L).as("session_end"),
        col("n_events"))
  }

  /** S4: stream-stream interval join — each purchase joined to the same
    * user's clicks in the preceding 30 minutes. Watermarks on BOTH sides
    * + the interval condition bound the join state Spark must retain. */
  def clickToPurchase(stream: DataFrame): DataFrame = {
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      expr("""c_user = user_id AND
              click_ts <= purchase_ts AND
              click_ts >= purchase_ts - INTERVAL 30 MINUTES"""))
      .select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")
  }

  final case class CandidatePair(a_id: Long, b_id: Long, est_jaccard: Double)

  /** S6: streaming MinHash near-dup detection — the streaming twin of
    * Dedup.minhashLshPairs. Each document's k-minhash signature (the
    * native codegen'd expression) is banded; per band-bucket state
    * holds the signatures seen so far, and each arrival is compared
    * against its bucket's state with the standard matching-coordinate
    * jaccard estimator. Emits candidate pairs (callers verify exactly,
    * as in the batch pipeline; pairs may repeat across buckets —
    * downstream distinct()). State is sharded by bucket key, so it
    * distributes and no bucket holds more than its collision group.
    *
    * State is BOUNDED by event time: a new arrival only pairs with
    * signatures whose event time is within `horizonMs` of the
    * watermark — older entries are evicted on access, and a bucket
    * idle past its newest entry + horizon is dropped whole by the
    * event-time timeout. An unbounded stream therefore holds at most
    * one horizon's worth of signatures per bucket, at the cost of not
    * detecting duplicate pairs that straddle more than the horizon. */
  def minhashCandidates(
      stream: DataFrame,
      k: Int = 63,
      rowsPerBand: Int = 3,
      tau: Double = 0.3,
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 3600L * 1000): Dataset[CandidatePair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val bands = k / rowsPerBand
    val p = graft.plans.MinHashSignature.P
    // signatures over word-3-gram SHINGLES, same as the batch pipeline —
    // raw tokens from a shared vocabulary overlap so heavily that every
    // pair looks similar (measured: token-level est ≈ 0.6 for unrelated
    // docs → candidate flood; shingle-level est ≈ 0 for the same pairs)
    val sig = stream
      .filter(size(graft.functions.Text.tokens(col("text"))) >= 3)
      .withColumn("__hx",
        transform(graft.functions.Text.wordShingles(col("text"), 3), t => pmod(xxhash64(t), lit(p))))
      .withColumn("__sig", graft.plans.GraftFunctions.minhashSignature(col("__hx"), k))
      .withColumn("__bk", explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws(":", b,
          xxhash64((0 until rowsPerBand).map(r => element_at(col("__sig"), b * rowsPerBand + r + 1)): _*)))))
      .select(col("__bk"), col("doc_id").cast("long").as("doc_id"), col("__sig"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      // Array[Long] (primitive-array encoder) not Seq[Long]: state holds
      // one signature per (bucket, doc) and every arrival touches every
      // stored signature — the boxed-Seq decode was the hot path
      .as[(String, Long, Array[Long], java.sql.Timestamp)]
    sig.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[(String, Long, Array[Long], java.sql.Timestamp)],
         state: GroupState[List[(Long, Array[Long], Long)]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var seen = state.getOption.getOrElse(Nil).filter(_._3 >= wm - horizonMs)
            val out = scala.collection.mutable.ListBuffer.empty[CandidatePair]
            rows.foreach { case (_, id, s, ts) =>
              // incremental fold through the SHARED pair-emission core —
              // same orientation/self-skip contract as the batch operator
              // (plans/PairEmitterCore), scored by the matching-coordinate
              // estimator
              graft.plans.PairEmitterCore.againstBuffer[Array[Long]](
                seen.view.map(e => (e._1, e._2)), id, s,
                graft.plans.PairEmitterCore.estimate, tau)
                .foreach { case (a, b, est) => out += CandidatePair(a, b, est) }
              seen = (id, s, ts.getTime) :: seen
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update(seen)
              state.setTimeoutTimestamp(math.max(seen.iterator.map(_._3).max + horizonMs, wm + 1))
            }
            out.iterator
          }
        })
  }

  /** S7: streaming upsert sink — each micro-batch keyed-merged into a
    * managed [[graft.store.TableStore]] table via foreachBatch, the
    * lakehouse CDC pattern (stream of changes → upsert by key). The
    * store's bucket pruning applies per batch, so a small micro-batch
    * against a large bucketed table rewrites only the touched buckets;
    * batch replays after a failure re-upsert the same keys, so the sink
    * is effectively idempotent (exactly-once table state). */
  def upsertSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      table: String,
      matchCols: Seq[String] = Seq.empty): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) => store.upsert(table, batch, matchCols)
    }

  /** S23: streaming anomaly gate — the serving twin of A44's z-score
    * monitor: arriving events aggregate into per-(type, day) exact
    * integer value sums under a watermark (the ONLY state: open
    * windows' counters), and each CLOSED window's total scores against
    * a STATIC per-type baseline (A44's exact moments, trained batch —
    * the model/serving split every monitoring deployment has; the
    * baseline is a tiny static relation, joined stateless per
    * micro-batch). Emits the batch operator's exact z expression, so a
    * window fed the same events flags identically to the batch path
    * scored against the same baseline (spec-pinned). */
  def streamingAnomaly(
      stream: DataFrame,
      baseline: DataFrame,
      watermarkDelay: String = "1 day"): DataFrame = {
    import graft.operators.Analytics
    val daily = stream
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(sum((col("value").cast("decimal(18,4)") * 10000).cast("long")).as("si"))
    Analytics.anomalyScore(daily.join(baseline, "event_type"))
      .select(col("event_type"), col("window.start").as("day"),
        col("daily_value"), col("z"), col("is_anomaly"))
  }

  /** S22: streaming ANN serving — a stream of QUERY vectors probes a
    * static IVF-assigned corpus, each micro-batch answered with the
    * batch operator's exact probe + rerank (foreachBatch: per-query
    * top-k needs a rank, which streaming append mode can't window — and
    * a query batch IS a batch). Stateless by construction: results
    * depend only on the batch's own queries, so any batch split yields
    * the same rows (spec-pinned). The quantizer is trained ONCE and
    * passed in — the serving path never retrains; corpus growth goes
    * through the persisted index (L7c growIndex) and new centroid
    * assignments are visible to the next micro-batch. */
  def annProbeSink(
      queryStream: DataFrame,
      corpus: DataFrame,
      centroids: Seq[Seq[Double]],
      out: DataFrame => Unit,
      k: Int = 5,
      nProbe: Int = 4): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        out(graft.similarity.Ann.topKIvf(corpus, batch, k,
          nCentroids = centroids.length, nProbe = nProbe, centroids = Some(centroids)))
    }

  /** S24: streaming quality-classifier gate — the serving end of the
    * L50→L36 train→serve story: each arriving document is scored by a
    * TRAINED hashed-feature weight vector (e.g. `Curation
    * .trainClassifier`'s collected model — nBuckets+1 longs, bias
    * last) through the SAME scan-riding integer expression the trainer
    * optimized ([[graft.operators.Curation.linearScoreMicros]]), and
    * admitted against a micros threshold. Stateless and shuffle-free:
    * the score is a projection, so any micro-batch split emits
    * identical rows (spec-pinned against the batch scoring) and the
    * gate sustains ingest-rate throughput — the admission decision a
    * live corpus pipeline places between landing and training. */
  def classifierGate(
      stream: DataFrame,
      weights: IndexedSeq[Long],
      thresholdMicros: Long = 500000L): DataFrame =
    stream.select(col("doc_id").cast("long").as("doc_id"),
        graft.operators.Curation.linearScoreMicros(weights).as("score_micros"))
      .withColumn("accept", col("score_micros") >= thresholdMicros)

  /** S28: streaming running-trend monitor — A47's serving twin, and
    * the cleanest demonstration that exact-integer MOMENTS are
    * streaming state: each micro-batch's newly CLOSED (type, day)
    * windows (the append rows of the watermark'd daily aggregate) fold
    * into per-type OLS moments (n, Σx, Σy, Σxy, Σx²) — five longs per
    * type, updated by pure addition, so arrival order and batch split
    * cannot change the model — and every batch emits each updated
    * type's running least-squares slope through A47's exact division.
    * The live "is this metric drifting" readout that sharpens as days
    * close. foreachBatch because the moment fold CONSUMES a windowed
    * aggregate (chained stateful operators; the S22 precedent), with
    * the bounded per-type state held by the sink closure.
    *
    * Delivery contract: foreachBatch is at-least-once, so a batch
    * REPLAYED after a failure arrives again under the SAME batchId —
    * the fold dedupes on it (a replay emits nothing; its windows are
    * already in the moments). The moments live in this sink instance's
    * closure: they cover one query run. After a restart (new query,
    * fresh batchId sequence) rebuild the baseline from the batch path
    * ([[graft.operators.Analytics]] eventsTrend) before resuming. */
  def trendMonitorSink(
      stream: DataFrame,
      out: DataFrame => Unit,
      watermarkDelay: String = "1 day"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val daily = stream
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(sum((col("value").cast("decimal(18,4)") * 10000).cast("long")).as("si"))
      .select(col("event_type"),
        (unix_millis(col("window.start")) / 86400000L).cast("long").as("x"),
        col("si").as("y"))
    val state = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long, Long)]
    var lastFolded = -1L
    daily.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // at-least-once replay dedup (ADVICE r7): a re-delivered batchId
        // would fold the same closed windows into the moments twice
        if (batchId > lastFolded) {
          lastFolded = batchId
          val rows = batch.collect() // closed windows only: ≤ types × days/batch
          val touched = scala.collection.mutable.LinkedHashSet.empty[String]
          rows.foreach { r =>
            val (ty, x, y) = (r.getString(0), r.getLong(1), r.getLong(2))
            val (n, sx, sy, sxy, sxx) = state.getOrElse(ty, (0L, 0L, 0L, 0L, 0L))
            state(ty) = (n + 1, sx + x, sy + y, sxy + x * y, sxx + x * x)
            touched += ty
          }
          val spark = batch.sparkSession
          import spark.implicits._
          val emitted = touched.toSeq.map { ty =>
            val (n, sx, sy, sxy, sxx) = state(ty)
            val slope =
              if (n < 2) Double.NaN
              else (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble / 10000.0
            (ty, n, slope)
          }
          out(emitted.toDF("event_type", "n_days", "slope_per_day"))
        }
    }
  }

  /** S27: streaming media-ingest monitor — the multimodal codec-health
    * gate at landing (the missing streaming leg of the L12 family):
    * arriving (doc_id, ts, media) binaries decode STATELESS inside each
    * micro-batch (the L12 codec riding mapPartitions — no state and no
    * shuffle before the counters) and aggregate per (format, event-time
    * window) under a watermark into file counts and total decoded
    * pixels. Corrupt objects surface as format='unknown' rows, so a
    * corrupt-rate spike inside a window is the "upstream export broke"
    * alarm, caught at ingest. Only streaming state: the open windows'
    * per-format counters. */
  def mediaIngestMonitor(
      stream: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val decoded = stream
      .select(col("doc_id").cast("long"), col("ts").cast("timestamp"), col("media"))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions(_.map { case (_, ts, bytes) =>
        val m = graft.multimodal.Media.decodeImage(bytes)
        (ts, m.format, m.width, m.height)
      })
      .toDF("__ts", "format", "__w", "__h")
    decoded.withWatermark("__ts", watermarkDelay)
      .groupBy(col("format"), window(col("__ts"), watermarkDelay))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("__w") > 0, col("__w") * col("__h")).otherwise(0L)).as("n_px"))
      .select(col("format"), col("window.start").as("window_start"),
        col("n_files"), col("n_px"))
  }

  /** S26: streaming quantile-sketch maintenance — A46's streaming twin,
    * and the purest form of the sketch-as-state idea: arriving events
    * fold into per-(type, event-time window) integer histogram buckets
    * under a watermark (only state: the open windows' occupied
    * buckets — bounded by the bucket geometry, NOT by the event rate),
    * and each closed window emits its BUCKET ROWS — the mergeable
    * sketch itself, not a quantile. Downstream answers any window
    * range by counter addition (`Analytics.sketchQuantiles` over the
    * emitted rows), exactly as the batch path answers any slice; batch
    * and stream share the single bucket definition
    * (`Analytics.withSketchBuckets`), so the histograms are
    * counter-identical by construction (spec-pinned). */
  def quantileSketchStream(
      stream: DataFrame,
      watermarkDelay: String = "1 day"): DataFrame = {
    import graft.operators.Analytics
    val units = stream
      .withWatermark("ts", watermarkDelay)
      .select(col("event_type"), col("ts"),
        Analytics.sketchUnits("value").as("__x"))
      .filter(col("__x").isNotNull) // a NULL metric is no observation
    Analytics.withSketchBuckets(units)
      .groupBy(col("event_type"), window(col("ts"), "1 day"),
        col("bin_id"), col("bin_upper"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("bin_id"), col("bin_upper"), col("cnt"))
  }

  /** S29: streaming count-min maintenance — L44's serving twin,
    * completing the sketch-as-state family (A46→S26 quantiles, A45
    * distinct counts, and now the CMS): arriving (ts, text) documents
    * tokenize STATELESS inside the batch, every token lands in its d
    * md5-derived buckets — the SAME (r, b) definition
    * [[graft.operators.Curation.countMinSketch]] uses, so the streamed
    * and batch sketches are counter-identical by construction
    * (spec-pinned) — and the per-(window, r, b) counters aggregate
    * under the watermark. Only streaming state: the open windows'
    * ≤ d·w counters — the sketch IS the state, which is the point of
    * sketch maintenance. Closed windows merge into any at-rest CMS by
    * addition, and [[graft.operators.Curation.cmsEstimate]] reads the
    * merged rows unchanged. */
  def cmsMaintenanceStream(
      stream: DataFrame,
      d: Int = 4,
      w: Int = 1024,
      watermarkDelay: String = "1 day"): DataFrame =
    stream
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), explode(graft.functions.Text.tokens(col("text"))).as("__t"))
      .select(col("ts"), explode(sequence(lit(0), lit(d - 1))).as("r"), col("__t"))
      .select(col("ts"), col("r"), pmod(conv(substring(
        md5(concat(col("r").cast("string"), lit("|"), col("__t"))), 1, 8), 16, 10)
        .cast("long"), lit(w.toLong)).as("b"))
      .groupBy(window(col("ts"), "1 day"), col("r"), col("b"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("r"), col("b"), col("n"))

  /** S30: streaming distinct-count sketch maintenance — A45's serving
    * twin, the last leg of the sketch-as-state family (quantiles
    * A46→S26, CMS L44→S29, HLL here): per (event_type, event-time
    * window) HLL sketch BYTES under the watermark — the same
    * `hll_sketch_agg` payload the batch
    * [[graft.operators.Analytics.distinctSketches]] emits, so closed
    * windows merge into any at-rest sketch store through
    * `hll_union_agg`, and A45's register-equality contract (unioned
    * registers == the directly-built sketch's) carries over: stream
    * and batch compose into ONE estimate with no fact re-scan. Only
    * streaming state: the open windows' sketch registers. */
  def hllMaintenanceStream(
      stream: DataFrame,
      valueCol: String = "user_id",
      watermarkDelay: String = "1 day"): DataFrame =
    stream
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))
      .select(col("event_type"), col("window.start").as("window_start"), col("sketch"))

  /** S25: streaming vocabulary-drift monitor — the serving twin of
    * L51's coverage audit: arriving documents' tokens LEFT-join a
    * STATIC top-V vocabulary (`Curation.topVocabulary`, trained batch —
    * vocabulary-sized, stateless join per micro-batch) and aggregate
    * per (lang, event-time window) under a watermark into token/OOV
    * counts and the same half-up-micros OOV share the batch audit
    * reports. Rising OOV across windows = the live corpus drifting off
    * the tokenizer's vocabulary — the retrain signal, caught at ingest
    * instead of at the next offline audit. Only streaming state: the
    * open windows' two counters per language. */
  def vocabDriftMonitor(
      stream: DataFrame,
      vocab: DataFrame,
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.Text
    val toks = stream
      .select(col("lang"), col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"),
        explode(Text.tokens(col("text"))).as("w"))
      .withWatermark("__ts", watermarkDelay)
    toks
      .join(vocab.select("w").distinct().withColumn("__in", lit(1)), Seq("w"), "left")
      .groupBy(col("lang"), window(col("__ts"), watermarkDelay))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_share", expr(
        "cast((2 * 1000000 * oov_tokens + n_tokens) div (2 * n_tokens) as double)") / 1000000.0)
      .select(col("lang"), col("window.start").as("window_start"),
        col("n_tokens"), col("oov_tokens"), col("oov_share"))
  }

  /** S16: streaming CDC apply — the consuming end of the
    * change-data-feed surface (C25, `TableStore.readChanges`): a stream
    * of rows carrying a `_change_type` column is applied to a store
    * table per micro-batch — `insert` and `update_postimage` rows
    * upsert by key, `delete` rows drop their keys, `update_preimage`
    * rows are informational and skipped. A delete verdict DOMINATES an
    * upsert for the same key, so a batch holding a key's whole
    * lifecycle (insert → delete) converges to the key absent. Batch
    * contract: at most one insert/postimage row per key per batch
    * (feeding one generation's feed per batch guarantees this — a
    * generation diff is keyed); batches spanning multiple generations
    * must be pre-compacted to their final image, as the feed carries no
    * intra-batch ordering.
    *
    * Scale + atomicity: per trigger, one map-side-combinable aggregate
    * reduces the batch to one verdict per key (delete wins — max over
    * the (__dead, payload) struct), then ONE bucket-pruned
    * [[graft.store.TableStore.applyChanges]] commit applies everything
    * — r10, replacing the r7 upsert-then-delete pair whose crash
    * window exposed half-applied batches. A small change batch against
    * a 100 TB bucketed replica rewrites only the touched buckets.
    * Batch replays re-apply the same changes onto the same keys —
    * idempotent, exactly-once table state (the S7 contract). Applying
    * a table's own feed generation-by-generation replicates it exactly
    * (spec-pinned against C25). */
  def applyChangesSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      table: String,
      matchCols: Seq[String] = Seq.empty): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) =>
        val b = batch
          .filter(col("_change_type").isin("insert", "update_postimage", "delete"))
          .withColumn("__dead", col("_change_type") === "delete")
          .drop("_change_type")
        if (!b.isEmpty) {
          val keys =
            if (matchCols.nonEmpty) matchCols else store.meta(table).primaryKey
          val payload = b.columns.filterNot(c => keys.contains(c) || c == "__dead").toSeq
          val last = b.groupBy(keys.map(c => col(Identifiers.quote(c))): _*)
            .agg(max(struct(col("__dead") +:
              payload.map(c => col(Identifiers.quote(c)).as(c)): _*)).as("__v"))
            .select(keys.map(c => col(Identifiers.quote(c))) ++
              ("__dead" +: payload).map(c => col(s"__v.${Identifiers.quote(c)}").as(c)): _*)
          store.applyChanges(table, last, "__dead", keys)
        }
    }

  /** S15: streaming append sink with LIVE zone-map maintenance — the
    * ingest front door that keeps the store's file statistics (C20)
    * fresh: each micro-batch appends to the table, then runs an
    * INCREMENTAL analyze that scans only the files the batch just wrote
    * (stat-covered files are skipped), so keyed reads against the table
    * prune with zone maps that are never more than one batch stale.
    * Maintenance cost per batch is O(batch), independent of table size —
    * the property that makes live stats viable on a 100 TB table.
    * `bloomBits > 0` extends the same per-batch pass with C27 Bloom
    * sketches, so equality probes on interleaved ingest layouts (where
    * min/max never prunes) stay one-batch-fresh too — already-sketched
    * files are skipped exactly like stat-covered ones. */
  def insertSinkWithStats(
      stream: DataFrame,
      store: graft.store.TableStore,
      table: String,
      statsColumns: Seq[String] = Seq.empty,
      bloomBits: Int = 0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        store.insert(table, batch)
        store.analyze(table, statsColumns, incremental = true, bloomBits = bloomBits)
    }

  /** S33: streaming REUSE-RATE monitor — the live twin of the batch
    * reuse-by-source report ([[graft.dedup.Dedup.dedupRateBySource]]
    * L67): as documents land, each micro-batch's paragraph occurrences
    * classify NOVEL (first corpus-wide arrival of that content) or
    * REUSED against an AT-REST seen-set store table, and per-source
    * counters append to an output table — the "source X started
    * mirroring source Y this morning" alarm at ingest time.
    *
    * State lives in the STORE, not the state store (the S15/S16
    * lakehouse-integration idiom): the seen-set is a PK table of
    * 128-bit content hashes, so it survives restarts, is queryable,
    * and grows O(distinct paragraphs) — never O(stream). Within a
    * batch, the novel occurrence of a new content is the (doc_id,
    * para_idx) minimum (deterministic under any shuffle order); when
    * the stream arrives in document order this classification is
    * EXACTLY the batch report's winner rule, which the spec pins by
    * reconciling drained totals against L67 per source. */
  def reuseMonitorSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      seenTable: String,
      outTable: String,
      para: Int = 20): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val toks = split(col("text"), " ")
        val nP = when(size(toks) <= para, lit(1))
          .otherwise(ceil(size(toks).cast("double") / para).cast("int"))
        val paras = batch.filter(col("text").isNotNull)
          .select(col("source"), col("doc_id"), toks.as("__toks"), nP.as("__np"))
          .select(col("source"), col("doc_id"),
            posexplode(transform(sequence(lit(0), col("__np") - 1),
              i => array_join(slice(col("__toks"), i * para + 1, lit(para)), " "))))
          .select(col("source"), col("doc_id"), col("pos").cast("int").as("para_idx"),
            md5(col("col")).as("h"))
        val cached = paras.persist()
        try {
          val seen = store.readTable(seenTable).select(col("h"), lit(1).as("__old"))
          val winners = cached.groupBy("h")
            .agg(min(struct(col("doc_id"), col("para_idx"))).as("__w"))
          val marked = cached
            .join(seen, Seq("h"), "left")
            .join(winners, Seq("h"))
            .withColumn("__novel", col("__old").isNull &&
              col("doc_id") === col("__w.doc_id") &&
              col("para_idx") === col("__w.para_idx"))
          val counters = marked.groupBy("source")
            .agg(count(lit(1)).as("n_paras"),
              sum(when(col("__novel"), 1L).otherwise(0L)).as("n_novel"))
            .select(lit(batchId).as("batch_id"), col("source"),
              col("n_paras"), col("n_novel"),
              (col("n_paras") - col("n_novel")).as("n_reused"))
          store.insert(outTable, counters)
          store.insert(seenTable, marked.filter(col("__novel")).select("h"))
        } finally cached.unpersist()
    }

  /** S8: streaming contamination gate — the streaming twin of
    * [[graft.dedup.Contamination.overlap]]. Arriving documents' shingle
    * hashes LEFT-join a STATIC train-shingle set (build once with
    * `Contamination.trainShingleSet`; stream-static joins are stateless
    * per micro-batch — the train index is just a table), then aggregate
    * per (doc, event-time window) under a watermark, so the only
    * streaming state is the open windows' per-doc counters. The gate a
    * live ingest pipeline puts in front of a training corpus: flag (or
    * drop) documents that overlap the eval/benchmark set as they
    * arrive. Emits the same schema as the batch operator. */
  def contaminationGate(
      stream: DataFrame,
      trainShingles: DataFrame,
      n: Int = 5,
      tau: Double = 0.2,
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.Text
    val ex = stream
      .filter(size(Text.tokens(col("text"))) >= n)
      .select(col("doc_id").cast("long").as("doc_id"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"),
        explode(transform(Text.wordShingles(col("text"), n), s => xxhash64(s))).as("__s"))
      .withWatermark("__ts", watermarkDelay)
    // distinct() hardens against a non-deduplicated index: a duplicate
    // hash row would fan the left join out and inflate BOTH counters
    // (the batch twin counts pre-join and semi-joins, so it is immune)
    ex.join(trainShingles.select("__s").distinct().withColumn("__hit", lit(1)), Seq("__s"), "left")
      .groupBy(col("doc_id"), window(col("__ts"), watermarkDelay))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_contaminated"))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
      .withColumn("flagged", col("contamination") >= tau)
      .select("doc_id", "n_shingles", "n_contaminated", "contamination", "flagged")
  }

  private def windowMillis(windowDuration: String): Long = {
    val i = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(windowDuration))
    require(i.months == 0, "calendar-month windows are not fixed-width")
    i.days * 86400000L + i.microseconds / 1000L
  }

  final case class Admitted(doc_id: Long, group: String,
      window_start: java.sql.Timestamp, admit_seq: Int)

  /** S9: streaming per-group quota — admission control, the streaming
    * twin of [[graft.operators.Curation.stratifiedCap]]: admit at most
    * `cap` rows per (group, tumbling event-time window), carrying the
    * admission count in keyed state so the cap holds ACROSS
    * micro-batches. Within a batch, a group's rows are ordered by
    * (window, md5(id), id) before admission, so results do not depend
    * on shuffle arrival order. State is one counter per open window per
    * group; windows older than the watermark are evicted, idle groups
    * dropped by the event-time timeout. */
  def streamingQuota(
      stream: DataFrame,
      groupCol: String,
      idCol: String,
      cap: Int,
      windowDuration: String = "10 minutes",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): Dataset[Admitted] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val winMs = windowMillis(windowDuration)
    val rows = stream.select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(idCol)).cast("long").as("id"),
        md5(col(Identifiers.quote(idCol)).cast("string")).as("hk"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"),
        window(col(Identifiers.quote(tsCol)), windowDuration).getField("start").as("__ws"))
      .withWatermark("__ts", watermarkDelay)
      .as[(String, Long, String, java.sql.Timestamp, java.sql.Timestamp)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (g: String, it: Iterator[(String, Long, String, java.sql.Timestamp, java.sql.Timestamp)],
         state: GroupState[Map[Long, Int]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            // a window can still receive rows while its END is above the
            // watermark (late arrivals inside the delay target it); only
            // counters for windows closed past that point are evicted
            var counts = state.getOption.getOrElse(Map.empty)
              .filter { case (ws, _) => ws + winMs >= wm }
            val out = scala.collection.mutable.ListBuffer.empty[Admitted]
            // flatMapGroupsWithState does NOT drop sub-watermark rows
            // itself: a late event for an already-evicted window would
            // recreate it with a FRESH zero counter and admit past the
            // cap — drop rows whose window closed below the watermark
            // (the exact eviction criterion above)
            it.toSeq.filter(_._5.getTime + winMs >= wm)
              .sortBy(r => (r._5.getTime, r._3, r._2)).foreach {
              case (_, id, _, _, ws) =>
                val k = ws.getTime
                val n = counts.getOrElse(k, 0)
                if (n < cap) {
                  counts = counts.updated(k, n + 1)
                  out += Admitted(id, g, ws, n + 1)
                }
            }
            if (counts.isEmpty) state.remove()
            else {
              state.update(counts)
              state.setTimeoutTimestamp(math.max(counts.keys.max + winMs, wm + 1))
            }
            out.iterator
          }
        })
  }

  final case class BudgetAdmitted(doc_id: Long, group: String,
      window_start: java.sql.Timestamp, n_tokens: Long, budget_used: Long)

  /** S32: streaming per-group TOKEN-BUDGET admission — the serving twin
    * of the batch budget-selection family (L58/L59): admit arriving
    * documents while the (group, tumbling event-time window) still has
    * token budget, carrying tokens-used in keyed state so the budget
    * holds ACROSS micro-batches. The batch selector fills the budget
    * with the best-QUALITY prefix (it sees the whole corpus); a live
    * gate admits in ARRIVAL order — the honest streaming contract, same
    * as S31 vs L60 — and SKIPS a document that doesn't fit rather than
    * closing the window (one oversized document must not starve the
    * admission stream; the batch prefix-stop rule is a selection
    * semantic, not an admission one — both pinned in the spec). Within
    * a batch, rows order by (window, md5(id), id) before admission
    * (S9's determinism discipline), so results never depend on shuffle
    * arrival order. State is one long per open (group, window);
    * watermark-evicted, idle groups dropped by event-time timeout. */
  def streamingBudget(
      stream: DataFrame,
      groupCol: String,
      idCol: String,
      budgetTokens: Long,
      windowDuration: String = "10 minutes",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): Dataset[BudgetAdmitted] = {
    require(budgetTokens > 0, "need budgetTokens > 0")
    val spark = stream.sparkSession
    import spark.implicits._
    val winMs = windowMillis(windowDuration)
    val rows = stream.filter(col("text").isNotNull).select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(idCol)).cast("long").as("id"),
        md5(col(Identifiers.quote(idCol)).cast("string")).as("hk"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"),
        window(col(Identifiers.quote(tsCol)), windowDuration).getField("start").as("__ws"))
      .withWatermark("__ts", watermarkDelay)
      .as[(String, Long, String, Long, java.sql.Timestamp, java.sql.Timestamp)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (g: String,
         it: Iterator[(String, Long, String, Long, java.sql.Timestamp, java.sql.Timestamp)],
         state: GroupState[Map[Long, Long]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var used = state.getOption.getOrElse(Map.empty)
              .filter { case (ws, _) => ws + winMs >= wm }
            val out = scala.collection.mutable.ListBuffer.empty[BudgetAdmitted]
            // drop rows whose window closed below the watermark: a late
            // event for an evicted (group, window) would otherwise
            // recreate it with a fresh ZERO budget and admit past
            // budgetTokens (same criterion as the state eviction above)
            it.toSeq.filter(_._6.getTime + winMs >= wm)
              .sortBy(r => (r._6.getTime, r._3, r._2)).foreach {
              case (_, id, _, nt, _, ws) =>
                val k = ws.getTime
                val u = used.getOrElse(k, 0L)
                if (u + nt <= budgetTokens) {
                  used = used.updated(k, u + nt)
                  out += BudgetAdmitted(id, g, ws, nt, u + nt)
                }
            }
            if (used.isEmpty) state.remove()
            else {
              state.update(used)
              state.setTimeoutTimestamp(math.max(used.keys.max + winMs, wm + 1))
            }
            out.iterator
          }
        })
  }

  /** S10: streaming embedding-centroid drift monitor — the streaming
    * twin of [[graft.similarity.Ann.labelCentroids]], watching a live
    * embedding feed for distribution shift against a fixed reference.
    * Per (label, tumbling event-time window) the centroid is computed in
    * ONE stateful windowed aggregation: `dim` per-position DECIMAL sums
    * (6dp-rounded inputs, so the mean is order-independent and matches
    * the batch operator bit-for-bit) — a dim-wide aggregate row, the
    * same shape as any wide table agg, NOT a per-row lambda unroll.
    * The finalized window then joins the STATIC reference centroids
    * (stream-static, stateless) and scores cosine(window centroid,
    * reference centroid); `drifted` flags windows whose cosine falls
    * under `minCosine` — and labels with NO reference (never seen in
    * training) flag as drifted by definition.
    *
    * `reference` takes the (label, pos, centroid) shape
    * `Ann.labelCentroids` emits — build it once over the training
    * corpus, persist it, point the monitor at it. */
  def centroidDrift(
      stream: DataFrame,
      reference: DataFrame,
      dim: Int = 64,
      minCosine: Double = 0.98,
      tsCol: String = "ts",
      windowDuration: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val refVec = reference.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid")))),
        s => s.getField("centroid")).as("__ref"))
    val sums = (0 until dim).map(i =>
      sum(round(element_at(col("embedding"), i + 1).cast("double"), 6)
        .cast(DecimalType(18, 6))).as(s"__s$i"))
    val agged = stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(Identifiers.quote(tsCol)), windowDuration).as("w"), col("label"))
      .agg(count(lit(1)).as("n"), sums: _*)
    // same exact integer-micros mean as the batch twin (labelCentroids):
    // double round() on quotients is not engine/tie stable
    val centroid = array((0 until dim).map(i => expr(
      s"cast(cast(signum(__s$i) as bigint) * ((2 * abs(cast(__s$i * 1000000 as bigint)) + n)" +
        s" div (2 * n)) as double) / 1000000.0")): _*)
    agged
      .select(col("w.start").as("window_start"), col("label"), col("n"),
        centroid.as("centroid"))
      .join(refVec, Seq("label"), "left")
      .withColumn("cosine_to_ref",
        graft.functions.Vectors.cosine6(col("centroid"), col("__ref")))
      .withColumn("drifted", coalesce(col("cosine_to_ref") < minCosine, lit(true)))
      .select("window_start", "label", "n", "centroid", "cosine_to_ref", "drifted")
  }

  final case class GatedAdmit(doc_id: Long, group: String,
      window_start: java.sql.Timestamp, admit_seq: Int,
      n_shingles: Int, n_contaminated: Int, contamination: Double)

  /** S11: composed admission pipeline — the contamination gate (S8) and
    * the per-group quota (S9) fused into ONE stateful pass, the shape a
    * live ingest front-door actually wants: "drop eval-contaminated
    * docs, then admit at most `cap` clean docs per (group, window)".
    *
    * Spark disallows flatMapGroupsWithState downstream of a streaming
    * aggregation, so the contamination stage cannot be the S8 windowed
    * aggregate; instead it is PER-ROW STATELESS: the train-shingle index
    * rides along as a broadcast sorted array
    * ([[graft.dedup.Contamination.collectIndex]], size-guarded) and each
    * document's shingle hits are a binary-search count inside the same
    * stateful function that enforces the quota. Only clean docs
    * (contamination < tau) compete for the cap; docs too short to
    * shingle count as clean (no evidence — the batch gate skips them
    * entirely). State remains one counter per open (group, window),
    * exactly as S9. */
  def admissionGate(
      stream: DataFrame,
      trainIndex: Array[Long],
      groupCol: String,
      idCol: String,
      cap: Int,
      n: Int = 5,
      tau: Double = 0.2,
      windowDuration: String = "10 minutes",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): Dataset[GatedAdmit] = {
    val bc = stream.sparkSession.sparkContext.broadcast(trainIndex)
    admissionCore(stream, h => java.util.Arrays.binarySearch(bc.value, h) >= 0,
      groupCol, idCol, cap, n, tau, windowDuration, tsCol, watermarkDelay)
  }

  /** S11b: [[admissionGate]] with a Bloom-filter train index
    * ([[graft.dedup.Contamination.bloomIndex]]) — the shape for train
    * corpora whose distinct-shingle set exceeds the exact-array
    * broadcast ceiling: the filter's size is chosen by (expected items,
    * fpp), not by the corpus. False positives only OVERSTATE
    * contamination (a clean doc can be dropped at rate ~fpp per
    * shingle), never understate it — the gate stays conservative. */
  def admissionGateBloom(
      stream: DataFrame,
      trainBloom: org.apache.spark.util.sketch.BloomFilter,
      groupCol: String,
      idCol: String,
      cap: Int,
      n: Int = 5,
      tau: Double = 0.2,
      windowDuration: String = "10 minutes",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): Dataset[GatedAdmit] = {
    val bc = stream.sparkSession.sparkContext.broadcast(trainBloom)
    admissionCore(stream, h => bc.value.mightContainLong(h),
      groupCol, idCol, cap, n, tau, windowDuration, tsCol, watermarkDelay)
  }

  private def admissionCore(
      stream: DataFrame,
      isTrainShingle: Long => Boolean,
      groupCol: String,
      idCol: String,
      cap: Int,
      n: Int,
      tau: Double,
      windowDuration: String,
      tsCol: String,
      watermarkDelay: String): Dataset[GatedAdmit] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val winMs = windowMillis(windowDuration)
    val rows = stream.select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(idCol)).cast("long").as("id"),
        md5(col(Identifiers.quote(idCol)).cast("string")).as("hk"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"),
        window(col(Identifiers.quote(tsCol)), windowDuration).getField("start").as("__ws"),
        when(size(graft.functions.Text.tokens(col("text"))) >= n,
          transform(graft.functions.Text.wordShingles(col("text"), n), s => xxhash64(s)))
          .otherwise(array().cast("array<bigint>")).as("__sh"))
      .withWatermark("__ts", watermarkDelay)
      .as[(String, Long, String, java.sql.Timestamp, java.sql.Timestamp, Array[Long])]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (g: String,
         it: Iterator[(String, Long, String, java.sql.Timestamp, java.sql.Timestamp, Array[Long])],
         state: GroupState[Map[Long, Int]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var counts = state.getOption.getOrElse(Map.empty)
              .filter { case (ws, _) => ws + winMs >= wm }
            val out = scala.collection.mutable.ListBuffer.empty[GatedAdmit]
            it.toSeq.sortBy(r => (r._5.getTime, r._3, r._2)).foreach {
              case (_, id, _, _, ws, sh) =>
                var hits = 0
                var i = 0
                while (i < sh.length) {
                  if (isTrainShingle(sh(i))) hits += 1
                  i += 1
                }
                val contamination =
                  if (sh.length == 0) 0.0
                  else BigDecimal(hits.toDouble / sh.length)
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (contamination < tau) {
                  val k = ws.getTime
                  val nAdm = counts.getOrElse(k, 0)
                  if (nAdm < cap) {
                    counts = counts.updated(k, nAdm + 1)
                    out += GatedAdmit(id, g, ws, nAdm + 1, sh.length, hits, contamination)
                  }
                }
            }
            if (counts.isEmpty) state.remove()
            else {
              state.update(counts)
              state.setTimeoutTimestamp(math.max(counts.keys.max + winMs, wm + 1))
            }
            out.iterator
          }
        })
  }

  final case class WindowSample(group: String, window_start: java.sql.Timestamp,
      doc_id: Long, sample_rank: Int)

  /** S12: streaming weighted sampling — the streaming twin of
    * [[graft.operators.Curation.weightedSample]] (A-ES): per (group,
    * tumbling event-time window) keep the k rows with the largest
    * u^(1/w) keys. A sample over a stream is only FINAL when its window
    * can no longer receive rows, so results emit ON WINDOW CLOSE — when
    * the watermark passes the window end (on the data path or via the
    * event-time timeout, whichever observes it first). State per open
    * (group, window) is the bounded k-item top set — O(groups ×
    * open-windows × k), watermark-bounded — never the window's rows.
    * The A-ES key is the same deterministic hash-uniform expression as
    * the batch operator, computed in the DataFrame layer; rows
    * targeting an already-closed window are ignored (the batch twin
    * would have seen them — that loss is the documented price of
    * streaming finality, bounded by the watermark delay). */
  def streamingWeightedSample(
      stream: DataFrame,
      groupCol: String,
      idCol: String,
      weight: org.apache.spark.sql.Column,
      k: Int,
      windowDuration: String = "10 minutes",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): Dataset[WindowSample] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val winMs = windowMillis(windowDuration)
    val v = conv(substring(md5(col(Identifiers.quote(idCol)).cast("string")), 1, 8), 16, 10)
      .cast("double")
    // null/zero weights de-prioritize (worst key) instead of killing the
    // query: a null key would fail the non-nullable tuple encoder and
    // terminate the stream on one bad record (batch twin just sorts last)
    val key = coalesce(
      round(log((v + 0.5) / 4294967296.0) / weight.cast("double"), 9),
      lit(Double.NegativeInfinity))
    val rows = stream.select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(idCol)).cast("long").as("id"),
        key.as("k"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"),
        window(col(Identifiers.quote(tsCol)), windowDuration).getField("start").as("__ws"))
      .withWatermark("__ts", watermarkDelay)
      .as[(String, Long, Double, java.sql.Timestamp, java.sql.Timestamp)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (g: String,
         it: Iterator[(String, Long, Double, java.sql.Timestamp, java.sql.Timestamp)],
         state: GroupState[Map[Long, List[(Double, Long)]]]) => {
          val wm = if (state.getCurrentWatermarkMs() > 0) state.getCurrentWatermarkMs() else 0L
          var tops = state.getOption.getOrElse(Map.empty)
          // fold arrivals into their window's bounded top set
          it.foreach { case (_, id, kk, _, ws) =>
            val w0 = ws.getTime
            if (w0 + winMs > wm) { // window still open
              val cur = tops.getOrElse(w0, Nil)
              if (!cur.exists(_._2 == id)) { // idempotent on replays
                val merged = ((kk, id) :: cur)
                  .sortBy { case (kv, iv) => (-kv, iv) }.take(k)
                tops = tops.updated(w0, merged)
              }
            }
          }
          // emit every window the watermark has closed, in final rank order
          val (closed, open) = tops.partition { case (w0, _) => w0 + winMs <= wm }
          val out = closed.toSeq.sortBy(_._1).flatMap { case (w0, top) =>
            top.sortBy { case (kv, iv) => (-kv, iv) }.zipWithIndex.map {
              case ((_, id), i) => WindowSample(g, new java.sql.Timestamp(w0), id, i + 1)
            }
          }
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            state.setTimeoutTimestamp(math.max(open.keys.min + winMs, wm + 1))
          }
          out.iterator
        })
  }

  final case class WindowTopTerms(group: String, window_start: java.sql.Timestamp,
      rank: Int, term: String, cnt: Long, max_err: Long)

  /** S14: streaming heavy hitters — the streaming twin of the native
    * space-saving aggregate (L25), running THE SAME sketch code
    * ([[graft.plans.SpaceSavingCore]]) inside keyed state: per (group,
    * tumbling window) a capacity-bounded term sketch, folded across
    * micro-batches, emitted as the final top-k when the watermark
    * closes the window (the S12 emit-on-close shape). State per open
    * (group, window) is the sketch's `capacity` entries — never the
    * window's rows — so a group's memory is fixed no matter how many
    * terms stream through. Exact (zero error) when distinct terms per
    * (group, window) fit the capacity, sketch-bounded otherwise. */
  def streamingHeavyHitters(
      stream: DataFrame,
      groupCol: String,
      termCol: String,
      k: Int,
      capacity: Int = 4096,
      windowDuration: String = "10 minutes",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): Dataset[WindowTopTerms] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val winMs = windowMillis(windowDuration)
    val rows = stream.select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(termCol)).cast("string").as("term"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"),
        window(col(Identifiers.quote(tsCol)), windowDuration).getField("start").as("__ws"))
      .withWatermark("__ts", watermarkDelay)
      .as[(String, String, java.sql.Timestamp, java.sql.Timestamp)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (g: String,
         it: Iterator[(String, String, java.sql.Timestamp, java.sql.Timestamp)],
         state: GroupState[Map[Long, Map[String, (Long, Long)]]]) => {
          val wm = math.max(state.getCurrentWatermarkMs(), 0L)
          val sketches = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.HashMap[String, (Long, Long)]]
          state.getOption.getOrElse(Map.empty).foreach { case (w0, m) =>
            sketches.update(w0, scala.collection.mutable.HashMap.from(m))
          }
          it.foreach { case (_, term, _, ws) =>
            val w0 = ws.getTime
            if (w0 + winMs > wm) {
              val sk = sketches.getOrElseUpdate(w0,
                scala.collection.mutable.HashMap.empty[String, (Long, Long)])
              graft.plans.SpaceSavingCore.add[String](sk, term, capacity, identity)
            }
          }
          val (closed, open) = sketches.partition { case (w0, _) => w0 + winMs <= wm }
          val out = closed.toSeq.sortBy(_._1).flatMap { case (w0, sk) =>
            graft.plans.SpaceSavingCore.top(sk, k).zipWithIndex.map {
              case ((term, c, e), i) =>
                WindowTopTerms(g, new java.sql.Timestamp(w0), i + 1, term, c, e)
            }
          }
          if (open.isEmpty) state.remove()
          else {
            state.update(open.map { case (w0, sk) => w0 -> sk.toMap }.toMap)
            state.setTimeoutTimestamp(math.max(open.keys.min + winMs, wm + 1))
          }
          out.iterator
        })
  }

  final case class FunnelStages(user_id: Long, t1_us: Option[Long],
      t2_us: Option[Long], t3_us: Option[Long], stage: Int)

  /** Per-user funnel state: the `keepEarliest` earliest event-time
    * micros per step, each kept sorted ascending. */
  final case class FunnelState(s1: Seq[Long], s2: Seq[Long], s3: Seq[Long]) {
    def step(i: Int): Seq[Long] = i match {
      case 0 => s1
      case 1 => s2
      case _ => s3
    }
    def updated(i: Int, v: Seq[Long]): FunnelState = i match {
      case 0 => copy(s1 = v)
      case 1 => copy(s2 = v)
      case _ => copy(s3 = v)
    }
  }

  /** S17: streaming ordered-funnel completion — the streaming twin of
    * the batch fold (Analytics.eventsFunnel). Per-user state retains the
    * `keepEarliest` EARLIEST event-time micros per step; when a user
    * goes idle past `idleMs` beyond the watermark, the greedy
    * strict-inequality fold (t1 = min step1; t2 = min step2 > t1;
    * t3 = min step3 > t2) runs over the retained times and ONE final row
    * is emitted (Append mode — a funnel verdict is a per-user terminal
    * fact, not a running update).
    *
    * The fold is order-insensitive, so out-of-order arrivals within the
    * watermark never change the verdict — a late step-1 event can only
    * LOWER t1, and every step-2 candidate it could unlock is still in
    * state. State is bounded at 3 × keepEarliest longs per active user.
    * The one documented approximation: a user with more than
    * `keepEarliest` step-k events whose true transition lies beyond the
    * retained earliest set can under-report the stage — raise the knob
    * for exactness (the spec runs exact); the batch twin is the
    * unbounded-memory reference. Timestamps stay MICROS end-to-end
    * (java.sql.Timestamp would silently truncate to millis and break
    * strict-inequality ties the batch operator resolves exactly). */
  def streamingFunnel(
      stream: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      keepEarliest: Int = 64,
      watermarkDelay: String = "10 minutes",
      idleMs: Long = 3600L * 1000): Dataset[FunnelStages] = {
    require(steps.size == 3, "funnel is a 3-step fold")
    val spark = stream.sparkSession
    import spark.implicits._
    val idx = steps.zipWithIndex.toMap
    val rows = stream
      .filter(col("event_type").isin(steps.map(s => s: Any): _*))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type").cast("string").as("step"),
        col("ts").cast("timestamp").as("__ts"),
        unix_micros(col("ts").cast("timestamp")).as("__us"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, java.sql.Timestamp, Long)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[(Long, String, java.sql.Timestamp, Long)],
         state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val t1 = st.s1.headOption
            val t2 = t1.flatMap(a => st.s2.find(_ > a)) // sorted → first match = min
            val t3 = t2.flatMap(b => st.s3.find(_ > b))
            val stage = if (t3.isDefined) 3 else if (t2.isDefined) 2
              else if (t1.isDefined) 1 else 0
            Iterator.single(FunnelStages(user, t1, t2, t3, stage))
          } else {
            var st = state.getOption.getOrElse(FunnelState(Nil, Nil, Nil))
            it.foreach { case (_, step, _, us) =>
              val i = idx(step)
              st = st.updated(i, (st.step(i) :+ us).sorted.take(keepEarliest))
            }
            state.update(st)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleMs)
            Iterator.empty
          }
        })
  }

  final case class TransitionPair(user_id: Long, from_type: String, to_type: String)
  final case class TransitionState(evs: Seq[(Long, Long, String)]) // (us, event_id, type)

  /** S20: streaming event-transition emission — the streaming twin of
    * the batch transition matrix (Analytics.eventsTransitions). Events
    * buffer per user (capped at `maxEvents`) until the user goes idle
    * past `idleMs` beyond the watermark; on timeout the buffer sorts by
    * (event-time micros, event_id) — the batch operator's exact
    * ordering contract — and consecutive (from, to) pairs emit as
    * Append rows (a user's transition history is terminal once idle),
    * so out-of-order arrivals within the watermark are handled exactly.
    * State is bounded: `maxEvents` caps the buffer (beyond it the
    * earliest-arrived events win and the tail under-reports — raise
    * for exactness; the spec runs exact) and the TTL evicts idle
    * users. The downstream matrix is a plain streaming groupBy count
    * over the emitted pairs — vocabulary-sized state. */
  def streamingTransitions(
      stream: DataFrame,
      maxEvents: Int = 4096,
      watermarkDelay: String = "10 minutes",
      idleMs: Long = 3600L * 1000): Dataset[TransitionPair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val rows = stream
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type").cast("string").as("event_type"),
        col("ts").cast("timestamp").as("__ts"),
        unix_micros(col("ts").cast("timestamp")).as("__us"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, Long, String, java.sql.Timestamp, Long)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[(Long, Long, String, java.sql.Timestamp, Long)],
         state: GroupState[TransitionState]) => {
          if (state.hasTimedOut) {
            val evs = state.get.evs.sortBy(e => (e._1, e._2))
            state.remove()
            if (evs.size < 2) Iterator.empty
            else evs.sliding(2).map(w => TransitionPair(user, w(0)._3, w(1)._3))
          } else {
            var st = state.getOption.getOrElse(TransitionState(Nil))
            it.foreach { case (_, eid, tpe, _, us) =>
              if (st.evs.size < maxEvents) st = TransitionState(st.evs :+ ((us, eid, tpe)))
            }
            state.update(st)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleMs)
            Iterator.empty
          }
        })
  }

  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** S3: custom keyed state — running per-user totals via
    * flatMapGroupsWithState (the arbitrary-state API the reference's
    * users would reach for when windows don't fit).
    *
    * State is BOUNDED by an idle TTL on event time: a user with no
    * activity for `ttlMs` past the watermark is evicted, and a later
    * arrival restarts their totals from zero. All-time totals over an
    * unbounded stream are inherently unbounded state — callers that
    * need them run the batch twin over the table instead. */
  def runningTotals(
      stream: DataFrame,
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 3600L * 1000): Dataset[UserTotal] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("user_id").cast("long").as("user_id"), col("value").cast("double").as("value"),
        col(Identifiers.quote(tsCol)).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
         state: GroupState[(Long, Double)]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0
            var v = v0
            rows.foreach { case (_, value, _) => n += 1; v += value }
            state.update((n, v))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttlMs)
            Iterator.single(UserTotal(user, n, v))
          }
        })
  }

  /** S19: streaming point-in-time enrichment — the streaming consumer
    * of C22's SCD2 history and the streaming twin of A27's batch PIT
    * join. Each micro-batch LEFT-joins the STATIC version table on the
    * key with the validity interval as a residual, so every event picks
    * the dimension version valid AT ITS EVENT TIME.
    *
    * Deliberately STATELESS: a stream-static join re-reads the
    * dimension per micro-batch (no state store, no watermark), which
    * is the right contract for a slowly-changing dimension — versions
    * committed between batches enrich later events through the same
    * validity predicate, and event time (not arrival time) picks the
    * version, so replays are deterministic. Facts with no valid
    * version keep their row (LEFT) and audit as null dimension
    * columns rather than dropping. Scale: the per-batch join is the
    * same plan as A27's — key equijoin + short per-key version-chain
    * residual; AQE broadcasts the dimension when it fits. */
  def pitEnrich(
      stream: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String,
      tsCol: String = "ts"): DataFrame = {
    val ts = col(Identifiers.quote(tsCol))
    stream.join(dim,
      col(Identifiers.quote(streamKey)) === col(Identifiers.quote(dimKey)) &&
        ts >= col("_valid_from") &&
        (col("_valid_to").isNull || ts < col("_valid_to")),
      "left")
  }

  final case class Packed(doc_id: Long, group: String, pack_shard: Int,
      n_tokens: Long, seq_id: Long, start_off: Long)

  /** S18: streaming sequence packing — the streaming twin of
    * [[graft.operators.Curation.packSequences]] (L28), assigning each
    * arriving document its slot in the group×shard's fixed-length
    * training sequences as it lands, instead of re-packing the corpus
    * per batch job.
    *
    * Contract (shared with the batch packer): per (group, shard) the
    * admitted documents form ONE contiguous token stream; a document
    * occupies [start, start+n_tokens); `seq_id = start / seqLen` and
    * `start_off = start mod seqLen`. Within a micro-batch, documents
    * pack in the batch packer's deterministic (md5(id), id) hash order;
    * across batches they pack in arrival order — so a stream fed in
    * hash-order batches reproduces the batch packer's assignment
    * row-for-row (spec-pinned), and ANY arrival order satisfies the
    * contiguity contract (each next doc starts where the previous
    * ended; no token gap, no overlap).
    *
    * State per (group, shard) is ONE long — the cumulative token count
    * — so total state is 8 bytes × #groups × shards, bounded by the
    * GROUPING cardinality, never by the stream. That is why this op
    * deliberately uses NoTimeout where every other graft stateful op
    * is watermark-evicted: evicting a pack offset would restart the
    * next doc at offset 0 and OVERWRITE sequence slots already
    * emitted; a long per key is cheaper than the timer state itself.
    * (Groups with unbounded key cardinality don't fit this op —
    * callers shard by a bounded key, as the batch packer does.) */
  def streamingPack(
      stream: DataFrame,
      groupCol: String,
      idCol: String,
      tokensCol: Column,
      seqLen: Int,
      shards: Int = 64): Dataset[Packed] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val ord = md5(col(Identifiers.quote(idCol)).cast("string"))
    val shard = pmod(conv(substring(ord, 1, 8), 16, 10).cast("long"), lit(shards)).cast("int")
    stream.select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(idCol)).cast("long").as("id"),
        tokensCol.cast("long").as("n"),
        ord.as("hk"), shard.as("sh"))
      .as[(String, Long, Long, String, Int)]
      .groupByKey(r => (r._1, r._5))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Int), it: Iterator[(String, Long, Long, String, Int)],
         state: GroupState[Long]) => {
          var off = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(r => (r._4, r._2)).map { case (g, id, n, _, sh) =>
            val p = Packed(id, g, sh, n, off / seqLen, off % seqLen)
            off += n
            p
          }
          state.update(off)
          out.iterator
        })
  }

  final case class PackedNoSplit(doc_id: Long, group: String, pack_shard: Int,
      n_tokens: Long, bin_seq: Long, start_off: Long, overflow: Boolean)

  /** S34: streaming NO-SPLIT packing — the streaming twin of
    * [[graft.operators.Curation.packNoSplit]] (L69), and S18's
    * document-boundary-preserving sibling: each arriving document is
    * placed WHOLE into its (group, shard) cell's current bin, or opens
    * a new bin when it doesn't fit; oversized documents take a flagged
    * overflow bin of their own. Within a micro-batch documents place
    * in the batch packer's (md5(id), id) order; across batches in
    * arrival order — fed in hash-order batches the stream reproduces
    * the batch packing row-for-row (spec-pinned), and under ANY
    * arrival order every emitted bin still satisfies the invariants
    * (docs whole; non-overflow bins ≤ seqLen; overflow bins
    * singleton). State per (group, shard) is TWO longs (current bin,
    * running end) — S18's NoTimeout reasoning applies verbatim:
    * evicting the state would restart bin numbering and overwrite
    * already-emitted slots. */
  def streamingPackNoSplit(
      stream: DataFrame,
      groupCol: String,
      idCol: String,
      tokensCol: Column,
      seqLen: Int,
      shards: Int = 64): Dataset[PackedNoSplit] = {
    require(seqLen > 0, "need seqLen > 0")
    val spark = stream.sparkSession
    import spark.implicits._
    val ord = md5(col(Identifiers.quote(idCol)).cast("string"))
    val shard = pmod(conv(substring(ord, 1, 8), 16, 10).cast("long"), lit(shards)).cast("int")
    stream.select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(idCol)).cast("long").as("id"),
        tokensCol.cast("long").as("n"),
        ord.as("hk"), shard.as("sh"))
      .as[(String, Long, Long, String, Int)]
      .groupByKey(r => (r._1, r._5))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Int), it: Iterator[(String, Long, Long, String, Int)],
         state: GroupState[(Long, Long)]) => {
          var (bin, end) = state.getOption.getOrElse((0L, 0L))
          val out = it.toSeq.sortBy(r => (r._4, r._2)).map { case (g, id, n, _, sh) =>
            val fits = end == 0L || end + n <= seqLen
            if (!fits) { bin += 1; end = 0L }
            val off = end
            end = off + n
            PackedNoSplit(id, g, sh, n, bin, off, n > seqLen)
          }
          state.update((bin, end))
          out.iterator
        })
  }

  final case class LatenessVerdict(group: String, event_id: Long,
      ts: java.sql.Timestamp, late_by_ms: Long, is_late: Boolean)

  /** S37: streaming late-data monitor — the ops question Spark's own
    * watermark answers SILENTLY (late rows just vanish from windowed
    * aggregates): how much of the feed is arriving late, per group, and
    * by how far? Each group keeps ONE long of state — the max event
    * time over all PRIOR micro-batches (its high-watermark) — and an
    * arriving event is late when it trails that mark by more than
    * `delayMs`; `late_by_ms` is the excess. Judging against the
    * prior-batch mark (never the current batch's) keeps verdicts
    * independent of intra-batch order — a micro-batch is an unordered
    * set, so a straggler and the fresh rows it arrived WITH never
    * re-judge each other (spec-pinned). Feed the flagged share into
    * the watermark-delay decision for every S1-family window — the
    * delay stops being a guess. NoTimeout: the state is 8 bytes per
    * GROUP (event types, not keys), the bounded-cardinality contract
    * S14/S18 already document. */
  def latenessMonitor(
      stream: DataFrame,
      groupCol: String,
      idCol: String,
      delayMs: Long,
      tsCol: String = "ts"): Dataset[LatenessVerdict] = {
    require(delayMs >= 0, "need delayMs >= 0")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(
        col(Identifiers.quote(groupCol)).cast("string").as("g"),
        col(Identifiers.quote(idCol)).cast("long").as("id"),
        col(Identifiers.quote(tsCol)).as("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (g: String, it: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[Long]) => {
          val mark = state.getOption.getOrElse(Long.MinValue)
          var newMark = mark
          val out = it.map { case (_, id, ts) =>
            val t = ts.getTime
            if (t > newMark) newMark = t
            val lateBy = if (mark == Long.MinValue) 0L
                         else math.max(0L, mark - delayMs - t)
            LatenessVerdict(g, id, ts, lateBy, lateBy > 0L)
          }.toVector
          state.update(newMark)
          out.iterator
        })
  }

  /** S35: streaming referential-integrity monitor — C42's live twin:
    * arriving child rows classify against the at-rest parent's key set
    * (a STATELESS stream-static left join; NULL FK components are
    * exempt exactly as the batch audit — a NULL reference is no
    * reference). The parent collapses to its DISTINCT key relation
    * before the join — parent row width never enters the stream plan,
    * and AQE broadcasts the key relation when it is small. Emits every
    * child row with an `is_orphan` verdict — route flagged rows to a
    * quarantine sink, clean ones onward.
    *
    * The parent key set is CAPTURED WHEN THE QUERY STARTS: Spark pins
    * the static side's file listing at plan time (probed empirically —
    * a parent insert between triggers does NOT change verdicts), so
    * this form suits an immutable reference table. For a parent that
    * grows while the monitor runs, use [[fkMonitorSink]], which
    * re-reads the parent every trigger. */
  def fkMonitor(
      stream: DataFrame,
      store: graft.store.TableStore,
      parent: String,
      childCols: Seq[String],
      parentCols: Seq[String]): DataFrame =
    fkClassify(stream, parentKeys(store, parent, childCols, parentCols), childCols)

  /** S35b: [[fkMonitor]] with a LIVE parent — the foreachBatch form
    * (Spark's own pattern for refreshable static joins): every trigger
    * re-reads the parent's current key relation, classifies the batch,
    * and hands the verdicted rows to `route` (quarantine/forward —
    * the caller's side effect). An orphan stops flagging in the first
    * batch after its parent key lands (spec-pinned). */
  def fkMonitorSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      parent: String,
      childCols: Seq[String],
      parentCols: Seq[String])(
      route: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        route(fkClassify(batch,
          parentKeys(store, parent, childCols, parentCols), childCols))
    }

  private def parentKeys(store: graft.store.TableStore, parent: String,
      childCols: Seq[String], parentCols: Seq[String]): DataFrame = {
    require(childCols.nonEmpty && childCols.length == parentCols.length,
      s"child/parent key column lists must be non-empty and the same length " +
        s"(got ${childCols.length} vs ${parentCols.length})")
    store.readTable(parent)
      .select(parentCols.zip(childCols).map { case (pc, cc) =>
        col(Identifiers.quote(pc)).as(s"__fk_$cc") }: _*)
      .distinct()
      .withColumn("__fk_hit", lit(true))
  }

  private def fkClassify(child: DataFrame, keys: DataFrame,
      childCols: Seq[String]): DataFrame = {
    val fkPresent = childCols.map(cc => col(Identifiers.quote(cc)).isNotNull)
      .reduce(_ && _)
    val cond = childCols.map(cc =>
      col(Identifiers.quote(cc)) === col(s"__fk_$cc")).reduce(_ && _)
    child.join(keys, cond, "left")
      .withColumn("is_orphan", fkPresent && col("__fk_hit").isNull)
      .drop("__fk_hit")
      .drop(childCols.map(cc => s"__fk_$cc"): _*)
  }

  /** S36: streaming summary maintenance — C41's live twin and the
    * closing piece of the maintained-materialized-view family: each
    * micro-batch of base changes upserts into the base table (S7's
    * sink contract) and the SAME commit's change feed folds into the
    * summary via [[graft.store.IncrementalAgg.maintain]] — so updates
    * to existing keys maintain exactly (the feed carries pre/post
    * images; a naive "add the batch" sink would double-count them).
    * Per trigger: O(batch) upsert + O(changes) maintenance, no base
    * rescan ever. Crash-safe via the durable maintenance watermark
    * ([[graft.store.IncrementalAgg.maintainToCurrent]]): the fold
    * always runs from the last generation the summary durably
    * reflects to the base's current one, so a failure between the
    * base upsert and the maintenance commit — or a batch replay,
    * whose re-upsert produces a self-cancelling feed diff — never
    * loses or double-applies a delta, and the summary converges to
    * summarize(base) after every trigger (spec-pinned, including a
    * kill-between-the-commits reconciliation). */
  def summaryMaintenanceSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      base: String,
      summary: String,
      groupCols: Seq[String],
      valueCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    summarySink(stream, store, base, summary)(
      () => graft.store.IncrementalAgg.maintainToCurrent(store, base, summary, groupCols, valueCol))

  /** S36b: [[summaryMaintenanceSink]] for a C41b min/max summary
    * ([[graft.store.IncrementalAgg.summarizeMinMax]]) — identical
    * watermark/replay story; the fold additionally rescans exactly the
    * groups each trigger's updates deleted extrema from. With the C44
    * rule registered, min/max aggregates over the base are then served
    * from the stream-maintained summary between triggers. */
  def summaryMinMaxMaintenanceSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      base: String,
      summary: String,
      groupCols: Seq[String],
      valueCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    summarySink(stream, store, base, summary)(
      () => graft.store.IncrementalAgg.maintainMinMaxToCurrent(store, base, summary, groupCols, valueCol))

  /** S36c: [[summaryMaintenanceSink]] for a C41d distinct-count
    * summary ([[graft.store.IncrementalAgg.summarizeDistinct]]) —
    * identical watermark/replay story; each trigger UNIONS the insert
    * rows' KMV registers (exact set algebra) and rescans only the
    * groups its updates deleted values from. With the C44 rule
    * registered, `GraftFunctions.kmvDistinct` aggregates over the base
    * serve from the stream-maintained sketch between triggers. `k`
    * must match the bootstrap's. */
  def summaryDistinctMaintenanceSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      base: String,
      summary: String,
      groupCols: Seq[String],
      valueCol: String,
      k: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    summarySink(stream, store, base, summary)(
      () => graft.store.IncrementalAgg.maintainDistinctToCurrent(store, base, summary, groupCols, valueCol, k))

  /** S36d: [[summaryMaintenanceSink]] for a C41e multi-measure MIN/MAX
    * summary ([[graft.store.IncrementalAgg.summarizeMultiMinMax]]) —
    * one trigger-time fold maintains every sum, non-null count and
    * both extrema per measure. */
  def summaryMultiMinMaxMaintenanceSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      base: String,
      summary: String,
      groupCols: Seq[String],
      valueCols: Seq[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    summarySink(stream, store, base, summary)(
      () => graft.store.IncrementalAgg.maintainMultiMinMaxToCurrent(store, base, summary, groupCols, valueCols))

  /** S36e: [[summaryMaintenanceSink]] for a C41g quantile-sketch
    * summary ([[graft.store.IncrementalAgg.summarizeQuantile]]) — the
    * lightest twin of the family: bucket counts are pure counters, so
    * every trigger folds by addition/subtraction alone (value churn
    * moves an observation between buckets as a −1/+1 pair from the
    * feed's pre/post images) and NO trigger ever rescans the base.
    * With the C44 rule registered, `Analytics.valueSketch` over the
    * base — and any quantile read composed on it — serves from the
    * stream-maintained histogram between triggers. */
  def summaryQuantileMaintenanceSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      base: String,
      summary: String,
      groupCols: Seq[String],
      valueCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    summarySink(stream, store, base, summary)(
      () => graft.store.IncrementalAgg.maintainQuantileToCurrent(store, base, summary, groupCols, valueCol))

  /** The one body behind every `summary*MaintenanceSink`: each non-empty
    * micro-batch upserts into the base, then runs `fold` (the kind's
    * watermark-driven maintainer). First trigger: the caller
    * bootstrapped the summary in sync with the base's current
    * generation — seed the watermark there (idempotent: seeded once,
    * before the first upsert). */
  private def summarySink(stream: DataFrame, store: graft.store.TableStore,
      base: String, summary: String)(
      fold: () => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          if (graft.store.IncrementalAgg.maintainedGen(store, base, summary).isEmpty)
            graft.store.IncrementalAgg.markMaintained(
              store, base, summary, store.snapshots(base).last._1)
          store.upsert(base, batch)
          fold()
        }
    }

  /** S38: streaming CDC apply — the live consumer of a change-data
    * stream (Debezium/OGG shape: per-key rows carrying new values or a
    * delete verdict plus a monotone sequence column — LSN, offset,
    * event time) folded into a managed table. Per trigger: ONE
    * map-side-combinable aggregate picks the LAST verdict per key
    * (max (seq, md5-tiebreak, payload) struct — S9's determinism
    * discipline: two verdicts tying on `seqCol` resolve by content
    * hash, never by shuffle arrival), then ONE atomic
    * [[graft.store.TableStore.applyChanges]] commit upserts the live
    * verdicts and deletes the flagged keys — a reader between triggers
    * always sees a consistent table, and a batch REPLAY is naturally
    * idempotent (same verdicts → same upserts, deletes of
    * already-absent keys no-op). Bucketed targets rewrite only the
    * buckets the batch's keys hash into: a 1k-row trigger against a
    * 100 TB table moves a handful of files. */
  def cdcApplySink(
      stream: DataFrame,
      store: graft.store.TableStore,
      table: String,
      matchCols: Seq[String],
      deleteCol: String,
      seqCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(matchCols.nonEmpty, "need match columns")
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // the sequence column is transport metadata (it orders the
          // verdicts), not table payload — it rides the max struct but
          // is not applied
          val payload = batch.columns
            .filterNot(c => matchCols.contains(c) || c == seqCol).toSeq
          val tiebreak = md5(concat_ws("|",
            batch.columns.toIndexedSeq.map(c => col(Identifiers.quote(c)).cast("string")): _*))
          val last = batch.groupBy(matchCols.map(c => col(Identifiers.quote(c))): _*)
            .agg(max(struct(col(Identifiers.quote(seqCol)).as("__seq") +:
              tiebreak.as("__tb") +:
              payload.map(c => col(Identifiers.quote(c)).as(c)): _*)).as("__v"))
            .select(matchCols.map(c => col(Identifiers.quote(c))) ++
              payload.map(c => col(s"__v.${Identifiers.quote(c)}").as(c)): _*)
          store.applyChanges(table, last, deleteCol, matchCols)
        }
    }
  }

  /** S39: streaming paragraph-DECONTAMINATION gate — the serving twin
    * of [[graft.dedup.Dedup.decontaminateParagraphs]] (L74): documents
    * are scrubbed of eval-set paragraphs AS THEY LAND, before anything
    * downstream (tokenize / pack / train) ever sees the leaked spans.
    * Each micro-batch runs the BATCH operator verbatim (shared code —
    * stream and batch cannot drift) against the static eval corpus,
    * and the cleaned documents keyed-upsert into a managed table.
    *
    * Stateless by construction: decontamination is per-document (the
    * eval side is a static relation, reduced inside the operator to a
    * distinct hash set — the anti-join's broadcast side), so ANY batch
    * split emits identical rows, and a replayed batch re-asserts the
    * same doc_id keys — exactly-once table state from at-least-once
    * execution (the S7 idempotence argument). No state store, no
    * watermark: the only cross-batch artifact is the target table. */
  def decontamGateSink(
      stream: DataFrame,
      evalSet: DataFrame,
      store: graft.store.TableStore,
      table: String,
      para: Int = 20): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          store.upsert(table,
            graft.dedup.Dedup.decontaminateParagraphs(batch, evalSet, para))
    }

  /** S40: streaming mirror maintenance — the live twin of the C39
    * batch sync ([[graft.sources.ParquetLayout.syncMirror]]): each
    * micro-batch keyed-upserts into the managed base table, then
    * brings the downstream hive-partitioned mirror current by
    * rewriting ONLY the partitions that batch's change feed touched.
    * The downstream consumer (a trainer reading `source=`-partitioned
    * parquet, another engine) sees a tree that lags the base by at
    * most one trigger, at per-trigger cost O(changed partitions),
    * never O(table).
    *
    * Crash-safe via a durable synced-generation watermark in the BASE
    * table's properties (keyed by the mirror's identity, so several
    * mirrors of one base coexist): every trigger syncs from the
    * watermark to the base's CURRENT generation and only then advances
    * the mark, and [[graft.sources.ParquetLayout.syncMirror]] rewrites
    * touched partitions from CURRENT state — so a crash between the
    * upsert and the sync (next trigger folds the backlog window), a
    * crash between the sync and the mark (the re-sync rewrites the
    * same partitions to the same bytes), and a full batch REPLAY (the
    * re-upsert's keyed change feed is EMPTY — readChanges drops no-op
    * rows — so the sync touches nothing) all converge the mirror to
    * the base. First trigger bootstraps the mirror with the C36 full
    * partitioned export pinned at the current generation before
    * seeding the mark there (the S36 seeding discipline). */
  def mirrorMaintenanceSink(
      stream: DataFrame,
      store: graft.store.TableStore,
      base: String,
      mirrorPath: String,
      partCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val key = "graft.mirror.synced." +
      java.security.MessageDigest.getInstance("MD5")
        .digest(mirrorPath.getBytes("UTF-8")).map("%02x".format(_)).mkString
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          if (store.properties(base).get(key).isEmpty) {
            val g = store.snapshots(base).last._1
            graft.sources.ParquetLayout.exportPartitioned(
              store.readTableAt(base, g), mirrorPath, Seq(partCol))
            store.setProperties(base, Map(key -> g.toString))
          }
          store.upsert(base, batch)
          val from = store.properties(base)(key).toInt
          val cur = store.snapshots(base).last._1
          if (cur > from) {
            graft.sources.ParquetLayout.syncMirror(
              store, base, mirrorPath, partCol, from, cur)
            store.setProperties(base, Map(key -> cur.toString))
          }
        }
    }
  }
}
