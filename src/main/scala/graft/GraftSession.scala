package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loading for the graft engine.
  *
  * Mirrors the role of the reference's connection/session object
  * (`mssql_dataframe/package.py:21` `SQLServer`, `connect.py`): one
  * entry point that owns engine-level options. Here the "connection"
  * is a SparkSession tuned for the workload:
  *
  *  - AQE on: runtime skew-join handling + shuffle coalescing, which
  *    is the 100 TB answer to skewed keys without hand-salting.
  *  - shuffle.partitions sized for the local harness (32); on a real
  *    cluster this is overridden per-deploy (or left to AQE's
  *    coalescing with a high initial value).
  *  - UTC session timezone so date_trunc / window semantics are
  *    environment-independent (see ADVICE r1 on Infer determinism).
  */
object GraftSession {

  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf whose default
    * is 100). An entry is one generated source compiled under one class
    * loader, so a whole-stage body compiled on the driver takes a second
    * entry when an executor task thread compiles it. Measured per
    * process (4 cores): perfbench's `keyed_oltp` holds 196 entries over
    * its warm-up, three set-ups and four rounds (280 without hoisted
    * filter literals), `analytics_mix` 309 over three rounds, and
    * `graft.Bench` 1977 over its sf0.001 warm-up and sf0.01 timed runs.
    * At 100 entries LRU evicted every class before its next use: a
    * `keyed_oltp` round compiled ~160 classes, and Bench's timed runs
    * compiled 3979 (1953 at 1000 entries, 274 at 4000). 4000 holds
    * twice the largest set.
    *
    * The session also registers [[graft.plans.GraftExtensions]], whose
    * `HoistFilterLiterals` keeps the literals of filter conditions out
    * of the generated source: otherwise each point read's key and each
    * range's bounds is a new source text, a cache miss and a compile,
    * whatever the cache size. */
  val CodegenCacheEntries = 4000

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .withExtensions(new graft.plans.GraftExtensions)
      // fork-free local filesystem — without libhadoop, the stock
      // local FS shells out `chmod`/`ls` per file op (measured 210
      // forks per one-file parquet write); see NioLocalFileSystem
      .config(graft.store.NioLocalFileSystem.ConfKey,
        graft.store.NioLocalFileSystem.ConfValue)
      .config(graft.store.NioLocalFileSystem.AbstractConfKey,
        graft.store.NioLocalFileSystem.AbstractConfValue)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load one of the test tables from a scale-factor directory.
    *
    * Timestamp flavor normalization — the driver has generated the
    * parquet with different physical timestamp types across rounds, and
    * every operator (and Row.getTimestamp in the specs, and Structured
    * Streaming's watermark, which REQUIRES TimestampType) assumes
    * session-zone instants:
    *  - TIMESTAMP(NANOS) read as Long via
    *    `spark.sql.legacy.parquet.nanosAsLong` → floor-divided to
    *    micro-precision instants (how micro-precision engines, incl.
    *    the DuckDB oracle, truncate nanos);
    *  - naive TIMESTAMP(MICROS) (isAdjustedToUTC=false) read as
    *    TIMESTAMP_NTZ under Spark 4's `inferTimestampNTZ` → cast to
    *    TimestampType. The NTZ→instant cast is only wall-clock-
    *    preserving because the session zone is UTC — asserted below, so
    *    a session not built via [[local]] fails loudly instead of
    *    silently shifting instants (ADVICE r6).
    *
    * The NTZ scan is TOP-LEVEL only by design: the driver's generated
    * tables are flat (TESTDATA.md), so nested-struct/array timestamps
    * cannot occur here; store-managed tables normalize on write. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "GraftSession.table requires a UTC session (the NTZ→Timestamp cast below " +
        "preserves wall clocks only in UTC); build the session via GraftSession.local()")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    val ntz = df.schema.fields.collect { case f if f.dataType == TimestampNTZType => f.name }.toSet
    val normalized =
      if (ntz.isEmpty) df
      // df(n), not col(n): positional resolution keeps a field name
      // containing a dot or backtick from being parsed as a nested path
      else df.select(df.schema.fieldNames.map { n =>
        if (ntz.contains(n)) df(n).cast(TimestampType).as(n) else df(n)
      }.toIndexedSeq: _*)
    if (name == "events" && normalized.schema("ts").dataType == LongType)
      normalized.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else normalized
  }
}
