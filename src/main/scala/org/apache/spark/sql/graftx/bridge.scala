package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** graft's one door into Spark's `private[sql]` API: Column ↔
  * Expression for the custom Catalyst expressions, DataFrames over
  * custom logical plans, and the scan/footer/listener internals below.
  *
  * Spark 4 hides Column construction from raw expressions behind
  * `private[sql] ExpressionUtils` (the Connect refactor); a library
  * shipping native expressions reaches it from an org.apache.spark.sql
  * subpackage — the established pattern for Spark-native extensions.
  * All graft logic stays in the `graft` packages.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a custom [[org.apache.spark.sql.catalyst.plans
    * .logical.LogicalPlan]] node — Spark exposes no public constructor
    * for this (`Dataset.ofRows` is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until queued listener events are delivered (`listenerBus` is
    * private[spark]) — Bench reads per-query task metrics from a
    * listener, and task-end events are asynchronous. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Spark schema of ONE parquet footer, read driver-side — the
    * per-file unit of Spark's own `mergeSchema` path
    * (ParquetFileFormat.readSchemaFromFooter), without the distributed
    * footer job `mergeSchemasInParallel` launches per read: prefer the
    * exact Spark schema the writer embedded in the footer
    * (`org.apache.spark.sql.parquet.row.metadata` — every file a
    * TableStore writes carries it), fall back to converting the
    * parquet message type under the session's conversion flags
    * (binary-as-string, int96, NTZ inference, legacy nanos-as-long).
    * Footers of immutable files never change, so callers may cache the
    * result by path forever. */
  def parquetFooterSchema(
      spark: org.apache.spark.sql.SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      status: org.apache.hadoop.fs.FileStatus): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
    val md = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .getFileMetaData
    Option(md.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(s => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(s)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
      .getOrElse(
        new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(md.getSchema))
  }

  /** The same StructType merge Spark's mergeSchema read reduces footers
    * with (`StructType.merge` is private[sql]); throws the same
    * failed-to-merge error on incompatible footers. */
  def mergeSchemas(
      spark: org.apache.spark.sql.SparkSession,
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    a.merge(b, spark.sessionState.conf.caseSensitiveAnalysis)

  /** r16 (guide §3.4, shuffle-free joins): a parquet scan of a
    * PK-hash-bucketed store table that ADVERTISES its layout as a
    * Catalyst output partitioning. The store writes bucketed tables as
    * `__bucket=<pmod(hash(pk), n)>/part-…_<bucketid>.parquet` — rows
    * are physically grouped by the SAME hash Spark's HashPartitioning
    * computes (Murmur3, seed 42) — so a scan built over a
    * [[HadoopFsRelation]] with a [[BucketSpec]] honestly reports
    * `HashPartitioning(pk, n)`: EnsureRequirements then exchanges only
    * the OTHER side of a keyed-mutation join and the table side streams
    * straight from parquet — no table-side shuffle at any scale. The
    * plain DataFrameReader cannot express this (bucket metadata lives
    * in the catalog for saveAsTable tables only), hence the bridge.
    *
    * The caller guarantees every data file's name embeds its bucket id
    * (Spark's `_00003` convention — BucketingUtils parses it back). */
  def bucketedParquetScan(
      spark: org.apache.spark.sql.SparkSession,
      dataDir: String,
      dataSchema: org.apache.spark.sql.types.StructType,
      partitionCol: String,
      numBuckets: Int,
      bucketCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val full = StructType(dataSchema.fields :+ StructField(partitionCol, IntegerType))
    val index = new InMemoryFileIndex(cs,
      Seq(new org.apache.hadoop.fs.Path(dataDir)),
      Map("basePath" -> dataDir), Some(full))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Seq(StructField(partitionCol, IntegerType))),
      dataSchema = dataSchema,
      bucketSpec = Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        numBuckets, bucketCols, Nil)),
      fileFormat = new parquet.ParquetFileFormat(),
      options = Map.empty)(cs)
    org.apache.spark.sql.classic.Dataset.ofRows(cs, LogicalRelation(relation))
  }

  /** True iff `fileName` carries a parseable Spark bucket id — the
    * guard [[bucketedParquetScan]] callers use to fall back to a plain
    * scan on any file a pre-convention writer produced. */
  def hasBucketId(fileName: String): Boolean =
    org.apache.spark.sql.execution.datasources.BucketingUtils
      .getBucketId(fileName).isDefined
}
