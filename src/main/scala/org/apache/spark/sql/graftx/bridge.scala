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

  /** A parquet scan over a COMMITTED file set that Spark plans without
    * listing anything: `leaves` names every file (with its status)
    * under each root, and the file index is seeded from a status cache
    * holding exactly those files. A root is either a table's data
    * directory — partition discovery then reads `__bucket=<id>` from
    * the files' paths, and the relation's root path is the table's
    * identity for plan rules — or a single file (a snapshot file in
    * the history tree). Schema as a `spark.read.schema(dataSchema)`
    * read would give it.
    *
    * r16 (guide §3.4, shuffle-free joins): `bucketing = Some((n, pk))`
    * ADVERTISES a PK-hash-bucketed layout as a Catalyst output
    * partitioning. The store writes bucketed tables as
    * `__bucket=<pmod(hash(pk), n)>/part-…_<bucketid>.parquet` — rows
    * are physically grouped by the SAME hash Spark's HashPartitioning
    * computes (Murmur3, seed 42) — so a relation with a [[BucketSpec]]
    * honestly reports `HashPartitioning(pk, n)`: EnsureRequirements
    * then exchanges only the OTHER side of a keyed-mutation join and
    * the table side streams straight from parquet — no table-side
    * shuffle at any scale. The plain DataFrameReader cannot express
    * this (bucket metadata lives in the catalog for saveAsTable tables
    * only), hence the bridge. The caller guarantees every file's name
    * embeds its bucket id (Spark's `_00003` convention — BucketingUtils
    * parses it back). */
  def committedParquetScan(
      spark: org.apache.spark.sql.SparkSession,
      leaves: Seq[(org.apache.hadoop.fs.Path, Seq[org.apache.hadoop.fs.FileStatus])],
      dataSchema: org.apache.spark.sql.types.StructType,
      bucketing: Option[(Int, Seq[String])]): org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources._
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val byRoot = leaves.map { case (root, files) => root -> files.toArray }.toMap
    val seeded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byRoot.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(cs, leaves.map(_._1), Map.empty, None, seeded)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema.asNullable,
      bucketSpec = bucketing.map { case (n, cols) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, Nil) },
      fileFormat = new parquet.ParquetFileFormat(),
      options = Map.empty)(cs)
    org.apache.spark.sql.classic.Dataset.ofRows(cs, LogicalRelation(relation))
  }

  /** True iff `fileName` carries a parseable Spark bucket id — the
    * guard [[committedParquetScan]] callers use to fall back to an unclaimed
    * scan on any file a pre-convention writer produced. */
  def hasBucketId(fileName: String): Boolean =
    org.apache.spark.sql.execution.datasources.BucketingUtils
      .getBucketId(fileName).isDefined

  /** The store's one parquet writer: `df` written as new files straight
    * under `dir` — final names, no staging directory, no rename — and
    * returned as `dir`-relative paths, so the caller's commit needs no
    * listing. `bucketCol` (an int column) partitions the files into
    * `<bucketCol>=<b>/` dirs and embeds `b` in each name (Spark's
    * `_00003` convention, see [[hasBucketId]]). The same
    * `FileFormatWriter.write` call Spark's `FileStreamSink.addBatch`
    * makes with its `ManifestFileCommitProtocol`; the session's
    * commit-protocol setting, which every user write goes through, is
    * left alone. A failed job deletes what its tasks wrote. */
  def writeParquet(df: org.apache.spark.sql.DataFrame, dir: String,
      bucketCol: Option[String]): Seq[String] = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = ds.queryExecution
    val output = qe.analyzed.output
    val committer = new InPlaceCommitProtocol(java.util.UUID.randomUUID().toString, dir, bucketCol)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      FileFormatWriter.write(ds.sparkSession, qe.executedPlan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(), committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, output),
        ds.sparkSession.sessionState.newHadoopConf(),
        output.filter(a => bucketCol.contains(a.name)), None, Nil, Map.empty)
    }
    committer.written
  }
}

/** Commit protocol of [[bridge.writeParquet]]: each task writes its
  * files at their final paths, `part-<split>-<jobId>[_<bucket>]<suffix>`
  * (the job UUID keeps names unique across writes), and reports them
  * in its commit message. Nothing is committed on disk — the caller's
  * manifest is the commit. An aborted task deletes its files, an
  * aborted job the files of the tasks that had committed. */
private[graftx] class InPlaceCommitProtocol(jobId: String, dir: String, bucketCol: Option[String])
    extends org.apache.spark.internal.io.FileCommitProtocol with Serializable {
  import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
  import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
  import org.apache.spark.internal.io.FileNameSpec

  @transient private var taskFiles: List[String] = Nil
  @transient private var committedFiles: List[String] = Nil
  /** The job's files, `dir`-relative; set by commitJob on the driver. */
  @transient @volatile var written: Seq[String] = Nil

  private def deleteAll(rels: Seq[String], conf: org.apache.hadoop.conf.Configuration): Unit =
    rels.foreach { rel =>
      val p = new org.apache.hadoop.fs.Path(dir, rel)
      p.getFileSystem(conf).delete(p, false)
    }

  override def setupJob(ctx: JobContext): Unit = committedFiles = Nil
  override def commitJob(ctx: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    written = msgs.flatMap(_.obj.asInstanceOf[List[String]])
  override def abortJob(ctx: JobContext): Unit = deleteAll(committedFiles, ctx.getConfiguration)
  override def onTaskCommit(msg: TaskCommitMessage): Unit = synchronized {
    committedFiles = msg.obj.asInstanceOf[List[String]] ++ committedFiles
  }

  override def setupTask(ctx: TaskAttemptContext): Unit = taskFiles = Nil
  override def newTaskTempFile(ctx: TaskAttemptContext, sub: Option[String],
      spec: FileNameSpec): String = {
    val split = ctx.getTaskAttemptID.getTaskID.getId
    val bucket = for (b <- bucketCol; d <- sub if d.startsWith(b + "="))
      yield f"_${d.stripPrefix(b + "=").toInt}%05d"
    val rel = sub.fold("")(_ + "/") +
      f"${spec.prefix}part-$split%05d-$jobId${bucket.getOrElse("")}${spec.suffix}"
    taskFiles = rel :: taskFiles
    new org.apache.hadoop.fs.Path(dir, rel).toString
  }
  override def newTaskTempFileAbsPath(ctx: TaskAttemptContext, absoluteDir: String,
      spec: FileNameSpec): String =
    throw new UnsupportedOperationException("in-place writes have no custom partition locations")
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(taskFiles.reverse)
  override def abortTask(ctx: TaskAttemptContext): Unit =
    deleteAll(taskFiles, ctx.getConfiguration)
}
