package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // Canonicalize timestamps to NTZ (session TZ is UTC, so values are
    // unchanged): the DuckDB oracle produces naive timestamps, and a
    // tz-aware/naive mismatch would fail compares on identical instants.
    def canonical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      df.select(df.schema.fields.map { f =>
        if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)
    }
    // iteration aid, mirroring Bench: SPARK_GRAFT_ONLY=a,b restricts the
    // dump + oracle manifest (the driver never sets it → full set)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Registration-time guard (VERDICT r7 #2): the driver gate sorts
    // result rows with pandas sort_values, which cannot factorize
    // array/map/struct cells — a query emitting one would error in the
    // REAL gate while a lenient local mirror stayed green. Reject such
    // schemas here (per-query, so the failure is attributed) and let
    // check.py flag the missing output via the _queries.json manifest.
    def driverSortable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType => false
      case _ => true
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val complex = df.schema.fields.filter(f => !driverSortable(f.dataType))
        if (complex.nonEmpty) throw new IllegalStateException(
          s"driver query schema contains non-scalar columns the gate's pandas sort " +
            s"cannot factorize: ${complex.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
        canonical(df).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // cache hygiene: operators persist() intermediates that only their
      // own execution needs; dropping them between queries keeps 81
      // queries' caches from accumulating in one JVM (the persisted
      // plans are per-query, so nothing is ever reused across entries)
      Graft.clearOperatorCaches(); spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of every SELECTED query: check.py flags any name with no
    // output dir — without this, a rows-only query that failed to dump
    // (e.g. the schema guard above) would silently vanish from the
    // local gate while the real driver records it as an error.
    Files.writeString(Paths.get(s"$outDir/_queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
