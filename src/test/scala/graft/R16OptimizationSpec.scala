package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.TableStore

/** Focused pins for the r16 optimization round's internals changes:
  * the Murmur3 bucket layout advertised as a Catalyst output
  * partitioning (keyed mutations exchange only the source side), the
  * bucket-id file-naming contract it depends on, and the fallback when
  * that contract does not hold. Each test targets a hazard the
  * optimization introduced the POSSIBILITY of. */
class R16OptimizationSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def newStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_r16opt_").toString)

  /** Final physical plans of every query executed inside `body`
    * (AQE-final: captured on success, after the last replan). */
  private def capturePlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.graftx.bridge.drainListenerBus(spark.sparkContext, 10000)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("bucketed keyed mutation: table side is exchange-free (one source-side shuffle only)") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"), buckets = 8)
    store.insert("t", spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v"))
    val plans = capturePlans {
      store.upsert("t", spark.range(0, 64).selectExpr("id AS k", "id * 3 AS v"))
    }
    // the mutation's write plan: full-outer join of the bucketed table
    // scan against the source — the table side must satisfy the join's
    // distribution from its advertised HashPartitioning (no Exchange),
    // so the ONLY hash exchange in the plan is the source side's
    val joinPlans = plans.filter(p => p.contains("FullOuter"))
    assert(joinPlans.nonEmpty, s"no full-outer mutation plan captured:\n${plans.mkString("\n---\n")}")
    val p = joinPlans.maxBy(_.length)
    // the TABLE side is the join's left subtree: in the (final,
    // printed-first) plan tree its lines are the ":"-prefixed block
    // right under the join — it must be bucketed-scan-fed with NO
    // Exchange (the source side keeps its shuffles)
    val lines = p.linesIterator.toSeq
    val joinAt = lines.indexWhere(_.contains("FullOuter"))
    assert(joinAt >= 0)
    val leftBranch = lines.drop(joinAt + 1).takeWhile(_.trim.startsWith(":"))
    assert(leftBranch.exists(_.contains("Bucketed: true")),
      s"table side must be a bucketed scan:\n$p")
    assert(!leftBranch.exists(_.contains("Exchange")),
      s"table side of the mutation join must be exchange-free:\n$p")
    // and the mutation is correct
    val got = store.readTable("t", orderBy = Seq("k"), limit = Some(3))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L), (1L, 3L), (2L, 6L)))
  }

  test("bucket layout IS Spark's partition-id expression: dir id == pmod(hash(pk), n)") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "s" -> "varchar(8)"), Seq("k"), buckets = 8)
    store.insert("t", Seq((1L, "a"), (2L, "b"), (42L, "c"), (999L, "d")).toDF("k", "s"))
    val rows = store.readTable("t")
      .withColumn("__dir", regexp_extract(input_file_name(), "__bucket=(\\d+)", 1).cast("int"))
      .select(col("k"), col("__dir"), pmod(hash(col("k")), lit(8)).as("__expect"))
      .as[(Long, Int, Int)].collect()
    assert(rows.nonEmpty && rows.forall { case (_, dir, expect) => dir == expect },
      s"bucket dirs must match Spark's Murmur3 partition ids: ${rows.mkString(", ")}")
  }

  test("file without a parseable bucket id: mutation falls back to the plain scan, stays correct") {
    val store = newStore()
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"), buckets = 4)
    store.insert("t", spark.range(0, 100).selectExpr("id AS k", "id AS v"))
    // strip the bucket id from one file — a pre-convention writer's shape
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val aFile = store.readTable("t").inputFiles.head
    val p = new org.apache.hadoop.fs.Path(new java.net.URI(aFile))
    val stripped = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName.replaceAll("_\\d{5}", ""))
    assert(fs.rename(p, stripped), s"test rename failed: $p")
    assert(!org.apache.spark.sql.graftx.bridge.hasBucketId(stripped.getName))
    // the newest manifest is the table: point it at the renamed file the
    // way a pre-convention writer's manifest would have named it
    val rel = s"${p.getParent.getName}/${p.getName}"
    val manifest = new org.apache.hadoop.fs.Path(p.getParent.getParent.getParent,
      f"history/m${store.snapshots("t").last._1}%06d.json")
    val in = fs.open(manifest)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(json.contains(rel))
    val out = fs.create(manifest, true)
    try out.write(json.replace(rel, s"${p.getParent.getName}/${stripped.getName}").getBytes("UTF-8"))
    finally out.close()
    val plans = capturePlans {
      store.upsert("t", Seq((0L, 77L), (51L, 88L)).toDF("k", "v"))
    }
    val joinPlans = plans.filter(p => p.contains("FullOuter"))
    assert(joinPlans.nonEmpty && !joinPlans.exists(_.contains("Bucketed: true")),
      "fallback must not claim a bucketed scan over unnamed files")
    val got = store.readTable("t", where = Some("k IN (0, 51, 2)"), orderBy = Seq("k"))
      .select("k", "v").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 77L), (2L, 2L), (51L, 88L)))
  }
}
