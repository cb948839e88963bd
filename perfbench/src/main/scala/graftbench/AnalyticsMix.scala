package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.{Graft, SparkEntry}

/** Read-only passes over a fixed list of compute-bound `SparkEntry.queries`
  * (joins, near-duplicate clustering and splitting, text training, ANN
  * search) on a seeded subset of the benchmark's slice of the test tables.
  * A round is one pass: each query once, collected on the driver (one
  * read each); operator caches and Spark's cache are cleared after it.
  * The workload writes nothing to a graft store: each query's row count
  * and result digest are kept in memory, and every query must give the
  * same result on every pass, the untimed warm-up pass included. */
final class AnalyticsMix(ctx: Ctx) extends Workload {
  import ctx.{h, spark}
  private var dir: String = _
  private val results = mutable.LinkedHashMap.empty[String, mutable.Set[(Int, String)]]

  /** Stages the seeded subset as parquet files, one per table, in the
    * layout the queries read (`<dir>/<table>.parquet`). */
  def setup(rep: Int): Unit = {
    dir = ctx.stagingDir(rep)
    def keep(key: String, mod: Long) = pmod(xxhash64(col(key), lit(ctx.seed)), lit(mod)) =!= 0
    def stage(name: String, filter: Option[org.apache.spark.sql.Column]): Unit = {
      val df = spark.read.parquet(s"${ctx.dataDir}/$name.parquet")
      filter.fold(df)(df.filter).write.parquet(s"$dir/$name.parquet")
    }
    // seven eighths of the orders that have lineitems, with their
    // lineitems, and of the embeddings; the documents and the dimension
    // tables whole (near-copies are rare, four pairs in the 800 documents,
    // and a sample would lose them)
    stage("orders", Some(keep("o_orderkey", 8) && col("o_orderkey") < AnalyticsMix.LineitemOrders))
    stage("lineitem", Some(keep("l_orderkey", 8)))
    stage("embeddings", Some(keep("vec_id", 8)))
    Seq("documents", "customer", "part", "supplier", "nation").foreach(stage(_, None))
  }

  override def warmup(): Unit = {
    setup(-1)
    round()
  }

  def round(): Unit = {
    AnalyticsMix.Queries.foreach { q =>
      h.read(q)(SparkEntry.queries(q)(spark, dir).collect()).foreach { rows =>
        results.getOrElseUpdate(q, mutable.Set.empty) += ((rows.length, AnalyticsMix.digest(rows)))
      }
    }
    Graft.clearOperatorCaches()
    spark.catalog.clearCache()
  }

  def verify(): Unit = AnalyticsMix.Queries.foreach { q =>
    val seen = results.getOrElse(q, mutable.Set.empty)
    if (seen.size != 1) h.mismatch(s"$q: ${seen.size} distinct results over the passes: ${seen.take(3)}")
    else if (seen.head._1 == 0) h.mismatch(s"$q: no rows")
  }

  def liveTables: Seq[(Graft, String)] = Seq.empty
}

object AnalyticsMix {
  /** The compute-bound driver queries, as registered in [[SparkEntry.queries]]. */
  val Queries: IndexedSeq[String] = IndexedSeq("q9_product_profit", "q18_large_orders",
    "dedup_families", "dedup_clusters", "dedup_cluster_split", "text_classifier_train", "sim_topk_ivf")

  /** The lineitem slice holds the lines of the orders below this key. */
  val LineitemOrders = 12000L

  /** Order-insensitive digest of a result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
