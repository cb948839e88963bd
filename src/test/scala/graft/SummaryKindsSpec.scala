package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{IncrementalAgg, TableStore}

/** Every summary kind through the `Graft.summaries` facade: the stored
  * schema a kind persists (column names, order, SQL types, nullability
  * and primary key) is part of the on-disk format, so it is pinned per
  * kind, before and after a fold. Also pins that a summary whose
  * watermark snapshot was vacuumed away still maintains. */
class SummaryKindsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def newBase(): (Graft, TableStore) = {
    val dir = Files.createTempDirectory("graft_kinds_").toString
    val g = Graft(spark, dir)
    g.create.tableFromDataFrame("base",
      Seq((1L, "a", 10.0, 1.0), (2L, "a", 20.0, 2.0), (3L, "b", 30.0, 3.0),
        (7L, "b", 35.0, 3.5), (5L, "c", 50.0, 5.0)).toDF("k", "grp", "v", "w"), Seq("k"))
    (g, new TableStore(spark, dir))
  }

  /** "name:SQL type:nullable" per column in stored order, then the PK. */
  private def layout(store: TableStore, name: String): (Seq[String], Seq[String]) =
    (store.describe(name).collect().toSeq.map(r =>
      s"${r.getString(1)}:${r.getString(2)}:${r.getBoolean(3)}"), store.meta(name).primaryKey)

  private val key = Seq("grp:varchar(max):false", "n_rows:bigint:true")
  private def countSum(s: String) = Seq(s"nn_$s:bigint:true", s"sum_$s:decimal(28,2):true")
  private def extrema(s: String) = Seq(s"min_$s:decimal(18,2):true", s"max_$s:decimal(18,2):true")
  private def kmv(s: String) = Seq(s"kmv_$s:varchar(max):true")

  // kind → (value columns, stored columns in order, primary key)
  private val kinds: Seq[(String, Seq[String], Seq[String], Seq[String])] = Seq(
    ("sum", Seq("v"), key ++ countSum("val"), Seq("grp")),
    ("minmax", Seq("v"), key ++ countSum("val") ++ extrema("val"), Seq("grp")),
    ("multi", Seq("v", "w"), key ++ countSum("v") ++ countSum("w"), Seq("grp")),
    ("multiminmax", Seq("v", "w"),
      key ++ countSum("v") ++ extrema("v") ++ countSum("w") ++ extrema("w"), Seq("grp")),
    ("distinct", Seq("v"), key ++ kmv("val"), Seq("grp")),
    ("distinctmulti", Seq("v", "w"), key ++ kmv("v") ++ kmv("w"), Seq("grp")),
    ("quantile", Seq("v"),
      Seq("grp:varchar(max):false", "bin_id:bigint:false", "bin_upper:bigint:false",
        "n_rows:bigint:true"), Seq("grp", "bin_id", "bin_upper")))

  test("each summary kind persists a pinned schema, unchanged by a fold with grown, rescanned and dead groups") {
    val (g, store) = newBase()
    try {
      kinds.foreach { case (kind, values, _, _) =>
        g.summaries.define(s"s_$kind", "base", Seq("grp"), values, kind = kind, k = 4)
      }
      val pinned = kinds.map { case (kind, _, cols, pk) => kind -> ((cols, pk)) }
      assert(kinds.map { case (kind, _, _, _) => kind -> layout(store, s"s_$kind") } == pinned,
        "schemas after define")
      // a: grown (insert only), b: rescanned (an update deletes a
      // pre-image), c: dead (its only row deleted), d: new group
      g.write.merge("base", Seq((6L, "a", 5.0, 0.5), (3L, "b", 31.0, 3.1), (4L, "d", 7.0, 7.0))
        .toDF("k", "grp", "v", "w"), upsert = true)
      g.write.delete("base", Seq(5L).toDF("k"))
      kinds.foreach { case (kind, values, cols, pk) =>
        val name = s"s_$kind"
        g.summaries.maintain(name)
        assert(layout(store, name) == (cols, pk), s"kind '$kind' after maintain")
        val recompute = IncrementalAgg.summarize(IncrementalAgg.Spec(kind, values, 4),
          g.read.table("base"), Seq("grp"))
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSeq.sorted
        assert(rows(g.read.table(name)) == rows(recompute), s"kind '$kind' rows")
        assert(g.read.table(name).filter($"grp" === "c").isEmpty,
          s"kind '$kind': the emptied group must die")
      }
    } finally { g.summaries.detach("base"); g.close() }
  }

  test("maintain rebuilds from the pinned base when a vacuum removed the watermark's snapshot") {
    val (g, _) = newBase()
    try {
      g.summaries.define("s_multi", "base", Seq("grp"), Seq("v", "w"), kind = "multi")
      g.summaries.define("s_minmax", "base", Seq("grp"), Seq("v"), kind = "minmax")
      g.write.merge("base", Seq((6L, "a", 5.0, 0.5), (3L, "b", 31.0, 3.1), (4L, "d", 7.0, 7.0))
        .toDF("k", "grp", "v", "w"), upsert = true)
      g.write.delete("base", Seq(5L).toDF("k"))
      g.maintenance.vacuum("base", keepLast = 1)
      g.summaries.maintain("s_multi")
      g.summaries.maintain("s_minmax")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("grp").collect().map(_.toString).toSeq
      val base = g.read.table("base")
      assert(rows(g.read.table("s_multi")) ==
        rows(IncrementalAgg.summarizeMulti(base, Seq("grp"), Seq("v", "w"))))
      assert(rows(g.read.table("s_minmax")) ==
        rows(IncrementalAgg.summarizeMinMax(base, Seq("grp"), "v")))
      Seq("s_multi", "s_minmax").foreach(s =>
        assert(g.summaries.status(s)("fresh") == "true", s))
    } finally { g.summaries.detach("base"); g.close() }
  }
}
