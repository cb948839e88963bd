package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.TableStore

/** The newest committed manifest is the table: reads, keyed mutations
  * and commits take the file set from it and never list data/. That is
  * sound only while every commit path leaves each file the newest
  * manifest names in data/; files it no longer names stay for older
  * snapshots until a vacuum, after which data/ holds exactly its set —
  * pinned here after each path, on a tiny flat and a tiny bucketed
  * table. */
class ManifestInvariantSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def kv(ks: Range): DataFrame = ks.map(k => (k.toLong, k.toLong * 10)).toDF("k", "v")

  /** The newest manifest's files and an on-disk walk of data/, both as
    * data-dir-relative paths. */
  private def fileSets(root: JPath, store: TableStore): (Set[String], Set[String]) = {
    val gen = store.snapshots("t").last._1
    val node = mapper.readTree(root.resolve(f"t/history/m$gen%06d.json").toFile)
    val manifest = node.get("files").elements().asScala.map(_.asText()).toSet
    val data = root.resolve("t/data")
    val walked =
      if (!Files.exists(data)) Set.empty[String]
      else Files.walk(data).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => data.relativize(p).toString).toSet
    (manifest, walked)
  }

  private def steps(buckets: Int): Seq[(String, TableStore => Unit)] = Seq(
    "insert" -> (_.insert("t", kv(0 until 8))),
    "upsert" -> (_.upsert("t", kv(6 until 10))),
    "update" -> (_.update("t", Seq((1L, 11L)).toDF("k", "v"))),
    "delete" -> (_.delete("t", Seq(2L).toDF("k"))),
    "applyChanges" -> (_.applyChanges("t",
      Seq((3L, 0L, true), (20L, 200L, false)).toDF("k", "v", "__dead"), "__dead")),
    "merge" -> (_.merge("t", kv(0 until 12))),
    "addColumn" -> (_.addColumn("t", "w", "int")),
    "compact" -> (_.compact("t")),
    "cluster" -> (_.cluster("t", Seq("v"))),
    "rebucket" -> (_.rebucket("t", if (buckets > 0) 0 else 4)),
    "restore" -> (s => s.restore("t", s.snapshots("t").head._1)),
    "vacuum" -> (_.vacuum("t")),
    "scd2" -> (_.scd2("t", Seq((1L, 12L)).toDF("k", "v"),
      clock = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("timestamp_ntz"))))

  Seq(0, 4).foreach { buckets =>
    test(s"data/ holds the newest manifest, exactly after vacuum ($buckets buckets)") {
      val root = Files.createTempDirectory("graft_manifest_")
      val store = new TableStore(spark, root.toString)
      store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"), buckets = buckets)
      steps(buckets).foreach { case (path, step) =>
        step(store)
        val (manifest, walked) = fileSets(root, store)
        assert(manifest.subsetOf(walked), s"after $path: manifest names files data/ lacks")
        if (path == "vacuum") assert(manifest == walked, s"after $path: manifest and data/ diverge")
        // and a scan of that file set runs, agreeing with the stats count
        assert(store.readTable("t").count() == store.countRows("t"), s"after $path")
      }
      store.vacuum("t", keepLast = 1)
      val (manifest, walked) = fileSets(root, store)
      assert(manifest == walked, "after the final vacuum: manifest and data/ diverge")
    }
  }
}
