package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.store.TableStore

/** meta.json is written as a tmp and swapped in: a crash while the tmp
  * is written leaves the committed meta.json readable, and in the
  * delete→rename window the complete tmp is the committed meta. */
class MetaSwapSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def table(): (String, TableStore) = {
    val root = Files.createTempDirectory("graft_metaswap_").toString
    val store = new TableStore(spark, root)
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"), buckets = 2)
    store.insert("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    (root, store)
  }

  test("a torn meta.json.tmp leaves the committed meta readable; the next meta write replaces it") {
    val (root, store) = table()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new Path(root, "t/meta.json")
    val bytes = { val in = fs.open(meta); try in.readAllBytes() finally in.close() }
    val out = fs.create(new Path(root, "t/meta.json.tmp"), true)
    out.write(bytes, 0, bytes.length / 2)
    out.close()
    val before = store.meta("t")
    for (s <- Seq(store, new TableStore(spark, root))) {
      assert(s.meta("t") == before)
      assert(s.read("t").count() == 2)
    }
    store.addColumn("t", "x", "int")
    assert(new TableStore(spark, root).meta("t").columns.map(_._1) == Seq("k", "v", "x"))
    assert(!fs.exists(new Path(root, "t/meta.json.tmp")))
  }

  test("in the delete→rename window the complete tmp is the committed meta") {
    val (root, store) = table()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = store.meta("t")
    // the window: meta.json deleted, its complete replacement still at the tmp name
    assert(fs.rename(new Path(root, "t/meta.json"), new Path(root, "t/meta.json.tmp")))
    for (s <- Seq(store, new TableStore(spark, root))) {
      assert(s.exists("t"))
      assert(s.meta("t") == before)
      assert(s.read("t").count() == 2)
    }
    store.insert("t", Seq((3L, 30L)).toDF("k", "v"))
    store.addColumn("t", "x", "int")
    assert(fs.exists(new Path(root, "t/meta.json")) && !fs.exists(new Path(root, "t/meta.json.tmp")))
    val fresh = new TableStore(spark, root)
    assert(fresh.meta("t").columns.map(_._1) == Seq("k", "v", "x"))
    assert(fresh.read("t").count() == 3)
  }
}
