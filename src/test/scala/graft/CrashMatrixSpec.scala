package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{NioLocalFileSystem, NioRawLocalFileSystem, TableStore}

/** `faultfile://`: the local filesystem with a simulated process kill.
  * Armed with k, it counts the arming thread's rename, delete, mkdirs
  * and create calls; the k-th such call and every later one, from any
  * thread, throws, as if the process had died there. Its own scheme
  * keeps it to the stores a test roots under it. */
class FaultFs extends NioLocalFileSystem(new FaultRawFs) {
  override def rename(src: Path, dst: Path): Boolean = { FaultFs.step(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultFs.step(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { FaultFs.step(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultFs.step(); super.mkdirs(f, permission)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.step()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

class FaultRawFs extends NioRawLocalFileSystem {
  override def getUri: URI = URI.create(FaultFs.Scheme + ":///")
}

object FaultFs {
  val Scheme = "faultfile"
  @volatile private var armedBy: Thread = null
  @volatile private var killAt = Long.MaxValue
  @volatile private var dead = false
  private val calls = new AtomicLong

  /** Kill the process at the arming thread's `k`-th counted call. */
  def arm(k: Long): Unit = { calls.set(0); killAt = k; dead = false; armedBy = Thread.currentThread() }

  /** Revive and disarm; the arming thread's counted calls. */
  def disarm(): Long = { armedBy = null; dead = false; calls.get }

  private[graft] def step(): Unit = {
    if (!dead && (Thread.currentThread() eq armedBy) && calls.incrementAndGet() >= killAt)
      dead = true
    if (dead) throw new IOException("process killed by fault injection")
  }
}

/** Bounded crash matrix over the store's commit paths. For each path
  * and layout, one run counts the path's driver-side metadata calls and
  * records the post-state; then, for every k, a copy of the same
  * template table is mutated with the process killed at call k. After
  * each kill a fresh store (lock cleared, no repair) must read exactly
  * the pre-state or the post-state; `repair` must then leave that read
  * unchanged, leave meta.json describing the newest manifest's layout,
  * and leave data/ holding exactly the files the retained manifests
  * name. */
class CrashMatrixSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set(s"fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def kv(ks: Range): DataFrame = ks.map(k => (k.toLong, k.toLong * 10)).toDF("k", "v")

  private def storeAt(dir: JPath) = new TableStore(spark, s"${FaultFs.Scheme}://$dir")

  /** gen 1 insert, gen 2 upsert, gen 3 update: history to restore to
    * and vacuum away, and a file set spread over several writes. */
  private def template(buckets: Int): JPath = {
    val dir = Files.createTempDirectory("graft_crash_tpl_")
    val store = storeAt(dir)
    store.createTable("t", Seq("k" -> "bigint", "v" -> "bigint"), Seq("k"), buckets = buckets)
    store.insert("t", kv(0 until 8))
    store.upsert("t", Seq((6L, 66L), (9L, 90L)).toDF("k", "v"))
    store.update("t", Seq((1L, 11L)).toDF("k", "v"))
    dir
  }
  private lazy val templates = Map(0 -> template(0), 4 -> template(4))

  private def copyOf(src: JPath): JPath = {
    val dst = Files.createTempDirectory("graft_crash_")
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    dst
  }

  private def deleteTree(dir: JPath): Unit =
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def manifests(dir: JPath): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val h = dir.resolve("t/history")
    Files.list(h).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("m\\d+\\.json")).sortBy(_.toString)
      .map(p => mapper.readTree(p.toFile))
  }

  private def dataFiles(dir: JPath): Set[String] = {
    val data = dir.resolve("t/data")
    if (!Files.exists(data)) Set.empty
    else Files.walk(data).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => data.relativize(p).toString).toSet
  }

  private def frozen(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def same(a: DataFrame, b: DataFrame): Boolean = Try(Equality.compareDfs(a, b)).isSuccess

  private def paths(buckets: Int): Seq[(String, TableStore => Unit)] = Seq(
    "insert" -> (_.insert("t", kv(20 until 23))),
    "upsert" -> (_.upsert("t", Seq((5L, 55L), (30L, 300L)).toDF("k", "v"))),
    "update" -> (_.update("t", Seq((2L, 22L)).toDF("k", "v"))),
    "delete" -> (_.delete("t", Seq(3L).toDF("k"))),
    "compact" -> (_.compact("t")),
    "rebucket" -> (_.rebucket("t", if (buckets > 0) 0 else 4)),
    "restore" -> (_.restore("t", 1)),
    "vacuum" -> (_.vacuum("t")))

  /** What a fresh store finds in the crashed table at `dir`. */
  private def check(dir: JPath, pre: DataFrame, post: DataFrame,
      metas: Seq[TableStore.Meta]): Seq[String] = {
    val store = storeAt(dir)
    store.clearCommitLock("t")
    val cur = store.read("t")
    Seq(pre, post).find(same(cur, _)) match {
      case None => Seq(s"read is neither pre- nor post-state (${cur.collect().mkString(", ")})")
      case Some(state) =>
        store.repair("t")
        val ms = manifests(dir)
        val named = ms.flatMap(_.get("files").elements().asScala.map(_.asText())).toSet
        val onDisk = dataFiles(dir)
        val m = store.meta("t")
        Seq(
          Some("repair changed the read").filterNot(_ => same(store.read("t"), state)),
          Some(s"data/ holds ${onDisk -- named} unnamed, misses ${named -- onDisk}")
            .filterNot(_ => onDisk == named),
          Some(s"meta after repair is neither pre- nor post-meta: $m").filterNot(_ => metas.contains(m)),
          Some("meta.json and the newest manifest disagree on the layout")
            .filterNot(_ => ms.last.get("meta").get("buckets").asInt() == m.buckets)
        ).flatten
    }
  }

  for (buckets <- Seq(0, 4); (path, op) <- paths(buckets))
    test(s"$path ($buckets buckets): every crash reads pre or post; repair rolls back") {
      val tpl = templates(buckets)
      val pre = frozen(storeAt(tpl).read("t"))
      val preMeta = storeAt(tpl).meta("t")
      val postDir = copyOf(tpl)
      val postStore = storeAt(postDir)
      FaultFs.arm(Long.MaxValue)
      op(postStore)
      val calls = FaultFs.disarm()
      assert(calls > 0)
      info(s"$calls crash points")
      val post = frozen(postStore.read("t"))
      val postMeta = postStore.meta("t")
      deleteTree(postDir)
      val failures = (1L to calls).flatMap { k =>
        val dir = copyOf(tpl)
        FaultFs.arm(k)
        val crash = Try(op(storeAt(dir)))
        FaultFs.disarm()
        val problems = Try(check(dir, pre, post, Seq(preMeta, postMeta)))
          .fold(e => Seq(s"threw $e"), identity)
        deleteTree(dir)
        problems.map(p => s"k=$k/$calls (op ${if (crash.isSuccess) "finished" else "killed"}): $p")
      }
      assert(failures.isEmpty, failures.mkString(s"\n$path ($buckets buckets):\n", "\n", ""))
    }
}
