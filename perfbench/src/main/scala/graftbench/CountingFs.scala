package graftbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

import graft.store.NioLocalFileSystem

/** graft's local filesystem with every metadata and stream-open call
  * counted by kind and by thread class (driver vs Spark task), with the
  * time spent inside the call and the bytes written through created
  * streams. Installed only for traced runs, as the `file://`
  * implementation on the session's Hadoop configuration; untraced runs
  * keep the stock class. Counting is off until [[FsCounters.enabled]] is
  * set, so the traced run can time an untraced loop first. */
class CountingFs extends NioLocalFileSystem {
  import FsCounters._

  private def counted[T](kind: Int)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally record(kind, System.nanoTime() - t0)
    }

  override def getFileStatus(f: Path): FileStatus = counted(Status)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = counted(List)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(List)(super.listLocatedStatus(f))
  override def rename(src: Path, dst: Path): Boolean = counted(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(Mkdir)(super.mkdirs(f, permission))
  override def open(f: Path, bufferSize: Int) = counted(Open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = counted(Create)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
    if (enabled) new CountingOut(out) else out
  }
}

/** Adds the stream's byte count to [[FsCounters]] when it is closed. */
private class CountingOut(inner: FSDataOutputStream) extends FSDataOutputStream(inner, null) {
  private var closed = false
  override def close(): Unit = {
    try super.close()
    finally if (!closed) { closed = true; FsCounters.bytesWritten.addAndGet(getPos) }
  }
}

object FsCounters {
  val Status = 0; val List = 1; val Rename = 2; val Delete = 3
  val Mkdir = 4; val Open = 5; val Create = 6
  val Kinds: Seq[String] = Seq("status", "list", "rename", "delete", "mkdir", "open", "create")

  @volatile var enabled = false
  /** calls by kind: index kind for driver threads, Kinds.size + kind for task threads */
  val calls = new AtomicLongArray(2 * Kinds.size)
  val busyNanos = new java.util.concurrent.atomic.AtomicLong()
  val bytesWritten = new java.util.concurrent.atomic.AtomicLong()

  private[graftbench] def record(kind: Int, nanos: Long): Unit = {
    val task = TaskContext.get() != null
    calls.incrementAndGet(if (task) Kinds.size + kind else kind)
    busyNanos.addAndGet(nanos)
  }

  /** Point-in-time copy: per-kind driver calls, per-kind task calls, busy ns, bytes. */
  final case class Snap(driver: Vector[Long], task: Vector[Long], busyNs: Long, bytes: Long) {
    def -(o: Snap): Snap = Snap(driver.zip(o.driver).map(p => p._1 - p._2),
      task.zip(o.task).map(p => p._1 - p._2), busyNs - o.busyNs, bytes - o.bytes)
    def total(kind: Int): Long = driver(kind) + task(kind)
    def all: Long = driver.sum + task.sum
  }
  val zero: Snap = Snap(Vector.fill(Kinds.size)(0L), Vector.fill(Kinds.size)(0L), 0L, 0L)

  def snap(): Snap = Snap(
    Vector.tabulate(Kinds.size)(calls.get),
    Vector.tabulate(Kinds.size)(k => calls.get(Kinds.size + k)),
    busyNanos.get, bytesWritten.get)
}
