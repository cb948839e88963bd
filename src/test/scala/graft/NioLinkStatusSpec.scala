package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FileStats, NioLocalFileSystem, NioRawLocalFileSystem}

/** `NioRawLocalFileSystem.getFileLinkStatus` answers what Hadoop's stock
  * local filesystem answers (which forks `readlink` per call), and the
  * FileContext overwrite rename that swaps the stats sidecar in runs
  * over it. */
class NioLinkStatusSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private def init[F <: RawLocalFileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), conf); fs }
  private val nio = init(new NioRawLocalFileSystem)
  private val stock = init(new RawLocalFileSystem)

  private def fields(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
      st.getPermission, st.getOwner, st.getGroup, st.getModificationTime)

  test("getFileLinkStatus agrees with RawLocalFileSystem for a file, a directory and symlinks") {
    val dir = Files.createTempDirectory("graft_linkstat_")
    val file = Files.write(dir.resolve("f.json"), "{}".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val absLink = Files.createSymbolicLink(dir.resolve("abs"), file)
    val relLink = Files.createSymbolicLink(dir.resolve("rel"), file.getFileName)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    for (p <- Seq(file, sub, absLink, relLink, dangling)) {
      val path = new Path(p.toString)
      assert(fields(nio.getFileLinkStatus(path)) == fields(stock.getFileLinkStatus(path)), p)
    }
    assert(nio.getFileLinkStatus(new Path(relLink.toUri)).getSymlink == new Path(file.toUri))
    assert(nio.getFileLinkStatus(new Path(file.toUri)).isFile)
    assertThrows[java.io.FileNotFoundException](nio.getFileLinkStatus(new Path(dir.resolve("none").toUri)))
  }

  test("an overwrite rename through the fork-free FileContext replaces the target and its checksum") {
    val c = new Configuration()
    c.set("fs.file.impl", NioLocalFileSystem.ConfValue)
    c.set("fs.AbstractFileSystem.file.impl", NioLocalFileSystem.AbstractConfValue)
    c.setBoolean("fs.file.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft_linkstat_rename_")
    val fs = new Path(dir.toUri).getFileSystem(c)
    val (src, dst) = (new Path(dir.toUri.toString, "a.tmp"), new Path(dir.toUri.toString, "a"))
    def put(p: Path, s: String): Unit = { val o = fs.create(p, true); o.write(s.getBytes(UTF_8)); o.close() }
    def get(p: Path): String = { val in = fs.open(p); try new String(in.readAllBytes(), UTF_8) finally in.close() }
    put(dst, "old contents")
    put(src, "new")
    FileContext.getFileContext(fs.getUri, c).rename(src, dst, Options.Rename.OVERWRITE)
    assert(get(dst) == "new")
    assert(!fs.exists(src) && !fs.exists(new Path(dir.toUri.toString, ".a.tmp.crc")))
    // the sidecar swap: a second write replaces the first, leaving no tmp
    val sidecar = new Path(dir.toUri.toString, "stats.json")
    val one = Map("f" -> FileStats.FileStat(1L, Map.empty))
    FileStats.write(fs, sidecar, one)
    FileStats.write(fs, sidecar, Map("g" -> FileStats.FileStat(2L, Map.empty)))
    assert(FileStats.read(fs, sidecar).contains(Map("g" -> FileStats.FileStat(2L, Map.empty))))
    assert(!fs.exists(new Path(dir.toUri.toString, "stats.json.tmp")))
  }
}
