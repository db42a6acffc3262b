package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.fs.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `file:` is served by [[NioLocalFileSystem]], which sets modes without
  * forking `chmod`. Every mode it leaves must equal the one Hadoop's own
  * forking `RawLocalFileSystem.setPermission` leaves on the same inputs:
  * each case runs on both, in sibling directories, and compares the full
  * `unix:mode` of every path either one wrote. */
class LocalFsSpec extends AnyFunSuite {

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** Permission bits in octal, as `stat -c %a` prints them. */
  private def mode(p: JPath): String = Integer.toOctalString(
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777"))

  private val conf = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "022")
    c
  }

  /** Runs `ops` on Hadoop's forking `LocalFileSystem` and on the in-process
    * one, each under its own directory made by `setup`, and returns each
    * tree's relative path -> mode. */
  private def both(setup: JPath => Unit)(ops: (FileSystem, Path) => Unit)
      : (Map[String, String], Map[String, String]) = {
    val root = TempDirs.create("graft_localfs")
    def run(fs: FileSystem, name: String): Map[String, String] = {
      val dir = root.resolve(name)
      Files.createDirectory(dir)
      setup(dir)
      fs.initialize(URI.create("file:///"), conf)
      try ops(fs, new Path(dir.toUri)) finally fs.close()
      val walk = Files.walk(dir)
      try walk.iterator().asScala.map(p => dir.relativize(p).toString -> mode(p)).toMap
      finally walk.close()
    }
    (run(new LocalFileSystem(), "hadoop"), run(new NioLocalFileSystem(), "nio"))
  }

  private def write(fs: FileSystem, p: Path, perm: Option[FsPermission] = None): Unit = {
    val out = perm match {
      case Some(pm) => fs.create(p, pm, true, 4096, 1.toShort, 1L << 26, null)
      case None => fs.create(p)
    }
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
  }

  test("file: resolves to NioLocalFileSystem in a new Configuration and " +
      "in the session's") {
    val fresh = new Configuration()
    assert(FileSystem.getFileSystemClass("file", fresh) == classOf[NioLocalFileSystem])
    assert(FileSystem.newInstance(URI.create("file:///"), fresh)
      .isInstanceOf[NioLocalFileSystem])
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).isInstanceOf[NioLocalFileSystem])
    assert(new Path(TempDirs.create("graft_localfs").toUri)
      .getFileSystem(spark.sessionState.newHadoopConf()).isInstanceOf[NioLocalFileSystem])
  }

  test("default mkdirs and create under umask 022 match Hadoop's modes") {
    val (hadoop, nio) = both(_ => ()) { (fs, d) =>
      fs.mkdirs(new Path(d, "a/b/c"))
      write(fs, new Path(d, "a/b/c/part-0.parquet"))
      write(fs, new Path(d, "x/y/part-1.parquet")) // parents made by create
    }
    assert(nio == hadoop)
    assert(nio("a/b/c") == "755" && nio("a/b/c/part-0.parquet") == "644")
    assert(nio("x/y") == "755")
  }

  test("explicit 0700 directories and 0600 files match Hadoop's modes") {
    val (hadoop, nio) = both(_ => ()) { (fs, d) =>
      fs.mkdirs(new Path(d, "p/q"), new FsPermission(oct("700").toShort))
      write(fs, new Path(d, "p/q/f"), Some(new FsPermission(oct("600").toShort)))
    }
    assert(nio == hadoop)
    assert(nio("p/q") == "700" && nio("p/q/f") == "600" &&
      nio("p/q/.f.crc") == "600")
  }

  test("a sticky 1777 directory keeps its sticky bit, and 0755 clears it") {
    val (hadoop, nio) = both(_ => ()) { (fs, d) =>
      val t = new Path(d, "tmp")
      val u = new Path(d, "unstuck")
      fs.mkdirs(t)
      fs.setPermission(t, new FsPermission(oct("1777").toShort))
      fs.mkdirs(u)
      fs.setPermission(u, new FsPermission(oct("1777").toShort))
      fs.setPermission(u, new FsPermission(oct("755").toShort))
    }
    assert(nio == hadoop)
    assert(nio("tmp") == "1777" && nio("unstuck") == "755")
  }

  test("mkdirs under a setgid parent keeps setgid (2755), as chmod 0755 " +
      "does; a file's setgid is cleared") {
    val setgid = (d: JPath) => {
      val parent = Files.createDirectory(d.resolve("shared"))
      Files.setAttribute(parent, "unix:mode", Int.box(oct("2775")))
      val f = Files.createFile(parent.resolve("legacy"))
      Files.setAttribute(f, "unix:mode", Int.box(oct("2755")))
      ()
    }
    val (hadoop, nio) = both(setgid) { (fs, d) =>
      fs.mkdirs(new Path(d, "shared/child/grandchild"))
      fs.setPermission(new Path(d, "shared"), new FsPermission(oct("755").toShort))
      fs.setPermission(new Path(d, "shared/legacy"), new FsPermission(oct("644").toShort))
    }
    assert(nio == hadoop)
    assert(nio("shared") == "2755")
    assert(nio("shared/child") == "2755" && nio("shared/child/grandchild") == "2755")
    assert(nio("shared/legacy") == "644")
  }

  test("a created file keeps its .crc sibling and reads back checksummed") {
    val dir = TempDirs.create("graft_localfs")
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try {
      val p = new Path(dir.toUri.toString, "data.bin")
      write(fs, p)
      assert(Files.exists(dir.resolve(".data.bin.crc")))
      val in = fs.open(p)
      try assert(in.readAllBytes().toSeq == Seq[Byte](1, 2, 3)) finally in.close()
    } finally fs.close()
  }
}
