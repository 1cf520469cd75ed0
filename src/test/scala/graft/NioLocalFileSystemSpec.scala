package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.NioLocalFileSystem

/** The `file:` file system graft sessions bind: modes, sticky bit and
  * `.crc` sidecars as Hadoop's own local file system leaves them.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  /** An uncached instance, so a conf's umask is honoured whatever the
    * JVM's cached `file:` file system is.
    */
  private def newFs(umask: Option[String] = None): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    fs
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Integer] & Integer.parseInt("7777", 8)

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def tempDir(): Path = new Path(Files.createTempDirectory("niolocalfs").toUri)

  test("created files and dirs get Hadoop's default modes under the default umask") {
    val fs = newFs()
    try {
      val dir = new Path(tempDir(), "d")
      assert(fs.mkdirs(dir))
      val f = new Path(dir, "f.bin")
      fs.create(f).close()
      assert(mode(dir) == octal("755"), f"dir mode ${mode(dir)}%o")
      assert(mode(f) == octal("644"), f"file mode ${mode(f)}%o")
    } finally fs.close()
  }

  test("a conf's umask applies: 077 gives 0600 files and 0700 dirs") {
    val fs = newFs(Some("077"))
    try {
      val dir = new Path(tempDir(), "d")
      assert(fs.mkdirs(dir))
      val f = new Path(dir, "f.bin")
      fs.create(f).close()
      assert(mode(dir) == octal("700"), f"dir mode ${mode(dir)}%o")
      assert(mode(f) == octal("600"), f"file mode ${mode(f)}%o")
    } finally fs.close()
  }

  test("setPermission keeps the sticky bit") {
    val fs = newFs()
    try {
      val dir = new Path(tempDir(), "sticky")
      assert(fs.mkdirs(dir))
      fs.setPermission(dir, new FsPermission(octal("1777").toShort))
      assert(mode(dir) == octal("1777"), f"dir mode ${mode(dir)}%o")
    } finally fs.close()
  }

  test("a checksummed create still writes its .crc sidecar") {
    val fs = newFs()
    try {
      val f = new Path(tempDir(), "m.json")
      val out = fs.create(f)
      out.write("{}".getBytes("UTF-8"))
      out.close()
      assert(fs.exists(new Path(f.getParent, ".m.json.crc")), "checksum sidecar")
      val in = fs.open(f)
      try assert(new String(in.readAllBytes(), "UTF-8") == "{}") finally in.close()
    } finally fs.close()
  }

  test("a GraftSession's Hadoop conf binds file: to NioLocalFileSystem") {
    val spark = GraftSession.builder(master = "local[2]", shufflePartitions = 2).getOrCreate()
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
  }
}
