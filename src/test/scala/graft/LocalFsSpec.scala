package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[LocalFs]] against stock Hadoop: the same permissions on disk and
  * the same link statuses through both filesystems, and
  * [[SessionTuning.tune]] installs it once.
  */
class LocalFsSpec extends SparkSpec {
  private val conf = new Configuration()
  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private lazy val stock    = initialized(new LocalFileSystem())
  private lazy val forkFree = initialized(new LocalFs.Local)

  /** Runs `op` once per filesystem, each in a fresh directory, and returns
    * what `observe` reads back in each.
    */
  private def both[T](op: (FileSystem, java.nio.file.Path) => Unit)(
      observe: java.nio.file.Path => T): (T, T) = {
    def run(fs: FileSystem) = {
      val dir = Files.createTempDirectory("localfs")
      op(fs, dir)
      observe(dir)
    }
    (run(stock), run(forkFree))
  }
  private def hp(p: java.nio.file.Path) = new Path(p.toString)
  private def modes(dir: java.nio.file.Path, names: String*) =
    names.map(n => n -> java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(dir.resolve(n))))

  describe("LocalFs.Raw") {
    it("leaves the permissions stock Hadoop leaves on create, mkdirs and setPermission") {
      val (s, f) = both { (fs, dir) =>
        fs.create(hp(dir.resolve("a"))).close()
        fs.mkdirs(hp(dir.resolve("d")), new FsPermission(Integer.parseInt("750", 8).toShort))
        fs.create(hp(dir.resolve("b"))).close()
        fs.setPermission(hp(dir.resolve("b")), new FsPermission(Integer.parseInt("600", 8).toShort))
        fs.create(hp(dir.resolve("c"))).close()
        fs.setPermission(hp(dir.resolve("c")), new FsPermission(Integer.parseInt("750", 8).toShort))
      }(dir => modes(dir, "a", ".a.crc", "d", "b", "c"))
      f shouldBe s
      s.toMap.apply("b") shouldBe "rw-------"
      s.toMap.apply("c") shouldBe "rwxr-x---"
      s.toMap.apply("d") shouldBe "rwxr-x---"
    }

    it("reports link statuses as stock Hadoop does") {
      val dir    = Files.createTempDirectory("localfs_link")
      val target = Files.write(dir.resolve("target"), "x".getBytes("UTF-8"))
      val link   = Files.createSymbolicLink(dir.resolve("link"), target)
      Seq(stock, forkFree).foreach { fs =>
        val st = fs.getFileLinkStatus(hp(link))
        st.isSymlink shouldBe true
        Paths.get(st.getSymlink.toUri.getPath) shouldBe target
        fs.getFileLinkStatus(hp(target)).toString shouldBe fs.getFileStatus(hp(target)).toString
        a[FileNotFoundException] should be thrownBy fs.getFileLinkStatus(hp(dir.resolve("missing")))
      }
      forkFree.getFileLinkStatus(hp(link)).toString shouldBe stock.getFileLinkStatus(hp(link)).toString
      forkFree.getFileLinkStatus(hp(target)).toString shouldBe stock.getFileLinkStatus(hp(target)).toString
    }
  }

  describe("SessionTuning.tune") {
    it("installs LocalFs for FileSystem and FileContext, and a second tune keeps the instance") {
      val hc = spark.sparkContext.hadoopConfiguration
      SessionTuning.tune(spark)
      val installed = FileSystem.getLocal(hc)
      installed shouldBe a[LocalFs.Local]
      AbstractFileSystem.get(URI.create("file:///"), hc) shouldBe a[LocalFs.Fs]
      SessionTuning.tune(spark)
      FileSystem.getLocal(hc) should be theSameInstanceAs installed
      FileSystem.getLocal(new Configuration()) should be theSameInstanceAs installed
    }
  }
}
