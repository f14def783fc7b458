package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

class PosixLocalFileSystemSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-posixfs-")

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def assertMode(p: JPath, perm: FsPermission): Unit =
    assert(Files.getPosixFilePermissions(p) == PosixFilePermissions.fromString(perm.toString),
      s"$p: expected $perm")

  /** A fresh (uncached) `file:` FileSystem over the session's Hadoop conf. */
  private def withFs[T](edit: Configuration => Unit)(f: FileSystem => T): T = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    edit(conf)
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try f(fs) finally fs.close()
  }

  test("the session's file: FileSystem is PosixLocalFileSystem") {
    val p = new Path(dir.toUri)
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).isInstanceOf[PosixLocalFileSystem])
    assert(p.getFileSystem(spark.sessionState.newHadoopConf()).isInstanceOf[PosixLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).isInstanceOf[PosixLocalFileSystem])
  }

  test("mkdirs and create give Hadoop's default modes under the configured umask, as the stock fs does") {
    for (umask <- Seq("022", "027", "077");
         impl <- Seq(classOf[PosixLocalFileSystem], classOf[LocalFileSystem])) {
      withFs { c =>
        c.set(FsPermission.UMASK_LABEL, umask)
        c.set("fs.file.impl", impl.getName)
      } { fs =>
        assert(fs.getClass == impl)
        val masked = FsPermission.getUMask(fs.getConf)
        val top = dir.resolve(s"${impl.getSimpleName}-$umask")
        val leaf = top.resolve("date=2024-01-01").resolve("hour=00")
        assert(fs.mkdirs(new Path(leaf.toUri)))
        Seq(top, top.resolve("date=2024-01-01"), leaf)
          .foreach(assertMode(_, FsPermission.getDirDefault.applyUMask(masked)))
        fs.create(new Path(leaf.resolve("part.parquet").toUri)).close()
        Seq(leaf.resolve("part.parquet"), leaf.resolve(".part.parquet.crc"))
          .foreach(assertMode(_, FsPermission.getFileDefault.applyUMask(masked)))
      }
    }
  }

  test("explicit rwx modes round-trip in-process") {
    withFs(_ => ()) { fs =>
      val file = dir.resolve("explicit.bin")
      fs.create(new Path(file.toUri)).close()
      Seq("600", "700", "444", "751").map(octal).foreach { perm =>
        fs.setPermission(new Path(file.toUri), perm)
        assertMode(file, perm)
        assertMode(dir.resolve(".explicit.bin.crc"), perm)
      }
      assert(octal("600").toString == "rw-------" && octal("444").toString == "r--r--r--")
    }
  }

  test("a mode with the sticky bit goes to Hadoop's own setPermission") {
    withFs(_ => ()) { fs =>
      val d = Files.createDirectory(dir.resolve("sticky"))
      fs.setPermission(new Path(d.toUri), octal("1755"))
      // nio cannot set the sticky bit: seeing it proves the chmod path ran
      assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0x1ff) == 0x1ed)
      assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0x200) != 0)
    }
  }
}
