package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Local writes go through [[PosixLocalFileSystem]] and leave the modes
  * Hadoop's default file system leaves: files 644, directories 755, with
  * their `.crc` checksums. */
class PosixLocalFileSystemSpec extends SparkSpec {

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def withTempDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("posix-fs")
    try body(dir)
    finally Files.walk(dir).iterator.asScala.toList.reverse.foreach(Files.delete)
  }

  test("a partitioned parquet write: the graft FS, files 644, directories 755") {
    import spark.implicits._
    withTempDir { dir =>
      val out = dir.resolve("t")
      val fs = new Path(out.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.getClass == classOf[PosixLocalFileSystem])
      Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "p")
        .write.partitionBy("p").parquet(out.toString)
      val (dirs, files) = Files.walk(out).iterator.asScala.toList.partition(Files.isDirectory(_))
      assert(dirs.map(d => out.relativize(d).toString).sorted == List("", "p=a", "p=b"))
      assert(dirs.forall(mode(_) == "rwxr-xr-x"), dirs.map(d => s"$d ${mode(d)}"))
      assert(files.exists(_.toString.endsWith(".parquet")))
      assert(files.exists(_.toString.endsWith(".parquet.crc")))
      assert(files.forall(mode(_) == "rw-r--r--"), files.map(f => s"$f ${mode(f)}"))
      assert(spark.read.parquet(out.toString).count() == 3L)
    }
  }

  test("setPermission: rwx bits set in process, a sticky bit through the inherited path") {
    withTempDir { dir =>
      val fs = new Path(dir.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val f = dir.resolve("f")
      Files.createFile(f)
      fs.setPermission(new Path(f.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
      assert(mode(f) == "rw-r-----")
      val d = Files.createDirectory(dir.resolve("d"))
      fs.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0xfff) ==
        Integer.parseInt("1755", 8))
    }
  }
}
