package graft.queries

import graft.{GraftLocalFileSystem, GraftRawLocalFileSystem, SparkSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** [[GraftLocalFileSystem]] behaves as stock Hadoop's local filesystem
  * does, without a child process per call: the modes it sets, the link
  * status it answers, the exceptions it throws, and the modes a parquet
  * write and a streaming replay leave behind. Stock Hadoop runs beside it
  * in the same JVM, through an uncached `LocalFileSystem`. (In
  * `graft.queries` for [[StreamingQueries.replay]].)
  */
class LocalFilesSpec extends SparkSpec {

  private lazy val fs: FileSystem = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
  private lazy val stock: FileSystem = {
    val s = new LocalFileSystem()
    s.initialize(URI.create("file:///"), new Configuration())
    s
  }
  /** Hadoop settings under which Spark opens stock local files. */
  private val stockConf = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private def tmp(prefix: String): JPath = Files.createTempDirectory(s"graft-local-files-$prefix")
  private def hpath(p: JPath): Path = new Path(p.toUri)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  /** Relative path → mode of everything under `root`, names with a UUID
    * in them normalized (part files and checkpoint temp files).
    */
  private def modes(root: JPath): Map[String, String] =
    scala.util.Using.resource(Files.walk(root))(_.iterator.asScala.toList).map { p =>
      root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        f"${mode(p)}%04o"
    }.toMap

  test("the session's file: filesystem is GraftLocalFileSystem") {
    assert(fs.getClass === classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[GraftRawLocalFileSystem])
    assert(FileSystem.get(URI.create("file:///"),
      spark.sessionState.newHadoopConfWithOptions(stockConf)).getClass === classOf[LocalFileSystem])
  }

  test("modes 0600, 0644, 0700 and 0755 round-trip on files and directories") {
    val d = tmp("modes")
    val file = Files.createFile(d.resolve("f"))
    val sub = Files.createDirectory(d.resolve("d"))
    for (m <- Seq("600", "644", "700", "755"); p <- Seq(file, sub)) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      fs.setPermission(hpath(p), perm)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) === perm.toString, s"$m on $p")
    }
  }

  test("a sticky-bit mode takes the stock chmod path") {
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    assert(GraftRawLocalFileSystem.posix(sticky).isEmpty)
    val d = Files.createDirectory(tmp("sticky").resolve("d"))
    fs.setPermission(hpath(d), sticky)
    assert(f"${mode(d)}%04o" === "1777")
  }

  test("getFileLinkStatus answers as stock Hadoop for a file, a directory, a symlink and a dangling symlink") {
    val d = tmp("links")
    val file = Files.write(d.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(d.resolve("d"))
    val link = Files.createSymbolicLink(d.resolve("l"), file)
    val dangling = Files.createSymbolicLink(d.resolve("x"), d.resolve("missing"))
    /** The status's fields, or the class of what it threw. */
    def answer(f: FileSystem, p: Path): Either[Class[_], Any] =
      scala.util.Try(f.getFileLinkStatus(p)).toEither.left.map(_.getClass).map(s =>
        (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None,
          s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
    // both path forms: stock Hadoop's `readlink` sees a `file:` URI as a
    // missing file, so it reports a link it is given that way as its target
    for (p <- Seq(file, sub, link, dangling); path <- Seq(new Path(p.toString), hpath(p)))
      assert(answer(fs, path) === answer(stock, path), path)
    assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(fs.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("a missing path throws the exception class stock Hadoop throws") {
    val missing = hpath(tmp("missing").resolve("none"))
    def thrown(body: => Unit): Class[_] = intercept[Exception](body).getClass
    assert(thrown(fs.getFileLinkStatus(missing)) === thrown(stock.getFileLinkStatus(missing)))
    val perm = new FsPermission(Integer.parseInt("644", 8).toShort)
    assert(thrown(fs.setPermission(missing, perm)) === thrown(stock.setPermission(missing, perm)))
  }

  test("a parquet write leaves the same file and directory modes as stock Hadoop") {
    val (graft, plain) = (tmp("write-graft").resolve("t"), tmp("write-stock").resolve("t"))
    val df = spark.range(10).toDF("id").repartition(2)
    df.write.parquet(graft.toString)
    df.write.options(stockConf).parquet(plain.toString)
    val got = modes(graft)
    assert(got.size > 4, got)
    assert(got === modes(plain))
  }

  test("a 3-part replay leaves the same file and directory modes as stock Hadoop") {
    /** Checkpoint and body output of a 3-part replay on `s`. */
    def run(s: SparkSession, name: String): JPath = {
      val root = tmp(name)
      s.conf.set("spark.sql.streaming.checkpointLocation", root.resolve("ckpt").toString)
      val parts: Seq[DataFrame] = (0L until 3L).map(b => s.range(b * 10L, b * 10L + 3).toDF("id"))
      StreamingQueries.replay("local-files-spec", name, parts) { (batch, b) =>
        batch.write.parquet(root.resolve(s"out/v$b").toString)
      }
      root
    }
    val plainSession = spark.newSession()
    (stockConf + ("spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"))
      .foreach { case (k, v) => plainSession.conf.set(k, v) }
    val graft = modes(run(spark.newSession(), "graft"))
    val plain = modes(run(plainSession, "stock"))
    assert(graft.keys.exists(_.startsWith("ckpt/")) && graft.keys.exists(_.startsWith("out/v2/")), graft)
    assert(graft === plain)
  }
}
