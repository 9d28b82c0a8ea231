package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** graft's `file:` file system ([[GraftLocalFs]]) against Hadoop's
  * stock local file system: the same statuses, exceptions and modes on
  * both Hadoop APIs, installed by the session and by [[Fs]], and
  * streaming checkpoints that keep their `.crc` check and stay
  * readable across the two. */
class GraftLocalFsSpec extends SparkSpec {

  private val LocalUri = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(LocalUri, new Configuration()); fs
  }

  private def afs(impl: Class[_]): AbstractFileSystem = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", impl.getName)
    AbstractFileSystem.get(LocalUri, c)
  }

  /** (stock, graft) pairs, one per face. */
  private lazy val faces: Seq[(String, Path => FileStatus, Path => FileStatus)] = {
    val (sr, gr) = (init(new RawLocalFileSystem), init(new GraftRawLocalFileSystem))
    val (sc, gc) = (init(new LocalFileSystem), init(new GraftLocalFileSystem))
    val (sa, ga) = (afs(classOf[LocalFs]), afs(classOf[GraftLocalFs]))
    Seq(("RawLocalFileSystem", sr.getFileLinkStatus _, gr.getFileLinkStatus _),
      ("LocalFileSystem", sc.getFileLinkStatus _, gc.getFileLinkStatus _),
      ("LocalFs", sa.getFileLinkStatus _, ga.getFileLinkStatus _))
  }

  private def fields(s: FileStatus): Seq[(String, Any)] = Seq(
    "class" -> s.getClass.getName, "path" -> s.getPath, "len" -> s.getLen,
    "dir" -> s.isDirectory, "file" -> s.isFile, "symlink" -> s.isSymlink,
    "target" -> (if (s.isSymlink) s.getSymlink else null),
    "replication" -> s.getReplication, "blockSize" -> s.getBlockSize,
    "mtime" -> s.getModificationTime, "atime" -> s.getAccessTime,
    "permission" -> s.getPermission, "owner" -> s.getOwner, "group" -> s.getGroup)

  test("link statuses equal the stock class's, field by field, on both APIs") {
    val dir = Paths.get(tmpDir("graftfs"))
    val file = Files.write(dir.resolve("f.txt"), "payload".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val cases = Seq("file" -> file, "directory" -> sub, "symlink" -> link, "dangling symlink" -> dangling)
    /** The status's fields, or the exception's class. */
    def outcome(status: => FileStatus): Either[String, Seq[(String, Any)]] =
      try Right(fields(status)) catch { case e: java.io.IOException => Left(e.getClass.getName) }
    var linksSeen = 0
    for {
      (what, p) <- cases
      // a bare path reads the link; a scheme-qualified one never does
      // (nor reaches a dangling link's target), in the stock class as here
      path <- Seq(new Path(p.toString), new Path("file:" + p))
      (face, stock, graft) <- faces
    } {
      val want = outcome(stock(path))
      assert(outcome(graft(path)) === want, s"$face, $what at $path")
      if (want.exists(_.contains("symlink" -> true))) linksSeen += 1
    }
    assert(linksSeen === 2 * faces.length, "each face reports both bare links as links")
  }

  test("a missing path throws FileNotFoundException, as the stock class does") {
    val missing = new Path(tmpDir("graftfs") + "/missing")
    faces.foreach { case (face, stock, graft) =>
      withClue(face) {
        intercept[FileNotFoundException](stock(missing))
        intercept[FileNotFoundException](graft(missing))
      }
    }
    intercept[FileNotFoundException](init(new GraftRawLocalFileSystem).getFileStatus(missing))
  }

  test("setPermission, create and mkdirs leave the stock class's mode bits") {
    val dir = Paths.get(tmpDir("graftfs"))
    val stock = init(new LocalFileSystem)
    val graft = init(new GraftLocalFileSystem)
    def mode(p: Path): Int = Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff
    def both(name: String)(make: (FileSystem, Path) => Unit): (Int, Int) = {
      val (s, g) = (new Path(dir.resolve(s"stock-$name").toUri), new Path(dir.resolve(s"graft-$name").toUri))
      make(stock, s); make(graft, g)
      (mode(s), mode(g))
    }
    Seq(0x180, 0x1a4, 0x1c0, 0x1ed).foreach { m => // 0600 0644 0700 0755
      val (s, g) = both(f"file$m%o") { (fs, p) =>
        fs.create(p).close()
        fs.setPermission(p, new FsPermission(m.toShort))
      }
      assert(s === m)
      assert(g === s, f"0$m%o")
    }
    // a sticky bit takes the stock path
    val (s, g) = both("sticky") { (fs, p) =>
      fs.mkdirs(p)
      fs.setPermission(p, new FsPermission(0x3ed.toShort)) // 01755
    }
    assert(s === 0x3ed && g === s)
    val created = both("created")((fs, p) => fs.create(p).close())
    assert(created._1 === created._2)
    val dirs = both("dirs")((fs, p) => fs.mkdirs(new Path(p, "a/b")))
    assert(dirs._1 === dirs._2)
  }

  test("GraftSession and Fs resolve file: to graft's classes on both APIs") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    Seq("session" -> hadoopConf, "query" -> spark.sessionState.newHadoopConf(), "Fs" -> Fs.conf)
      .foreach { case (who, conf) =>
        assert(FileSystem.get(LocalUri, conf).getClass === classOf[GraftLocalFileSystem], who)
        assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[GraftRawLocalFileSystem], who)
        assert(AbstractFileSystem.get(LocalUri, conf).getClass === classOf[GraftLocalFs], who)
      }
    assert(Fs.get(tmpDir("graftfs"))._1.getClass === classOf[GraftLocalFileSystem])
  }

  /** A stateful file-to-parquet stream: distinct `v`s of the JSON
    * lines in `in`, run to the end of its input on `ckpt`. */
  private def runDistinct(session: SparkSession, in: String, ckpt: String, out: String): Unit = {
    val q = session.readStream.schema("v LONG").json(in).dropDuplicates("v")
      .writeStream.format("parquet").option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  private def land(in: String, name: String, vs: Seq[Long]): Unit =
    Files.write(Paths.get(in, name), vs.map(v => s"""{"v":$v}""").mkString("", "\n", "\n").getBytes("UTF-8"))

  private def sinkValues(out: String): Seq[Long] =
    spark.read.parquet(out).collect().map(_.getLong(0)).toSeq.sorted

  test("a flipped byte in an offset-log file fails the restart with a checksum error") {
    val (in, ckpt, out) = (tmpDir("graftfs_in"), tmpDir("graftfs_ckpt"), tmpDir("graftfs_out") + "/sink")
    land(in, "a.json", Seq(1L, 2L, 2L, 3L))
    runDistinct(spark, in, ckpt, out)
    assert(sinkValues(out) === Seq(1L, 2L, 3L))
    val offsets = Paths.get(ckpt, "offsets")
    val latest = Files.list(offsets).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Seq(offsets.resolve(s".$latest.crc"), Paths.get(ckpt, "commits", s".$latest.crc"))
      .foreach(c => assert(Files.exists(c), s"no checksum sidecar $c"))
    val stateCrcs = Files.walk(Paths.get(ckpt, "state")).toArray.map(_.toString)
      .filter(_.endsWith(".delta.crc"))
    assert(stateCrcs.nonEmpty, "no checksum sidecar beside the state store's delta files")
    val bytes = Files.readAllBytes(offsets.resolve(latest))
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(offsets.resolve(latest), bytes)
    land(in, "b.json", Seq(4L))
    val e = intercept[Exception](runDistinct(spark, in, ckpt, out))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e.toString)
  }

  test("a query restarts from a checkpoint the stock local file system wrote") {
    val stock = spark.newSession()
    stock.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stock.conf.set("fs.file.impl.disable.cache", "true")
    stock.conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val stockConf = stock.sessionState.newHadoopConf()
    assert(FileSystem.get(LocalUri, stockConf).getClass === classOf[LocalFileSystem])
    assert(AbstractFileSystem.get(LocalUri, stockConf).getClass === classOf[LocalFs])

    val (in, ckpt, out) = (tmpDir("graftfs_in"), tmpDir("graftfs_ckpt"), tmpDir("graftfs_out") + "/sink")
    land(in, "a.json", Seq(5L, 1L, 5L, 7L))
    runDistinct(stock, in, ckpt, out)
    land(in, "b.json", Seq(7L, 8L, 1L, 9L))
    runDistinct(spark, in, ckpt, out)
    // the restored state drops the repeats of the first run's values
    assert(sinkValues(out) === Seq(1L, 5L, 7L, 8L, 9L))
  }
}
