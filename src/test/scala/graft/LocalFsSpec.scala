package graft

import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.tools.EtlCli
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import scala.jdk.CollectionConverters._

/** The `file:` binding of `NioLocalFs.sessionConf`: graft's NIO filesystem
  * answers every metadata call as stock Hadoop does, the session binds it
  * for both `FileSystem` and `FileContext`, and the table commit protocol
  * runs on it without starting a process. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def shape(s: FileStatus) = (s.getPath.toString, s.getLen, s.isDirectory,
    s.isSymlink, s.getPermission, s.getOwner, s.getGroup, s.getModificationTime)

  private def tree(): JPath = {
    val dir = Files.createTempDirectory("localfs")
    Files.createDirectory(dir.resolve("d"))
    Files.write(dir.resolve("f"), "twelve bytes".getBytes("UTF-8"))
    Files.setPosixFilePermissions(dir.resolve("f"), PosixFilePermissions.fromString("rw-r-----"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("f"))
    dir
  }

  test("graft's raw local filesystem reports every status as stock RawLocalFileSystem does") {
    val conf = spark.sessionState.newHadoopConf()
    val stock = new RawLocalFileSystem; stock.initialize(root, conf)
    val nio = new NioRawLocalFileSystem; nio.initialize(root, conf)
    val dir = tree()
    // scheme-less paths: stock reads links through `new File(path.toString)`
    def p(n: String) = new Path(dir.resolve(n).toString)
    for (n <- Seq("d", "f", "link")) {
      assert(shape(nio.getFileStatus(p(n))) == shape(stock.getFileStatus(p(n))), n)
      assert(shape(nio.getFileLinkStatus(p(n))) == shape(stock.getFileLinkStatus(p(n))), n)
    }
    val link = nio.getFileLinkStatus(p("link"))
    assert(link.isSymlink && link.getSymlink == stock.getFileLinkStatus(p("link")).getSymlink)
    assert(nio.getLinkTarget(p("link")) == new Path(dir.resolve("f").toString))
    assert(nio.getFileStatus(p("f")).getPermission.toString == "rw-r-----")
    def listing(fs: RawLocalFileSystem) =
      fs.listStatus(new Path(dir.toString)).map(shape).sortBy(_._1).toSeq
    assert(listing(nio) == listing(stock))
    assert(listing(nio).map(_._4) == Seq(false, false, false)) // listings follow links
    for (fs <- Seq(stock, nio)) {
      intercept[FileNotFoundException](fs.getFileStatus(p("missing")))
      intercept[FileNotFoundException](fs.getFileLinkStatus(p("missing")))
    }
    // a qualified `file:` path names the same link
    assert(nio.getFileLinkStatus(new Path(dir.resolve("link").toUri)).isSymlink)
  }

  test("mkdirs and create leave stock's permission bits, .crc files included") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("localfs_perm")
    def bits(fs: LocalFileSystem, sub: String): Map[String, String] = {
      fs.initialize(root, conf)
      val base = new Path(dir.resolve(sub).toString)
      assert(fs.mkdirs(new Path(base, "a/b")))
      fs.create(new Path(base, "a/b/part")).close()
      val walk = Files.walk(dir.resolve(sub))
      try walk.iterator.asScala.map { x =>
        dir.resolve(sub).relativize(x).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(x))
      }.toMap
      finally walk.close()
    }
    val got = bits(new NioLocalFileSystem, "nio")
    assert(got.keySet == Set("", "a", "a/b", "a/b/part", "a/b/.part.crc"))
    assert(got == bits(new LocalFileSystem, "stock"))
  }

  test("the session binds graft's classes for file: in FileSystem and FileContext") {
    // Hadoop caches one FileSystem per scheme JVM-wide: whichever `file:`
    // instance is created first wins, so this pins the one the suite holds
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf) eq fs)
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("a table and epoch-table round trip starts no process") {
    import spark.implicits._
    val dir = Files.createTempDirectory("localfs_forks").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    // the guard sees a process start when there is one
    assert(LocalFsSpec.processStarts(new ProcessBuilder("true").start().waitFor())._2.size == 1)
    val (counts, starts) = LocalFsSpec.processStarts {
      EtlCli.writeTable(df, s"$dir/t")
      EtlCli.appendEpoch(df, s"$dir/e", 0)
      EtlCli.appendEpoch(df.filter($"id" === 1L), s"$dir/e", 1)
      (EtlCli.readTable(spark, s"$dir/t").count(), EtlCli.readEpochTable(spark, s"$dir/e").count())
    }
    assert(starts.isEmpty, s"process starts: ${starts.mkString("; ")}")
    assert(counts == ((2L, 3L)))
  }
}

object LocalFsSpec {
  /** Run `body` under a JFR recording of `jdk.ProcessStart`; return its
    * value and one line (command and call site) per process the JVM
    * started meanwhile. Starts from a class initializer are left out: they
    * happen once per JVM, in whichever test comes first (Spark's
    * `getconf PAGESIZE` for its first executor-metrics poll, Hadoop's
    * `setsid` probe), and are no per-call cost. */
  def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = body
      rec.stop()
      val file = Files.createTempFile("process_starts", ".jfr")
      try {
        rec.dump(file)
        (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          if (frames.exists(_.endsWith(".<clinit>"))) None
          else Some(s"${e.getString("command")} at ${frames.take(12).mkString(" < ")}")
        })
      } finally Files.delete(file)
    } finally rec.close()
  }
}
