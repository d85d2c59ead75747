package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The `file:` filesystem `GraftSession` installs: it must start no
  * process per file, and every file, `.crc`, mode and link status it
  * produces must be what the stock `file:` class produces. */
class ForkFreeLocalFsSpec extends SparkSpec {

  private val localUri = URI.create("file:///")

  /** The `file:` class a plain Hadoop configuration resolves. */
  private def stockFs(conf: Configuration = new Configuration()): FileSystem =
    FileSystem.newInstance(localUri, conf)

  private def graftFs(conf: Configuration = new Configuration()): FileSystem = {
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(localUri, conf)
    fs
  }

  /** Command lines of the processes the JVM started while `body` ran,
    * leaving out those a `java.lang.ref.Cleaner` started: garbage
    * collection runs them for objects dropped at any earlier time (Spark
    * deletes a collected session's artifact directory with `rm -rf`). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName == "jdk.internal.ref.CleanerImpl")))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("GraftSession resolves file: to the fork-free classes for FileSystem.get and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(localUri, conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(new Path(tmpDir("ff-resolve")).getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(localUri, conf).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    // the stock class the equivalence tests below compare against
    assert(stockFs().getClass.getName == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")
  }

  test("a partitioned parquet write and a checkpointed foreachBatch micro-batch start no process") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def writes(): Unit = {
      spark.range(0, 400).selectExpr("id", "id % 4 AS y", "id % 3 AS m")
        .write.partitionBy("y", "m").parquet(tmpDir("ff-parquet") + "/out")
      val ms = MemoryStream[Long]
      val sink = tmpDir("ff-sink")
      val q = ms.toDS().toDF("id").writeStream
        .option("checkpointLocation", tmpDir("ff-cp"))
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.selectExpr("id", "id % 4 AS y").write.mode("append").partitionBy("y").parquet(sink)
        }
        .start()
      try {
        ms.addData(1L to 20L)
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.read.parquet(sink).count() == 20)
    }
    // Once-per-JVM process starts stay out of the window; neither is per
    // file. One untraced round runs first: a JVM's first use of Hadoop's
    // `Shell` probes `setsid`. Spark's executor metrics run `getconf
    // PAGESIZE` when the heartbeat first polls them, whenever that lands,
    // so that object is initialized here.
    writes()
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val started = processStarts(writes())
    assert(started.isEmpty, s"process starts: ${started.mkString("; ")}")
  }

  test("negative control: the stock file: class starts processes for the same creates") {
    val fs = stockFs()
    val root = tmpDir("ff-stock")
    val started = processStarts {
      (1 to 5).foreach { i =>
        val out = fs.create(new Path(s"$root/f$i"))
        try out.write(i) finally out.close()
      }
    }
    fs.close()
    assert(started.nonEmpty, "the recorder must see the stock class's chmod forks")
  }

  test("files, .crc siblings and modes match the stock class through FileSystem and FileContext") {
    for (umask <- Seq("022", "027")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def layout(fs: FileSystem, fc: FileContext): Seq[(String, Int)] = {
        val root = tmpDir("ff-modes")
        fs.mkdirs(new Path(s"$root/a/b/c"))
        val out = fs.create(new Path(s"$root/a/b/c/data.bin"))
        try out.write(Array.fill[Byte](100)(7)) finally out.close()
        fc.mkdir(new Path(s"$root/x/y"), FsPermission.getDirDefault, true)
        val fco = fc.create(new Path(s"$root/x/y/tmp.bin"), EnumSet.of(CreateFlag.CREATE))
        try fco.write(Array.fill[Byte](100)(9)) finally fco.close()
        fc.rename(new Path(s"$root/x/y/tmp.bin"), new Path(s"$root/x/y/log.bin"), Options.Rename.NONE)
        val rootPath = Paths.get(root)
        Files.walk(rootPath).iterator().asScala.toSeq.filterNot(_ == rootPath)
          .map(p => rootPath.relativize(p).toString -> mode(p.toString)).sortBy(_._1)
      }
      val stock = layout(stockFs(conf), FileContext.getFileContext(localUri, conf))
      val graftConf = new Configuration(conf)
      graftConf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      val graft = layout(graftFs(conf), FileContext.getFileContext(localUri, graftConf))
      assert(stock.map(_._1).contains("a/b/c/.data.bin.crc"))
      assert(stock.map(_._1).contains("x/y/.log.bin.crc"))
      assert(graft == stock, s"umask $umask")
    }
  }

  test("getFileLinkStatus matches the stock class on files, links, dangling links and missing paths") {
    val root = tmpDir("ff-links")
    Files.write(Paths.get(s"$root/file"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    Files.createSymbolicLink(Paths.get(s"$root/dangling"), Paths.get(s"$root/gone"))
    val (stock, graft) = (stockFs(), graftFs())
    def status(fs: FileSystem, p: Path): Either[String, (Boolean, Option[Path], Boolean, Long)] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.isFile, s.getLen))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for (name <- Seq("file", "link", "dangling", "missing"); qualify <- Seq(false, true)) {
      val p = if (qualify) new Path(s"file:$root/$name") else new Path(s"$root/$name")
      assert(status(graft, p) == status(stock, p), s"$p")
    }
    // the unqualified forms show real link detection, not two matching misses
    assert(status(graft, new Path(s"$root/link")).exists(_._1))
    assert(status(graft, new Path(s"$root/dangling")).exists(_._1))
    assert(status(graft, new Path(s"$root/missing")).isLeft)
  }

  test("a sticky-bit mode still lands, as with the stock class") {
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    for (fs <- Seq(stockFs(), graftFs())) {
      val dir = tmpDir("ff-sticky")
      fs.setPermission(new Path(dir), sticky)
      assert(mode(dir) == Integer.parseInt("1777", 8), fs.getClass.getName)
    }
  }

  test("rename onto an existing file and chmod of a missing path fail as with the stock class") {
    for (fs <- Seq(stockFs(), graftFs())) {
      val root = tmpDir("ff-rename")
      Files.write(Paths.get(s"$root/src"), Array[Byte](1))
      Files.write(Paths.get(s"$root/dst"), Array[Byte](2))
      assert(!fs.rename(new Path(s"$root/src"), new Path(s"$root/dst")), fs.getClass.getName)
      assert(Files.readAllBytes(Paths.get(s"$root/dst")).toSeq == Seq[Byte](2))
      intercept[IOException](fs.setPermission(new Path(s"$root/missing"), FsPermission.getFileDefault))
    }
  }
}
