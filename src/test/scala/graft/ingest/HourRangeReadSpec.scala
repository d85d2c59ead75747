package graft.ingest

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.{ForkFreeLocalFileSystem, SparkSpec}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The `file:` filesystem with every `listStatus` call recorded. */
class ListingCountingFileSystem extends ForkFreeLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    ListingCountingFileSystem.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
}

object ListingCountingFileSystem {
  val listed = new ConcurrentLinkedQueue[String]()
}

/** `TimeKeys.readHourRange` as a key-prefix read: the same rows and
  * schema as the whole-tree read `spark.read.parquet(root).filter(hourRange)`,
  * the schema Spark infers for the directories it chose, a listing
  * bounded by the range, and no Spark job before the query's own. */
class HourRangeReadSpec extends SparkSpec {
  import spark.implicits._

  /** A sink holding one row per `yyyy-MM-dd HH` hour, in the key layout. */
  private def sinkOf(hours: Seq[String], dir: String = s"${tmpDir("hours")}/sink"): String = {
    val rows = hours.zipWithIndex.map { case (h, i) => (i.toLong, s"$h:30:00") }
      .toDF("id", "raw").select($"id", $"raw".cast("timestamp").as("ts"))
    TimeKeys.withUtcKeys(rows, $"ts").coalesce(1)
      .write.mode("append").partitionBy(TimeKeys.PartitionColumns: _*).parquet(dir)
    dir
  }

  private def wholeTree(s: SparkSession, root: String, from: String, to: String): DataFrame =
    s.read.parquet(root).filter(TimeKeys.hourRange(from, to))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The directories the read lists, relative to `root` ("" for the root). */
  private def readPaths(df: DataFrame, root: String): Seq[String] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toUri.getPath) }
      .flatten.map(_.stripPrefix(root).stripPrefix("/")).sorted

  /** Spark's own schema inference for the directories `got` read. */
  private def inferred(s: SparkSession, got: DataFrame, root: String) =
    s.read.option("basePath", root).parquet(readPaths(got, root).map(p => s"$root/$p"): _*).schema

  /** Same rows and schema as the whole-tree read, and the schema Spark
    * infers for the chosen paths; returns those paths. */
  private def checkRange(root: String, from: String, to: String, s: SparkSession = spark): Seq[String] = {
    val got = TimeKeys.readHourRange(s, root, from, to)
    val want = wholeTree(s, root, from, to)
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    assert(got.schema == inferred(s, got, root))
    readPaths(got, root)
  }

  test("a range with missing hours reads the whole-tree rows from its day directories") {
    val root = sinkOf(Seq("2024-03-01 08", "2024-03-01 09", "2024-03-01 11", "2024-03-01 14",
      "2024-03-02 01", "2024-03-04 05"))
    assert(checkRange(root, "2024-03-01 09", "2024-03-02 03") ==
      Seq("y=2024/m=03/d=01", "y=2024/m=03/d=02"))
    // the middle day is missing: only the days that exist are read
    assert(checkRange(root, "2024-03-02 12", "2024-03-04 23") ==
      Seq("y=2024/m=03/d=02", "y=2024/m=03/d=04"))
    assert(TimeKeys.readHourRange(spark, root, "2024-03-01 09", "2024-03-02 03").count() == 4)
  }

  test("a range where no directory exists is empty with the whole sink's schema") {
    val root = sinkOf(Seq("2024-03-01 08", "2024-03-02 01"))
    for ((from, to) <- Seq("2025-01-01 00" -> "2025-01-01 05", "2024-03-03 00" -> "2024-03-03 23")) {
      val got = TimeKeys.readHourRange(spark, root, from, to)
      assert(readPaths(got, root) == Seq("y=2024/m=03/d=01"))
      assert(got.schema == wholeTree(spark, root, from, to).schema)
      assert(got.schema.fieldNames.toSeq == Seq("id", "ts", "y", "m", "d", "h"))
      assert(got.count() == 0)
    }
    // d=01 exists, but holds no hour in range: read as a prefix, filtered to nothing
    assert(checkRange(root, "2024-03-01 09", "2024-03-01 23") == Seq("y=2024/m=03/d=01"))
    // a missing sink fails as the whole-tree read does
    val missing = s"${tmpDir("none")}/sink"
    intercept[AnalysisException](wholeTree(spark, missing, "2024-03-01 00", "2024-03-01 01"))
    intercept[AnalysisException](TimeKeys.readHourRange(spark, missing, "2024-03-01 00", "2024-03-01 01"))
  }

  test("ranges across a month and a year boundary") {
    val root = sinkOf(Seq("2023-12-31 22", "2023-12-31 23", "2024-01-01 00", "2024-01-01 01",
      "2024-01-31 23", "2024-02-01 00", "2024-02-01 01"))
    assert(checkRange(root, "2023-12-31 23", "2024-01-01 00") ==
      Seq("y=2023/m=12/d=31", "y=2024/m=01/d=01"))
    assert(checkRange(root, "2024-01-31 23", "2024-02-01 00") ==
      Seq("y=2024/m=01/d=31", "y=2024/m=02/d=01"))
    assert(TimeKeys.readHourRange(spark, root, "2023-12-31 23", "2024-02-01 00").count() == 5)

    // With a threshold of 1 path, two days step up to their months, two
    // months to their years, and two years to the sink root.
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")
    assert(checkRange(root, "2024-01-31 23", "2024-02-01 00", narrow) == Seq("y=2024"))
    assert(checkRange(root, "2023-12-31 23", "2024-01-01 00", narrow) == Seq(""))
    assert(checkRange(root, "2024-01-01 00", "2024-01-01 01", narrow) == Seq("y=2024/m=01/d=01"))
  }

  test("a range of more days than the listing threshold reads month directories") {
    val days = (0 until 40).map(i => java.time.LocalDate.of(2024, 1, 10).plusDays(i.toLong))
    val root = sinkOf(days.map(d => s"$d 07"))
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "32")
    assert(checkRange(root, "2024-01-05 00", "2024-02-28 23") == Seq("y=2024/m=01", "y=2024/m=02"))
    assert(checkRange(root, "2024-01-20 00", "2024-02-10 23").size == 22)
  }

  test("a drifted sink reads its range's schema, and falls back to the whole tree under mergeSchema") {
    val root = sinkOf(Seq("2024-05-01 00", "2024-05-01 01", "2024-05-01 02"))
    val drifted = Seq((10L, "2024-05-02 00:30:00", "x"), (11L, "2024-05-02 01:30:00", "y"))
      .toDF("id", "raw", "note").select($"id", $"raw".cast("timestamp").as("ts"), $"note")
    TimeKeys.withUtcKeys(drifted, $"ts").coalesce(1)
      .write.mode("append").partitionBy(TimeKeys.PartitionColumns: _*).parquet(root)

    // mergeSchema off: the range's own first footer, as Spark infers it
    val across = TimeKeys.readHourRange(spark, root, "2024-05-01 01", "2024-05-02 01")
    assert(across.schema == inferred(spark, across, root))
    assert(!across.schema.fieldNames.contains("note"))
    val later = TimeKeys.readHourRange(spark, root, "2024-05-02 00", "2024-05-02 01")
    assert(later.schema == inferred(spark, later, root))
    assert(later.schema.fieldNames.contains("note"))
    assert(rows(later.select("id", "note")) == Seq("[10,x]", "[11,y]"))

    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val got = TimeKeys.readHourRange(merging, root, "2024-05-01 01", "2024-05-02 01")
    assert(readPaths(got, root) == Seq(""))
    assert(got.schema == wholeTree(merging, root, "2024-05-01 01", "2024-05-02 01").schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "ts", "note", "y", "m", "d", "h"))
    assert(rows(got) == rows(wholeTree(merging, root, "2024-05-01 01", "2024-05-02 01")))
  }

  test("a directory outside the key layout sends the read back to the whole tree") {
    val root = sinkOf(Seq("2024-03-01 08", "2024-03-02 01"))
    // an unpadded month still matches the hour filter, so it must be read
    val src = sinkOf(Seq("2024-03-01 09"), s"${tmpDir("stray")}/sink")
    val file = Files.walk(Paths.get(src)).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val stray = Paths.get(root, "y=2024", "m=3", "d=01", "h=09")
    Files.createDirectories(stray)
    Files.copy(file, stray.resolve(file.getFileName))
    assert(checkRange(root, "2024-03-01 00", "2024-03-01 23") == Seq(""))
    assert(TimeKeys.readHourRange(spark, root, "2024-03-01 00", "2024-03-01 23").count() == 2)
  }

  test("rows with no event time (null keys) stay out of every range without a whole-tree read") {
    val root = sinkOf(Seq("2024-03-01 08", "2024-03-02 01"))
    TimeKeys.withUtcKeys(Seq((9L, Option.empty[String])).toDF("id", "raw")
      .select($"id", $"raw".cast("timestamp").as("ts")), $"ts")
      .write.mode("append").partitionBy(TimeKeys.PartitionColumns: _*).parquet(root)
    assert(Files.isDirectory(Paths.get(root, "y=__HIVE_DEFAULT_PARTITION__")))
    assert(spark.read.parquet(root).count() == 3)
    assert(checkRange(root, "2024-03-01 00", "2024-03-02 23") ==
      Seq("y=2024/m=03/d=01", "y=2024/m=03/d=02"))
    assert(TimeKeys.readHourRange(spark, root, "2024-03-01 00", "2024-03-02 23").count() == 2)
  }

  test("a streaming file-sink log at the root is honoured: the read falls back to the whole tree") {
    implicit val ctx = spark.sqlContext
    val (root, cp) = (s"${tmpDir("filesink")}/sink", tmpDir("cp"))
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = TimeKeys.withUtcKeys(ms.toDF().select($"_1".as("id"), $"_2".cast("timestamp").as("ts")), $"ts")
      .writeStream.format("parquet").partitionBy(TimeKeys.PartitionColumns: _*)
      .option("checkpointLocation", cp).start(root)
    try {
      ms.addData((1L, "2024-03-01 08:30:00"), (2L, "2024-03-01 09:30:00"))
      q.processAllAvailable()
    } finally q.stop()
    // a file no batch committed, as an aborted task leaves it: the log
    // leaves it out of the sink
    val hour = Paths.get(root, "y=2024", "m=03", "d=01", "h=08")
    val file = Files.list(hour).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    Files.copy(file, hour.resolve("part-uncommitted.parquet"))
    assert(checkRange(root, "2024-03-01 00", "2024-03-01 23") == Seq(""))
    assert(TimeKeys.readHourRange(spark, root, "2024-03-01 00", "2024-03-01 23").count() == 2)
  }

  test("bad hours fail loudly with the argument's name and value") {
    val root = s"${tmpDir("none")}/sink"
    for (bad <- Seq("2024-13-40 25", "2024-02-30 10", "2024-01-01 24", "2024-3-1 9", "2024-01-01", null)) {
      val e1 = intercept[IllegalArgumentException](TimeKeys.hourRange("2024-01-01 00", bad))
      assert(e1.getMessage.contains("toHour") && e1.getMessage.contains(s"'$bad'"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](TimeKeys.readHourRange(spark, root, bad, "2024-01-01 00"))
      assert(e2.getMessage.contains("fromHour") && e2.getMessage.contains(s"'$bad'"), e2.getMessage)
    }
    val e = intercept[IllegalArgumentException](TimeKeys.readHourRange(spark, root, "2024-01-02 00", "2024-01-01 23"))
    assert(e.getMessage.contains("'2024-01-02 00'") && e.getMessage.contains("after"), e.getMessage)
    intercept[IllegalArgumentException](TimeKeys.hourRange("2024-01-01 01", "2024-01-01 00"))
    // a leap day and a one-hour range are fine
    assert(TimeKeys.hourRange("2024-02-29 23", "2024-02-29 23") != null)
  }

  /** Spark jobs started on this thread while `f` runs. */
  private def jobsDuring(f: => Unit): Int = {
    val group = s"read-${System.nanoTime()}"
    val groups = new ConcurrentHashMap[Int, String]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.put(e.jobId, Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.add(e.jobId); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "read under test")
      try f finally sc.clearJobGroup()
      // The bus delivers in order: once a later marker job has ended, every
      // job start of the read has been seen.
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def markerEnded = groups.asScala.exists { case (id, g) => g == s"$group-marker" && ended.contains(id) }
      while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerEnded, "the marker job's end never reached the listener")
      groups.asScala.count(_._2 == group)
    } finally sc.removeSparkListener(listener)
  }

  test("the listing is bounded by the range's days and the read starts no listing or schema job") {
    val days = (0 until 60).map(i => java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))
    val root = sinkOf(for (d <- days; h <- 0 until 24) yield f"$d ${h}%02d")
    val counted = spark.newSession()
    counted.conf.set("fs.file.impl", classOf[ListingCountingFileSystem].getName)
    counted.conf.set("fs.file.impl.disable.cache", "true")
    val listed = ListingCountingFileSystem.listed
    val rangeDays = Seq("y=2024/m=02/d=14", "y=2024/m=02/d=15")

    listed.clear()
    var got: DataFrame = null
    assert(jobsDuring { got = TimeKeys.readHourRange(counted, root, "2024-02-14 22", "2024-02-15 01") } == 0)
    val paths = listed.asScala.toSeq.map(_.stripPrefix(root).stripPrefix("/"))
    // The walk lists the root, its year and its month, Spark lists each
    // range day and its 24 hours, and the footer choice one day and hour.
    assert(paths.forall(p => Set("", "y=2024", "y=2024/m=02")(p) || rangeDays.exists(p.startsWith)), paths)
    assert(paths.size <= 3 + rangeDays.size * 25 + 2, s"${paths.size} listings: $paths")
    assert(got.count() == 4)

    // An empty range: the walk lists the root, then the root, first year
    // and first month again down to the first day, which Spark lists with
    // its hours and the footer choice with its first hour.
    listed.clear()
    var empty: DataFrame = null
    assert(jobsDuring { empty = TimeKeys.readHourRange(counted, root, "2025-01-01 00", "2025-01-01 05") } == 0)
    val emptyPaths = listed.asScala.toSeq.map(_.stripPrefix(root).stripPrefix("/"))
    assert(emptyPaths.forall(p => Set("", "y=2024", "y=2024/m=01")(p) || p.startsWith("y=2024/m=01/d=01")), emptyPaths)
    assert(emptyPaths.size <= 4 + 25 + 2, s"${emptyPaths.size} listings: $emptyPaths")
    assert(empty.count() == 0)

    // The whole-tree read lists all 60 days' hours and infers the schema in a job.
    listed.clear()
    assert(jobsDuring(wholeTree(counted, root, "2024-02-14 22", "2024-02-15 01")) >= 1)
    assert(listed.size > days.size * 24, s"${listed.size} listings")
  }
}
