package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

case class Item(id: Long, name: String, value: Double)

/** JSON → Item transformer mirroring the reference example pipeline
  * (/root/reference/examples/basic/main.go:51-61): parse errors throw
  * (→ failure routing), negative values optionally drop (→ drop
  * semantics).
  */
class ItemTransformer(dropNegative: Boolean = false) extends Transformer[Item] {
  private val Re = """\{"id":\s*(-?\d+),\s*"name":\s*"([^"]*)",\s*"value":\s*(-?[\d.]+)\}""".r
  override def transform(e: Envelope): Seq[Item] = e.payload match {
    case Re(id, name, v) =>
      val item = Item(id.toLong, name, v.toDouble)
      if (dropNegative && item.value < 0) Seq.empty else Seq(item)
    case _ => throw new IllegalArgumentException(s"unparseable payload: ${e.payload.take(40)}")
  }
}

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def json(i: Int, v: Double = 1.5): String =
    s"""{"id": $i, "name": "n$i", "value": $v}"""

  private def newPipeline(sink: String, cp: String,
                          dlq: Option[String] = None,
                          dropNegative: Boolean = false,
                          retry: SimpleRetry = SimpleRetry(sleep = _ => ())) =
    IngestPipeline[Item](
      transformer = new ItemTransformer(dropNegative),
      sinkPath = sink,
      checkpointPath = cp,
      policy = BatchPolicy(flushIntervalMs = 0L),
      codec = "snappy",
      dlqPath = dlq,
      retry = retry)

  private def runStream(p: IngestPipeline[Item], payloads: Seq[String]): Unit = {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Envelope]
    val q = p.start(ms.toDS())
    try {
      ms.addData(payloads.map(Envelope(_, Map.empty)))
      q.processAllAvailable()
    } finally q.stop()
  }

  test("end-to-end: 1000 JSON messages -> snappy parquet, time-partitioned") {
    IngestMetrics.reset()
    val (sink, cp) = (tmpDir("sink"), tmpDir("cp"))
    runStream(newPipeline(sink, cp), (1 to 1000).map(json(_)))

    val out = spark.read.parquet(sink)
    assert(out.count() == 1000)
    assert(out.columns.toSet == Set("id", "name", "value", "y", "m", "d", "h"))
    // hive-style UTC time partitions on disk
    val yDirs = new java.io.File(sink).listFiles().filter(_.getName.startsWith("y="))
    assert(yDirs.nonEmpty)
    // snappy codec reached the files
    val leaf = java.nio.file.Files.walk(java.nio.file.Paths.get(sink))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    assert(leaf.toString.contains("snappy"))
    val m = IngestMetrics.snapshot()
    assert(m(IngestMetrics.RecordsFlushed) == 1000.0)
    assert(m(IngestMetrics.Flushes) >= 1.0)
  }

  test("drop semantics: empty transform result is acked, counted, not written") {
    IngestMetrics.reset()
    val (sink, cp) = (tmpDir("sink"), tmpDir("cp"))
    val payloads = Seq(json(1), json(2, -5.0), json(3), json(4, -1.0))
    runStream(newPipeline(sink, cp, dropNegative = true), payloads)
    assert(spark.read.parquet(sink).count() == 2)
    assert(IngestMetrics.snapshot()(IngestMetrics.MessagesDropped) == 2.0)
  }

  test("failure routing: malformed payloads land in the DLQ, good rows flush") {
    IngestMetrics.reset()
    val (sink, cp, dlq) = (tmpDir("sink"), tmpDir("cp"), tmpDir("dlq"))
    runStream(newPipeline(sink, cp, dlq = Some(dlq)),
      Seq(json(1), "not json at all", json(2), """{"broken""""))
    assert(spark.read.parquet(sink).count() == 2)
    val dead = spark.read.parquet(dlq)
    assert(dead.count() == 2)
    assert(dead.columns.toSet == Set("payload", "error", "dlq_ts"))
    assert(dead.filter($"error".contains("IllegalArgumentException")).count() == 2)
    assert(IngestMetrics.snapshot()(IngestMetrics.TransformErrors) == 2.0)
  }

  test("ack-after-write invariant: failed sink => no offset commit => replay on restart") {
    IngestMetrics.reset()
    val (srcDir, cp, goodSink) = (tmpDir("src"), tmpDir("cp"), tmpDir("sink"))
    (1 to 5).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/f$i.json"), json(i) + "\n")
    }
    // blocked sink: parent path is a FILE, so parquet write must fail
    val blockerFile = java.nio.file.Files.createTempFile("blocker", "").toString
    val badSink = s"$blockerFile/sub"

    val bad = newPipeline(badSink, cp, retry = SimpleRetry(attempts = 2, sleep = _ => ()))
    val q1 = bad.start(Sources.textLines(spark, srcDir))
    intercept[StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(IngestMetrics.snapshot()(IngestMetrics.FlushErrors) >= 1.0)

    // same checkpoint, working sink: the uncommitted batch is replayed
    val good = newPipeline(goodSink, cp)
    val q2 = good.start(Sources.textLines(spark, srcDir))
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(goodSink).select("id").as[Long].collect().toSet == (1L to 5L).toSet)
  }

  test("codec surface: case-insensitive parse, unsupported codecs are fatal") {
    assert(ParquetCodec.parse("SNAPPY") == "snappy")
    assert(ParquetCodec.parse("None") == "uncompressed")
    assert(ParquetCodec.parse("zstd") == "zstd")
    assert(ParquetCodec.parse("GZip") == "gzip")
    intercept[IllegalArgumentException](ParquetCodec.parse("lz4"))
    intercept[IllegalArgumentException] {
      IngestPipeline[Item](new ItemTransformer(), "/tmp/x", "/tmp/y", codec = "brotli")
    }
  }

  test("1->N transform fan-out") {
    val fanOut = new Transformer[Item] {
      override def transform(e: Envelope): Seq[Item] =
        (1 to 3).map(i => Item(i.toLong, e.payload, i.toDouble))
    }
    val (sink, cp) = (tmpDir("sink"), tmpDir("cp"))
    val p = IngestPipeline[Item](fanOut, sink, cp,
      policy = BatchPolicy(flushIntervalMs = 0L))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Envelope]
    val q = p.start(ms.toDS())
    try {
      ms.addData(Seq(Envelope("a", Map.empty), Envelope("b", Map.empty)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(sink).count() == 6)
  }

  test("writePartitions controls flush-worker parallelism (file count)") {
    val (sink, cp) = (tmpDir("sink"), tmpDir("cp"))
    val p = IngestPipeline[Item](new ItemTransformer(), sink, cp,
      policy = BatchPolicy(flushIntervalMs = 0L), writePartitions = Some(3))
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Envelope]
    val q = p.start(ms.toDS())
    try {
      ms.addData((1 to 90).map(i => Envelope(json(i), Map.empty)))
      q.processAllAvailable()
    } finally q.stop()
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sink)).iterator()
    val parts = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .count(_.toString.endsWith(".parquet"))
    assert(parts == 3, s"expected 3 writer tasks, got $parts files")
  }

  test("WorkerControl changes flush parallelism live, between micro-batches") {
    val (sink, cp) = (tmpDir("sink"), tmpDir("cp"))
    val wid = "live-workers-pipe"
    // the shared ControlKnob contract: clamp-below-1 semantics cannot
    // drift between the two actuation paths (pollers / flush workers)
    val knob: ControlKnob = WorkerControl
    knob.set(wid, 0)
    assert(WorkerControl.get(wid).contains(1), "values below 1 clamp to 1")
    WorkerControl.clear(wid)
    val p = IngestPipeline[Item](new ItemTransformer(), sink, cp,
      policy = BatchPolicy(flushIntervalMs = 0L), writePartitions = Some(1),
      controlId = Some(wid))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Envelope]
    val q = p.start(ms.toDS())
    def parquetFiles(): Int = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sink)).iterator()
      scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
        .count(_.toString.endsWith(".parquet"))
    }
    try {
      ms.addData((1 to 40).map(i => Envelope(json(i), Map.empty)))
      q.processAllAvailable()
      val before = parquetFiles()
      assert(before == 1, s"static writePartitions=1 => 1 file, got $before")
      // the adaptive actuator fires mid-run; the NEXT flush honors it
      WorkerControl.set(wid, 4)
      ms.addData((41 to 80).map(i => Envelope(json(i), Map.empty)))
      q.processAllAvailable()
      assert(parquetFiles() - before == 4,
        "flush after WorkerControl.set(4) must write with 4 tasks — no restart")
    } finally {
      q.stop()
      WorkerControl.clear(wid)
    }
  }

  test("empty micro-batch is a no-op flush (no crash, no files)") {
    val (sink, cp) = (tmpDir("sink"), tmpDir("cp"))
    val p = newPipeline(sink, cp)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Envelope]
    val q = p.start(ms.toDS())
    try q.processAllAvailable() finally q.stop()
    assert(!new java.io.File(sink).exists() || new java.io.File(sink).listFiles().isEmpty)
  }

  test("maxRecordsPerFile bounds output file sizes (A7 output sizing)") {
    val (sink, cp) = (tmpDir("sink"), tmpDir("cp"))
    val p = IngestPipeline[Item](new ItemTransformer(), sink, cp,
      policy = BatchPolicy(flushIntervalMs = 0L, maxRecordsPerFile = Some(10L)),
      writePartitions = Some(1))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Envelope]
    val q = p.start(ms.toDS())
    try {
      ms.addData((1 to 95).map(i => Envelope(json(i), Map.empty)))
      q.processAllAvailable()
    } finally q.stop()
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sink)).iterator()
    val parts = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .count(_.toString.endsWith(".parquet"))
    assert(parts >= 10, s"95 records at <=10/file should give >=10 files, got $parts")
  }

  // Flush layout: a flush that spans several hours is clustered by its
  // time key (one file per hour directory); a single-hour flush keeps the
  // unshuffled per-task plan.

  private def stampedPipeline(sink: String, parts: Option[Int] = None) =
    IngestPipeline[Stamped](new StampedTransformer, sink, s"$sink-cp",
      eventTimeCol = Some("ts"), writePartitions = parts)

  /** `n` envelopes `id,ts`; row `i` falls in hour `hours(i % hours.size)`
    * of 2024-03-01, so every input partition holds every hour. */
  private def envs(n: Int, hours: Seq[Int], from: Int = 0): org.apache.spark.sql.Dataset[Envelope] =
    spark.createDataset((from until from + n).map { i =>
      Envelope(f"$i,2024-03-01 ${hours(i % hours.size)}%02d:${i % 60}%02d:00", Map.empty[String, String])
    })(org.apache.spark.sql.Encoders.product[Envelope])

  /** `.parquet` files per leaf directory under `sink`. */
  private def filesPerDir(sink: String): Map[String, Int] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sink)).iterator()
    scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
      .groupBy(_.getParent.toString).map { case (d, fs) => d -> fs.size }
  }

  /** Shuffle-write bytes of the Spark jobs `f` runs on this thread,
    * found by job group on the listener bus. */
  private def shuffleWriteBytes(f: => Unit): Long = {
    import org.apache.spark.scheduler._
    val group = s"flush-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          e.stageIds.foreach(stages.add); jobs.add(e.jobId); ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId)) {
          bytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) { ended.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "flush under test")
      try f finally sc.clearJobGroup()
      // The bus is asynchronous: wait for every job of the group to end.
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while ((jobs.isEmpty || ended.get() < jobs.size) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(jobs.size > 0 && ended.get() == jobs.size, s"${ended.get()} of ${jobs.size} jobs ended")
      bytes.get()
    } finally sc.removeSparkListener(listener)
  }

  for ((label, parts) <- Seq("default workers" -> None, "writePartitions = 3" -> Some(3))) {
    test(s"a multi-hour event-time flush writes one file per hour directory ($label)") {
      val sink = s"${tmpDir("cluster")}/sink"
      val p = stampedPipeline(sink, parts)
      val in = envs(120, Seq(3, 4, 5, 6, 7, 8))
      assert(in.rdd.getNumPartitions > 1)
      p.processBatch(p.route(in), 0L)
      val perDir = filesPerDir(sink)
      assert(perDir.size == 6 && perDir.keys.forall(_.contains("/h=0")), perDir)
      assert(perDir.values.forall(_ == 1), s"files per hour directory: $perDir")
      assert(spark.read.parquet(sink).count() == 120)
      assert(p.lastHourSpan.contains(6L))
    }
  }

  test("the second flush of a single-hour stream runs no shuffle and writes one file per task") {
    val sink = s"${tmpDir("single")}/sink"
    val p = stampedPipeline(sink)
    val first = envs(40, Seq(10))
    // The first flush is clustered whatever its span: the control that
    // the listener sees a shuffle when there is one.
    assert(shuffleWriteBytes(p.processBatch(p.route(first), 0L)) > 0L)
    assert(p.lastHourSpan.contains(1L))
    val before = filesPerDir(sink).values.sum
    val second = envs(40, Seq(10), from = 40)
    assert(shuffleWriteBytes(p.processBatch(p.route(second), 1L)) == 0L)
    assert(filesPerDir(sink).values.sum - before == second.rdd.getNumPartitions,
      "an unclustered flush writes one file per input partition, as before")
    assert(spark.read.parquet(sink).count() == 80)
  }

  test("an empty flush leaves the stored hour span unchanged") {
    val sink = s"${tmpDir("empty")}/sink"
    val p = stampedPipeline(sink)
    p.processBatch(p.route(envs(30, Seq(1, 2, 3))), 0L)
    assert(p.lastHourSpan.contains(3L))
    p.processBatch(p.route(envs(0, Seq(1))), 1L)
    assert(p.lastHourSpan.contains(3L))
  }
}

class TimeKeysSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("UTC y/m/d/h keys are zero-padded and prunable") {
    val df = Seq("2024-03-05 07:09:11").toDF("s")
      .select(to_timestamp($"s").as("ts"))
    val keyed = TimeKeys.withUtcKeys(df, col("ts"))
      .select("y", "m", "d", "h").as[(String, String, String, String)].head()
    assert(keyed == (("2024", "03", "05", "07")))
  }
}

class IngestMetricsSpec extends SparkSpec {
  test("registry counters accumulate and snapshot") {
    IngestMetrics.reset()
    IngestMetrics.inc("x_total")
    IngestMetrics.inc("x_total", 4)
    IngestMetrics.gauge("g", 0.5)
    val s = IngestMetrics.snapshot()
    assert(s("x_total") == 5.0 && s("g") == 0.5)
  }
}
