package graft.sources.remote

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

/** Connector suite mirroring the reference's SQS source tests
  * (source_sqs_test.go): poll loop + partition fan-out, error backoff,
  * ack chunking ≤ 10 with partial-failure propagation, visibility-lease
  * keep-alive, poller scaling, and the ack-after-durable-write flow.
  */
class RemoteQueueSourceSpec extends SparkSpec {

  private def cfg(pollers: Int = 2, maxPerTrigger: Int = 100) = RemoteQueueConfig(
    waitTimeSeconds = 0, maxMessages = 10, visibilityTimeoutSec = 30,
    pollers = pollers, maxPerTrigger = maxPerTrigger,
    receiveBackoffMs = 1L, maxReceiveRetries = 3)

  private def drain(df: DataFrame, name: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("executor-side poll loop: a backlog drains through poller partitions into rows") {
    val s = FakeQueueService.state("poll")
    (1 to 40).foreach(i => s.enqueue(s"msg-$i", Map("k" -> s"v$i")))

    drain(RemoteIngest.readStream(spark, classOf[FakeFactoryPoll].getName, cfg(pollers = 4)),
      "rq_poll")

    import spark.implicits._
    val rows = spark.table("rq_poll").select("payload").as[String].collect().toSet
    assert(rows == (1 to 40).map(i => s"msg-$i").toSet)
    // no source-level ack: everything is in flight awaiting the explicit
    // post-write AckBatch, exactly the reference's receive/ack split
    assert(s.backlog == 0 && s.inFlightCount == 40 && s.deletedCount == 0)
    assert(s.receiveCalls.get() >= 4, "every poller partition polled at least once")
    val attrs = spark.table("rq_poll").where("payload = 'msg-7'")
      .select("attributes").collect()(0).getMap[String, String](0)
    assert(attrs == Map("k" -> "v7"))
  }

  test("the benchmark's stub queue drains through the connector and counts acks") {
    BenchQueue.reset(50)
    drain(RemoteIngest.readStream(spark, classOf[BenchQueueFactory].getName, cfg(pollers = 2)),
      "rq_bench")

    import spark.implicits._
    assert(spark.table("rq_bench").select("payload").as[String].collect().toSet ==
      (0 until 50).map(i => s"""{"id": $i, "name": "item-$i", "value": ${i * 1.5}}""").toSet)
    assert(BenchQueue.backlog == 0 && BenchQueue.deletedCount == 0)
    assert(AckDispatcher.ackAll(new BenchQueueClient, (0 until 25).map(i => s"bh-$i").iterator) == 25)
    assert(BenchQueue.deletedCount == 25)
  }

  test("receive error backoff: transient failures are retried, messages still arrive") {
    val s = FakeQueueService.state("backoff")
    (1 to 8).foreach(i => s.enqueue(s"m$i"))
    s.receiveErrorsToInject.set(2)

    drain(RemoteIngest.readStream(spark, classOf[FakeFactoryBackoff].getName,
      cfg(pollers = 1)), "rq_backoff")

    import spark.implicits._
    assert(spark.table("rq_backoff").select("payload").as[String].collect().toSet ==
      (1 to 8).map(i => s"m$i").toSet)
    // 2 failed + at least 2 successful (8 msgs @ ≤10/call + drain call)
    assert(s.receiveCalls.get() >= 4)
  }

  test("receive errors beyond the retry budget fail the query (task failure surfaces)") {
    val s = FakeQueueService.state("backoff")
    s.enqueue("never-delivered")
    s.receiveErrorsToInject.set(100) // > maxReceiveRetries per attempt

    val ex = intercept[StreamingQueryException] {
      drain(RemoteIngest.readStream(spark, classOf[FakeFactoryBackoff].getName,
        cfg(pollers = 1)), "rq_backoff_fail")
    }
    assert(ex.getMessage != null)
    s.receiveErrorsToInject.set(0)
    s.expireAllLeases()
    // leftover message is still receivable afterwards (nothing was lost)
    drain(RemoteIngest.readStream(spark, classOf[FakeFactoryBackoff].getName,
      cfg(pollers = 1)), "rq_backoff_rec")
    import spark.implicits._
    assert(spark.table("rq_backoff_rec").select("payload").as[String].collect()
      .contains("never-delivered"))
  }

  test("ack chunking: 25 handles become service calls of 10/10/5") {
    val s = FakeQueueService.state("poll")
    s.deleteChunkSizes.clear()
    val client = new FakeQueueClient(s)
    val handles = (1 to 25).map(i => s"h$i")
    // register as in-flight so deletes are meaningful
    handles.foreach(h => s.synchronized(()))

    val acked = AckDispatcher.ackAll(client, handles.iterator)
    assert(acked == 25)
    assert(s.deleteChunkSizes.asScala.map(_.intValue).toList == List(10, 10, 5))
  }

  test("partial ack failure: error names the entry, prior chunks stay acked") {
    val s = FakeQueueService.state("poll")
    s.deleteChunkSizes.clear()
    val before = s.deletedCount
    s.failDeletesFor.add("h17")
    val client = new FakeQueueClient(s)

    val ex = intercept[AckDispatcher.PartialFailure] {
      AckDispatcher.ackAll(client, (1 to 25).map(i => s"h$i").iterator)
    }
    assert(ex.getMessage.contains("h17") && ex.getMessage.contains("1/10"))
    // chunk 1 (h1-h10) fully acked before the failing chunk aborted the batch
    assert(s.deletedCount - before == 10 + 9, "chunk1 + the 9 ok entries of chunk2")
    s.failDeletesFor.remove("h17")
  }

  test("visibility-lease keep-alive: extensions fire while a flush is in flight, chunked ≤10") {
    val s = FakeQueueService.state("poll")
    s.visibilityChunkSizes.clear()
    val handles = (1 to 12).map(i => s"lease-$i")

    val runner = RemoteIngest.keepAlive(handles, new FakeFactoryPoll,
      extendBySec = 45, renewEveryMs = 20L)
    try {
      Thread.sleep(150L) // the "long flush"
    } finally runner.close()

    assert(runner.extensionCount >= 2, s"expected ≥2 renewals, got ${runner.extensionCount}")
    assert(!runner.hasFailed)
    assert(s.visibilityChunkSizes.asScala.forall(_ <= 10))
    assert(s.lastVisibilityOf("lease-3").contains(45))
  }

  test("lease keep-alive stops on the first failed extension (reference behavior)") {
    val s = FakeQueueService.state("poll")
    s.failVisibilityFor.add("dead-handle")
    val runner = RemoteIngest.keepAlive(Seq("dead-handle"), new FakeFactoryPoll,
      extendBySec = 30, renewEveryMs = 10L)
    try {
      Thread.sleep(100L)
      assert(runner.hasFailed)
      assert(runner.extensionCount == 0)
    } finally {
      runner.close()
      s.failVisibilityFor.remove("dead-handle")
    }
  }

  test("ack-after-durable-write: handles ack only post-sink; failed write leaves leases for redelivery") {
    val s = FakeQueueService.state("e2e")
    (1 to 25).foreach(i => s.enqueue(s"""{"n": $i}"""))
    val sink = tmpDir("rq-sink")
    s.deleteChunkSizes.clear()

    val stream = RemoteIngest.readStream(spark, classOf[FakeFactoryE2E].getName, cfg())
    val q = stream.writeStream
      .option("checkpointLocation", tmpDir("rq-cp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val persisted = b.persist()
        try {
          persisted.select("payload").write.mode("append").parquet(sink)
          RemoteIngest.ackAfterWrite(persisted, new FakeFactoryE2E)
        } finally persisted.unpersist()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    assert(spark.read.parquet(sink).count() == 25)
    assert(s.deletedCount == 25 && s.inFlightCount == 0 && s.backlog == 0)
    assert(s.deleteChunkSizes.asScala.forall(_ <= 10), "service limit respected")

    // failed sink ⇒ no ack ⇒ lease expiry redelivers (at-least-once)
    (26 to 30).foreach(i => s.enqueue(s"""{"n": $i}"""))
    val blocker = java.nio.file.Files.createTempFile("rqblock", "").toString
    val bad = stream.writeStream
      .option("checkpointLocation", tmpDir("rq-cp2"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("payload").write.mode("append").parquet(s"$blocker/nope")
        RemoteIngest.ackAfterWrite(b, new FakeFactoryE2E)
      }
      .start()
    intercept[StreamingQueryException](bad.processAllAvailable())
    bad.stop()
    assert(s.deletedCount == 25, "nothing acked from the failed batch")
    s.expireAllLeases()
    assert(s.backlog == 5, "failed batch redelivers after lease expiry")
  }

  test("poller scaling: PollerControl changes the partition fan-out per micro-batch") {
    val s = FakeQueueService.state("scale")
    val qid = "scale-queue"
    PollerControl.clear(qid)

    var partitionCounts = List.empty[Int]
    def runOnce(): Unit = {
      val q = RemoteIngest.readStream(spark, classOf[FakeFactoryScale].getName,
        cfg(pollers = 2), queueId = Some(qid))
        .writeStream.option("checkpointLocation", tmpDir("rq-scale-cp"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) partitionCounts :+= b.rdd.getNumPartitions
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    (1 to 10).foreach(i => s.enqueue(s"a$i"))
    runOnce() // config default: 2 pollers
    PollerControl.set(qid, 5) // SetPollers scale-up
    (1 to 10).foreach(i => s.enqueue(s"b$i"))
    runOnce()
    PollerControl.set(qid, 0) // clamps to 1, like the reference
    (1 to 10).foreach(i => s.enqueue(s"c$i"))
    runOnce()
    PollerControl.clear(qid)

    assert(partitionCounts.take(1) == List(2) &&
      partitionCounts.lift(1).contains(5) && partitionCounts.lift(2).contains(1),
      s"fan-out should track the poller knob, got $partitionCounts")
  }

  test("separate ack retry policy: transient delete failures retried independently of writes") {
    val s = FakeQueueService.state("poll")
    import graft.ingest.SimpleRetry
    import spark.implicits._
    val df = (1 to 15).map(i => s"ar-$i").toDF("ack_handle")

    // default policy = single attempt, the reference's no-retry default
    s.deleteErrorsToInject.set(1)
    intercept[org.apache.spark.SparkException] {
      RemoteIngest.ackAfterWrite(df.coalesce(1), new FakeFactoryPoll)
    }

    // opt-in ack retry absorbs the transient failures
    val before = s.deletedCount
    s.deleteErrorsToInject.set(2)
    RemoteIngest.ackAfterWrite(df.coalesce(1), new FakeFactoryPoll,
      ackRetry = SimpleRetry(attempts = 4, sleep = _ => ()))
    assert(s.deletedCount - before >= 15, "all handles acked after retried attempts")
    s.deleteErrorsToInject.set(0)
  }

  test("checkpoint restart: a fresh stream resumes past the restored offset (no stall)") {
    val s = FakeQueueService.state("restart")
    val cp = tmpDir("rq-restart-cp")

    def runOnce(): Set[String] = {
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      // memory sink cannot recover from a checkpoint; foreachBatch can
      val q = RemoteIngest.readStream(spark, classOf[FakeFactoryRestart].getName,
        cfg(pollers = 1))
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("payload").collect().foreach(r => got.add(r.getString(0)))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      got.asScala.toSet
    }

    (1 to 5).foreach(i => s.enqueue(s"pre-$i"))
    assert(runOnce() == (1 to 5).map(i => s"pre-$i").toSet)

    // Restart against the SAME checkpoint: the new stream instance's
    // epoch counter starts at 0 while the checkpoint holds a later
    // committed offset. Before the deserializeOffset floor fix, the
    // backlog-gated latestOffset sat behind the restored start forever
    // and the post-restart messages never scheduled a batch.
    (1 to 5).foreach(i => s.enqueue(s"post-$i"))
    assert(runOnce() == (1 to 5).map(i => s"post-$i").toSet,
      "messages enqueued after a restart must drain from the restored offset")
  }

  test("config validation mirrors the reference envelope") {
    intercept[IllegalArgumentException](RemoteQueueConfig(waitTimeSeconds = 21))
    intercept[IllegalArgumentException](RemoteQueueConfig(maxMessages = 0))
    intercept[IllegalArgumentException](RemoteQueueConfig(maxMessages = 11))
    intercept[IllegalArgumentException](RemoteQueueConfig(visibilityTimeoutSec = -1))
    intercept[IllegalArgumentException](RemoteQueueConfig(pollers = 0))
    intercept[IllegalArgumentException](RemoteQueueConfig(maxPerTrigger = 0))
  }
}
