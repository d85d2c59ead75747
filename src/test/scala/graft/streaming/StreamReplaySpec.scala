package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamReplaySpec extends SparkSpec {
  import spark.implicits._

  private def batchSessions = tables.events
    .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
    .agg(count(lit(1)).as("n"))
    .select(col("user_id"), col("session_window.start").as("session_start"), col("n"))

  test("micro-batch replay with bounded late arrivals converges to the batch result") {
    val streamed = StreamReplay.sessionReplay(
        spark, tables.events.select("user_id", "event_id", "ts"))
      .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
    val batch = batchSessions
      .orderBy("user_id", "session_start")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} sessions != batch ${batch.size}")
  }

  test("interval-join replay with late arrivals converges to the batch interval join") {
    val ev = tables.events.select("user_id", "event_id", "ts")
    val streamed = StreamReplay.intervalJoinReplay(spark, ev)
      .as[(Long, Long, Long)].collect().toSeq
    val l = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id").as("l_event"), col("ts").as("lts"))
    val r = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("r_user"), col("event_id").as("r_event"), col("ts").as("rts"))
    val batch = l.join(r, col("user_id") === col("r_user") &&
        col("rts") >= col("lts") - expr("INTERVAL 5 MINUTES") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES"))
      .select(col("user_id"), col("l_event"), col("r_event"))
      .orderBy("user_id", "l_event", "r_event")
      .as[(Long, Long, Long)].collect().toSeq
    assert(batch.nonEmpty, "expected in-band pairs in testdata")
    assert(streamed == batch, s"streamed ${streamed.size} pairs != batch ${batch.size}")
  }

  test("leftOuter interval-join replay emits each unmatched left exactly once, null-padded") {
    val ev = tables.events.select("user_id", "event_id", "ts")
    val streamed = StreamReplay.intervalJoinReplay(spark, ev, joinType = "leftOuter")
      .as[(Long, Long, Option[Long])].collect().toSeq
    val l = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id").as("l_event"), col("ts").as("lts"))
    val r = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("r_user"), col("event_id").as("r_event"), col("ts").as("rts"))
    val batch = l.join(r, col("user_id") === col("r_user") &&
        col("rts") >= col("lts") - expr("INTERVAL 5 MINUTES") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES"), "left_outer")
      .select(col("user_id"), col("l_event"), col("r_event"))
      .orderBy("user_id", "l_event", "r_event")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(batch.exists(_._3.isEmpty), "expected unmatched left events in testdata")
    assert(batch.exists(_._3.nonEmpty), "expected matched pairs in testdata")
    assert(streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size} " +
        s"(nulls: ${streamed.count(_._3.isEmpty)} vs ${batch.count(_._3.isEmpty)})")
  }

  test("streaming dedup replay converges to batch DISTINCT over a feed with real duplicates") {
    val ev = tables.events.select("user_id", "event_id", "ts")
    // the dedup path must actually dedup: the testdata needs duplicate
    // (user_id, hour) keys, or first-arrival-wins is tested vacuously
    val total = ev.count()
    val batch = tables.events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour_bucket"))
      .distinct().orderBy("user_id", "hour_bucket")
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    assert(batch.size < total, "testdata must contain duplicate (user_id, hour) keys")
    val streamed = StreamReplay.dedupReplay(spark, ev)
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    assert(streamed == batch,
      s"streamed ${streamed.size} keys != batch ${batch.size}")
  }

  test("latestByKey replay converges to the batch winner with a monotone changelog") {
    val ev = tables.events.select("user_id", "event_type", "event_id")
    // displaced versions must exist, or the regression-resistance path
    // (incumbent kept against a late lower version) is tested vacuously
    assert(tables.events.filter(col("event_id") % 13 === 0).count() > 0)
    val streamed = StreamReplay.latestByKeyReplay(spark, ev)
      .as[(Long, String, Long)].collect().toSeq
    val batch = graft.operators.Upsert
      .latestByKey(ev, Seq("user_id", "event_type"), Seq(col("event_id").desc))
      .orderBy("user_id", "event_type")
      .as[(Long, String, Long)].collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch, s"streamed ${streamed.size} rows != batch ${batch.size}")
  }

  test("rateLimit replay admits exactly LEAST(total, k) per key across batches") {
    val k = 5L
    val streamed = StreamReplay.rateLimitReplay(
        spark, tables.events.select("user_id", "value", "event_id"), maxPerKey = k)
      .as[(Long, Long)].collect().toSeq
    val batch = tables.events.groupBy("user_id").count()
      .select(col("user_id"), least(col("count"), lit(k)).as("n"))
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(batch.exists(_._2 == k), "testdata must have keys hitting the cap")
    assert(streamed == batch)
  }

  test("smallestK replay admits exactly the k smallest ids per key, any arrival order") {
    val k = 5
    val ev = tables.events.select("user_id", "event_id")
    val batch = tables.events
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")))
      .filter(col("rn") <= k)
      .select(col("user_id"), col("event_id"))
      .orderBy("user_id", "event_id")
      .as[(Long, Long)].collect().toSeq
    // Non-vacuity (review r10): the retract-and-improve path only runs
    // when a GENUINELY DISPLACED id (id % 13 == 0 in a non-final chunk,
    // the harness's displacement rule) belongs to some key's top-k —
    // recompute the harness's chunk assignment and require one exists.
    val sorted = ev.as[(Long, Long)].collect().sortBy(r => (r._2, r._1))
    val nChunks = 6
    val chunkSize = math.max(1, (sorted.length + nChunks - 1) / nChunks)
    val nRealChunks = (sorted.length + chunkSize - 1) / chunkSize
    val topk = batch.toSet
    val displacedInTopk = sorted.zipWithIndex.exists { case ((uid, id), idx) =>
      idx / chunkSize < nRealChunks - 1 && id % 13 == 0 && topk((uid, id))
    }
    assert(displacedInTopk,
      "testdata must put a genuinely displaced id (non-final chunk, %13) inside some key's top-k")
    val streamed = StreamReplay.smallestKReplay(spark, ev, k = k)
      .as[(Long, Long)].collect().toSeq
    assert(streamed == batch, s"streamed ${streamed.size} rows != batch ${batch.size}")
  }

  test("streaming LSH candidates equal the batch band self-join on any chunking") {
    import graft.operators.TextDedup
    val docs = tables.documents.select("doc_id", "text")
    val batch = TextDedup.lshCandidatePairs(
        TextDedup.minhashSignatures(TextDedup.shingleSet(docs)))
      .distinct().orderBy("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSeq
    assert(batch.nonEmpty, "expected planted near-dup candidates in testdata")
    // two different chunkings must both converge to the batch candidates
    for (n <- Seq(3, 6)) {
      val streamed = StreamReplay.lshCandidateReplay(spark, docs, nChunks = n)
        .as[(Long, Long)].collect().toSeq
      assert(streamed == batch, s"nChunks=$n: ${streamed.size} != batch ${batch.size}")
    }
  }

  test("streaming semantic dedup equals the batch sd02 answer on any chunking") {
    import graft.operators.Similarity
    val e = tables.embeddings
    val hist = e.filter(col("vec_id") % 10 =!= 0).select("vec_id", "embedding")
    val batch = e.filter(col("vec_id") % 10 === 0).select("vec_id", "embedding")
    val path = tmpDir("st14-semidx")
    Similarity.saveSemanticIndex(hist, d = 64, k = 4, iterations = 2, path)
    val want = Similarity.semanticDedupIncremental(batch, path, threshold = 0.3)
      .orderBy("vec_id").as[(Long, Int)].collect().toSeq
    assert(want.nonEmpty)
    // the batch must actually exercise BOTH dominance paths at sf0.001
    // (drops exist) or the gate is vacuous
    assert(want.size < batch.count(), "expected real drops in testdata")
    for (n <- Seq(3, 6)) {
      val streamed = StreamReplay.semanticDedupReplay(spark, batch, path,
          threshold = 0.3, nChunks = n)
        .orderBy("vec_id").as[(Long, Int)].collect().toSeq
      assert(streamed == want, s"nChunks=$n: ${streamed.size} != batch ${want.size}")
    }
  }

  test("streaming cross-modal curation equals batch tp09 on any chunking") {
    import graft.multimodal.CrossModal
    val docs = tables.documents.select("doc_id", "text")
    // synthetic media rows with every branch behavior planted: a
    // near-dup pair (ids 1,2 at hamming 0), a gated item (id 3 under
    // the pixel floor / silent), an isolated survivor (id 4)
    val images = Seq(
      (1L, 0x1111L, 100L, 100L), (2L, 0x1111L, 64L, 80L),
      (3L, 0x2222L, 10L, 10L), (4L, -1L, 50L, 50L))
      .toDF("id", "dhash", "width", "height")
    val audio = Seq(
      (1L, 0x5555L, 0.5), (2L, 0x5555L, 0.25),
      (3L, 0x7777L, 0.0), (4L, 0x0F0FL, 0.5))
      .toDF("id", "afp", "rms")
    val batch = CrossModal.curate(docs, images, audio,
        langs = Seq("en", "de", "fr"), minQuality = 0.5, minTokens = 20L,
        minPixels = 256, minRms = 0.01,
        imageMaxHamming = 3, audioMaxHamming = 5,
        imageNBands = 4, audioNBands = 8, maxBandBucket = 1000000)
      .as[(String, Long)].collect().toSeq
    assert(batch.count(_._1 == "image") == 2 && batch.count(_._1 == "audio") == 2,
      s"planted behaviors must all fire, got $batch")
    for (n <- Seq(2, 4)) {
      val streamed = StreamReplay.crossModalCurateReplay(spark, docs, images,
          audio, langs = Seq("en", "de", "fr"), minQuality = 0.5,
          minTokens = 20L, minPixels = 256, minRms = 0.01,
          imageMaxHamming = 3, audioMaxHamming = 5,
          imageNBands = 4, audioNBands = 8, nChunks = n)
        .as[(String, Long)].collect().toSeq
      assert(streamed == batch, s"nChunks=$n: ${streamed.size} != ${batch.size}")
    }
  }

  test("streaming offset-tolerant dedup equals the batch sweep on any chunking") {
    import graft.multimodal.ImageHash
    // three mutually-far segment hashes (8 bits apart pairwise) + a
    // 1-bit re-encode; clips plant every sweep behavior: 1 = trimmed
    // intro (pairs at +1), 2 = shuffle (never pairs), 3 = aligned
    // re-encode of 0 (pairs at 0) which is also clip 1 minus ITS intro
    // seen from the other side (pairs at −1 — negative-shift coverage)
    val (h0, h1, h2) = (0x1111L, 0x2222L, 0x4444L)
    val segs = Seq(
      (0L, 0, h0), (0L, 1, h1), (0L, 2, h2),
      (1L, 0, h1), (1L, 1, h2),
      (2L, 0, h1), (2L, 1, h0), (2L, 2, h2),
      (3L, 0, h0 ^ 1L), (3L, 1, h1 ^ 1L), (3L, 2, h2 ^ 1L))
      .toDF("id", "seg_idx", "dhash")
    val batch = ImageHash.videoNearDupPairsOffset(
        segs.withColumnRenamed("seg_idx", "frame_idx"),
        maxHamming = 3, minMatchNum = 2, minMatchDen = 3, maxShift = 1)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(batch == Seq((0L, 1L, 2L, 1), (0L, 3L, 3L, 0), (1L, 3L, 2L, -1)),
      s"fixture relations drifted: $batch")
    for (n <- Seq(2, 4)) {
      val streamed = StreamReplay.offsetDedupReplay(spark, segs,
          maxHamming = 3, minMatchNum = 2, minMatchDen = 3, maxShift = 1,
          nChunks = n)
        .as[(Long, Long, Long, Int)].collect().toSeq
      assert(streamed == batch, s"nChunks=$n: $streamed != $batch")
    }
  }

  test("streaming incremental offset dedup equals the batch au04 answer on any chunking") {
    import graft.multimodal.ImageHash
    val (h0, h1, h2) = (0x1111L, 0x2222L, 0x4444L)
    val segs = Seq(
      (0L, 0, h0), (0L, 1, h1), (0L, 2, h2),
      (1L, 0, h1), (1L, 1, h2),
      (2L, 0, h1), (2L, 1, h0), (2L, 2, h2),
      (3L, 0, h0 ^ 1L), (3L, 1, h1 ^ 1L), (3L, 2, h2 ^ 1L))
      .toDF("id", "seg_idx", "dhash")
    // history {0, 3} holds a pair of its own (the aligned re-encode);
    // the batch {1, 2} carries the trim and the shuffle
    val dir = tmpDir("st20-fidx")
    ImageHash.saveFrameIndex(segs.filter(col("id").isin(0L, 3L))
      .withColumnRenamed("seg_idx", "frame_idx"), dir)
    val batch = segs.filter(col("id").isin(1L, 2L))
    val want = ImageHash.incrementalNearDupPairsOffset(
        batch.withColumnRenamed("seg_idx", "frame_idx"), dir,
        maxHamming = 3, minMatchNum = 2, minMatchDen = 3, maxShift = 1)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(want == Seq((0L, 1L, 2L, 1), (1L, 3L, 2L, -1)),
      s"batch incremental reference moved: $want")
    for (n <- Seq(2, 4)) {
      val streamed = StreamReplay.incrementalOffsetDedupReplay(spark, batch,
          dir, maxHamming = 3, minMatchNum = 2, minMatchDen = 3, maxShift = 1,
          nChunks = n)
        .as[(Long, Long, Long, Int)].collect().toSeq
      assert(streamed == want, s"nChunks=$n: $streamed != $want")
    }
    // the all-history pair (0,3) exists in the full sweep but must not
    // re-emit on the stream
    assert(ImageHash.videoNearDupPairsOffset(
        segs.withColumnRenamed("seg_idx", "frame_idx"),
        maxHamming = 3, minMatchNum = 2, minMatchDen = 3, maxShift = 1)
      .as[(Long, Long, Long, Int)].collect()
      .exists(p => p._1 == 0L && p._2 == 3L))
  }

  test("firstByKeyStream within-batch winner is pick-reduced, not iterator-ordered") {
    // two rows of one key in ONE chunk: the emitted row must be the
    // pick-winner (min id), whatever order the group iterator yields
    val docs = Seq((7L, "same text here"), (3L, "same text here"),
      (9L, "other text entirely")).toDF("doc_id", "text")
    val images = Seq((1L, 0x1L, 100L, 100L)).toDF("id", "dhash", "width", "height")
    val audio = Seq((1L, 0x1L, 0.5)).toDF("id", "afp", "rms")
    val got = StreamReplay.crossModalCurateReplay(spark, docs, images, audio,
        langs = Seq("en", "de", "fr", "es", "zh"), minQuality = 0.0,
        minTokens = 1L, minPixels = 1, minRms = 0.0,
        imageMaxHamming = 3, audioMaxHamming = 5,
        imageNBands = 4, audioNBands = 8, nChunks = 2)
      .filter(col("modality") === "text")
      .as[(String, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(3L, 9L), got.toString)
  }

  test("semanticDropStream drops a retroactive victim: a LATER lower-id near-dup dooms an earlier row") {
    import graft.operators.Similarity
    // corpus far away; batch: id 20 arrives in chunk 1, its lower-id
    // near-clone 10 only in a later chunk (20 % 13 != 0 so it is not
    // displaced; with nChunks=2 the sort order puts 10 first — so
    // instead craft ids where the HIGH id sorts first is impossible
    // under the id-ordered feed; the retroactivity is exercised via
    // the %13 displacement: id 13 is displaced one chunk forward, so
    // its near-clone 14 (higher id, NOT displaced) is seen first).
    val hist = Seq((1L, Seq.fill(4)(-1f))).toDF("vec_id", "embedding")
    val path = tmpDir("st14-retro")
    Similarity.saveSemanticIndex(hist, d = 4, k = 1, iterations = 1, path)
    val batch = Seq(
      13L -> Seq(1f, 0f, 0f, 0f),   // displaced: fed in chunk 2
      14L -> Seq(0.99f, 0.01f, 0f, 0f), // near-clone of 13, fed in chunk 1
      30L -> Seq(0f, 1f, 0f, 0f))   // unrelated survivor
      .toDF("vec_id", "embedding")
    val got = StreamReplay.semanticDedupReplay(spark, batch, path,
        threshold = 0.9, nChunks = 2)
      .select("vec_id").as[Long].collect().toSet
    // 13 survives (lowest id of the pair), 14 dropped RETROACTIVELY
    // when 13 finally arrives, 30 survives
    assert(got == Set(13L, 30L), s"got $got")
  }

  test("lshCandidateStream emits a cross-batch pair exactly when the second member arrives") {
    // crafted: docs 1 and 2 are identical (all 4 bands collide), doc 3
    // unrelated; 1 arrives in batch A, 2 in batch B — the pair must be
    // emitted in batch B, once per shared bucket, and never again.
    val d1 = (1L, "alpha beta gamma delta epsilon zeta")
    val d2 = (2L, "alpha beta gamma delta epsilon zeta")
    val d3 = (3L, "one two three four five six seven")
    val got = StreamReplay.lshCandidateReplay(
      spark, Seq(d1, d3, d2).toDF("doc_id", "text"), nChunks = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("replay never mutates the caller's shuffle-partitions conf, even mid-run") {
    // The replay's partition override must live in its private child
    // session (spark.newSession()). A background sampler polls the
    // CALLER's conf for the whole replay: an implementation that set the
    // session-global conf and restored it in a finally would show the
    // replay's value mid-run; the isolated form never shows it. The
    // replay's value is pinned to differ from the caller's, or a leak
    // would be invisible.
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val replayValue = "2"
    assert(before != replayValue)
    spark.conf.set(StreamReplay.ReplayPartitionsConf, replayValue)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) { seen.add(spark.conf.get(key)); Thread.sleep(20) }
    })
    sampler.start()
    try {
      StreamReplay.sessionReplay(spark, tables.events.select("user_id", "event_id", "ts"))
      assert(StreamReplay.replaySession(spark).conf.get(key) == replayValue)
    } finally {
      stop = true; sampler.join()
      spark.conf.unset(StreamReplay.ReplayPartitionsConf)
    }
    assert(spark.conf.get(key) == before)
    val distinct = seen.toArray.toSet
    assert(distinct == Set(before),
      s"caller conf changed mid-replay: observed $distinct (expected only $before)")
  }

  test("streaming ANN search equals the batched indexed search on any chunking") {
    // st21: per-probe independence — the union of per-micro-batch
    // top-k answers must equal the one-batch pq08 answer whatever the
    // probe chunking, INCLUDING every integer distance and rank.
    val emb = tables.embeddings.select("vec_id", "embedding")
    val idx = tmpDir("annreplay-idx") + "/idx"
    graft.operators.ProductQuantizer.saveIvfPqIndex(
      emb, d = 64, m = 4, kCoarse = 4, coarseIterations = 2,
      kPq = 4, pqIterations = 1, path = idx)
    val probes = emb.filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
    val want = graft.operators.ProductQuantizer.ivfPqTopKIndexedBatch(
        probes, idx, topK = 5, nProbe = 2)
      .orderBy("probe_id", "rk")
      .as[(Long, Long, Long, Int)].collect().toSeq
    for (nChunks <- Seq(2, 4)) {
      val got = StreamReplay.annSearchReplay(spark, probes, idx,
          topK = 5, nProbe = 2, nChunks = nChunks)
        .as[(Long, Long, Long, Int)].collect().toSeq
      assert(got == want, s"nChunks=$nChunks diverged from the batch searcher")
    }
  }

  /** Runs `body` with a listener on the replay session and returns the
    * number of micro-batches that read input, per query. The listener
    * waits for every started query's terminated event first: events of
    * one query reach the listener in order, so nothing is counted early. */
  private def microBatches(body: => Any): Seq[Int] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[(java.util.UUID, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batches.add((e.progress.id, e.progress.batchId))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.id)
    }
    val streams = StreamReplay.replaySession(spark).streams
    streams.addListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((started.isEmpty || !ended.containsAll(started)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.size > 0 && ended.containsAll(started), "query terminated events missing")
    } finally streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    started.asScala.toSeq.map(id => batches.asScala.count(_._1 == id))
  }

  /** Non-empty rounds of the replay feed over `ids` (already in the
    * replay's order): `nChunks` chunks, the `id % 13 == 0` subset of each
    * non-final chunk moved one chunk forward. */
  private def feedRounds(ids: Seq[Long], nChunks: Int = 6): Int = {
    val size = math.max(1, (ids.length + nChunks - 1) / nChunks)
    val chunks = ids.grouped(size).toSeq
    val fed = Array.fill(chunks.length)(0)
    chunks.zipWithIndex.foreach { case (c, i) =>
      c.foreach(id => fed(if (i < chunks.length - 1 && id % 13 == 0) i + 1 else i) += 1)
    }
    fed.count(_ > 0)
  }

  test("each replay runs one micro-batch per non-empty feed round plus its sentinel rounds") {
    val ev = tables.events.select("user_id", "event_id", "ts", "event_type")
    val byTime = ev.select(col("event_id").cast("long"), col("ts").cast("timestamp"))
      .as[(Long, java.sql.Timestamp)].collect()
      .sortBy(r => (r._2.getTime, r._1)).map(_._1).toSeq
    val byId = byTime.sorted
    val timed = feedRounds(byTime)
    assert(timed >= 2)
    // advance-and-flush pair: 2 sentinel rounds
    assert(microBatches(StreamReplay.sessionReplay(
      spark, ev.select("user_id", "event_id", "ts"))) == Seq(timed + 2))
    // eviction probe (2 rounds) before the advance-and-flush pair
    assert(microBatches(StreamReplay.dedupReplay(
      spark, ev.select("user_id", "event_id", "ts"))) == Seq(timed + 4))
    // the pair lands on both streams at once: still 2 rounds
    assert(microBatches(StreamReplay.intervalJoinReplay(
      spark, ev.select("user_id", "event_id", "ts"))) == Seq(timed + 2))
    // no sentinels: the changelog needs no watermark
    assert(microBatches(StreamReplay.latestByKeyReplay(
      spark, ev.select("user_id", "event_type", "event_id"))) == Seq(feedRounds(byId)))
  }

  test("a replay leaves no active query and no checkpoint directory, on success and on failure") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def checkpoints: Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(StreamReplay.CheckpointPrefix)).toSet
    val replay = StreamReplay.replaySession(spark)
    val before = checkpoints
    StreamReplay.sessionReplay(spark, tables.events.select("user_id", "event_id", "ts"))
    assert(replay.streams.active.isEmpty, "a successful replay left a query running")
    assert(checkpoints -- before == Set.empty, "a successful replay left its checkpoint")
    // the runner itself, with a result projection that throws after the feed
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    var created = Set.empty[String]
    val e = intercept[IllegalStateException](
      StreamReplay.run(spark, ms, ms.toDF(), Seq(Seq((1L, 2L)))) { c =>
        created = checkpoints -- before
        assert(c.rows.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
        throw new IllegalStateException("result projection failed")
      })
    assert(e.getMessage == "result projection failed")
    assert(created.size == 1, s"expected the runner's checkpoint while it ran, saw $created")
    assert(replay.streams.active.isEmpty, "a failed replay left a query running")
    assert(checkpoints -- before == Set.empty, "a failed replay left its checkpoint")
  }

  test("the late subset is genuinely displaced (the replay is not a trivial ordered feed)") {
    // The displacement predicate (event_id % 13 == 0) must select a
    // non-empty subset of the testdata, or the late-data path is
    // untested vacuously.
    val lateRows = tables.events.filter(col("event_id") % 13 === 0).count()
    assert(lateRows > 0, "testdata must contain displaced-late event ids")
  }
}
