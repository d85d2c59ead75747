package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Deterministic batch-replay of a bounded event table through the
  * STREAMING session-window operator: the driver-visible proof that
  * [[StreamingOps.sessionCounts]] under watermark + append mode
  * converges to the batch q29 result on the same inputs — not just in
  * MemoryStream unit tests but through the oracle gate.
  *
  * Replay protocol (all derived from the data, so any scale factor
  * works):
  *   - rows are fed in `nChunks` event-time-ordered micro-batches;
  *   - a deterministic subset of each chunk (event_id % 13 == 0) is
  *     DISPLACED into the next chunk — genuinely late arrivals, but
  *     bounded by one chunk's time span;
  *   - the watermark delay is sized to twice the maximum chunk span, so
  *     displaced rows are late-but-admitted: the streaming result must
  *     then equal the batch gaps-and-islands oracle exactly (a dropped
  *     row would break the hash — admission under lateness IS the
  *     contract being verified);
  *   - append mode only emits sessions the watermark has closed, so two
  *     far-future sentinel rows (user_id = -1, filtered from the
  *     output) advance the watermark past every real session: sentinel
  *     one moves the watermark, sentinel two's batch flushes the state.
  *
  * This is a replay HARNESS: the driver-side collect of the bounded
  * input is the point (a test feeding a stream), not a scale path — the
  * production form is the same expression over readStream (Q29).
  *
  * ==Child-session lifetime==
  * Replays share ONE cached `spark.newSession()` child per parent
  * session (same SparkContext, isolated conf/catalog) holding the
  * bounded-replay shuffle override — Spark has no per-session close, so
  * a per-call child would accrue catalog/listener registrations until
  * the SparkContext stops (it did, harness-bounded, through r15; the
  * cache removed that accrual plus the per-call SessionState clone).
  * Per-replay state stays isolated the cheap way: unique query names,
  * unique checkpoint dirs, per-call MemoryStreams, and the memory-sink
  * table + checkpoint dir are dropped in the finally. A service should
  * call the underlying [[StreamingOps]] operator over `readStream`
  * directly — the replay protocol is the test.
  */
object StreamReplay {

  private val runSeq = new AtomicInteger(0)

  /** Caller-side override for the replay child's shuffle/state
    * partition count (default 4 — see the measured ladder at the set
    * site). Set on the PARENT session before the first replay. */
  val ReplayPartitionsConf = "spark.graft.replay.shufflePartitions"

  /** One replay child session per parent session + state-store conf
    * snapshot (r15 verdict: the per-call `newSession()` accrual was the
    * right place to shave fixed replay cost). Reuse is safe because
    * every replay isolates its own state: unique memory-sink query
    * names (runSeq), unique checkpoint dirs, per-call MemoryStreams —
    * concurrent replays on the shared child are just concurrent
    * streaming queries on one session. A state-store conf CHANGE on the
    * parent (e.g. RocksDbStateStoreSpec switching providers) misses the
    * cache and builds a fresh child, so the propagation contract of
    * [[replaySession]] still holds. */
  private val sessionCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Map[String, String], SparkSession)]()

  /** The per-replay child session, in ONE place: the bounded-replay shuffle
    * override (see the partition-count comment at the first call site)
    * plus propagation of the caller's state-store configuration.
    * `newSession()` does NOT inherit the parent's RUNTIME conf (only
    * the builder-time options), so a caller that configured RocksDB —
    * for bounded-memory state at production key cardinality — would
    * silently replay on the default in-memory provider without this
    * copy. EVERY `spark.sql.streaming.stateStore.*` key is copied, not
    * just providerClass: the provider's companion knobs (bounded memory
    * caps, changelog checkpointing, compression) are exactly the ones a
    * production caller sets alongside it, and dropping them would
    * re-create the same silent-divergence bug one key at a time
    * (review r13). RocksDbStateStoreSpec pins provider-identical output.
    */
  private[streaming] def replaySession(spark: SparkSession): SparkSession = {
    // Prune dead parents on each lookup (r16 advice): a strong-keyed
    // map would otherwise retain stopped/recreated parent sessions —
    // and their superseded children — forever across a long run of
    // test suites, re-creating one level up the very accrual the cache
    // removed. O(live sessions) per replay; entries whose parent
    // SparkContext is stopped are unreachable by definition (a stopped
    // context can never run a replay again).
    sessionCache.keySet.removeIf(s => s.sparkContext.isStopped)
    val ssConf = spark.conf.getAll
      .filter { case (k, _) => k.startsWith("spark.sql.streaming.stateStore.") ||
        k == ReplayPartitionsConf }
    sessionCache.compute(spark, (_, cached) =>
      if (cached != null && cached._1 == ssConf) cached
      else {
        val replay = spark.newSession()
        // Bounded-replay shuffle partitions: each micro-batch pays one
        // state-store round trip (delta-file create + rename per store)
        // PER partition, and the replay protocol's chunks are small by
        // construction — fixed per-partition cost dominates. r18
        // measured 32 -> 8 as a 4x overhead cut; r21 re-measured the
        // ladder at sf0.1 (floors, st02/st03/st01/st04): 8 -> 4 gives
        // another -21/-23/-2/-11 %, 4 -> 2 is flat-to-worse. Overridable
        // for replays of bigger fixtures; the production form is the
        // same operator over readStream on the caller's session, where
        // the session's own partitioning applies.
        replay.conf.set("spark.sql.shuffle.partitions",
          spark.conf.getOption(ReplayPartitionsConf).getOrElse("4"))
        // NO-DATA micro-batches off (r17 verdict #4, measured): every
        // processAllAvailable otherwise runs a data batch PLUS a
        // no-data watermark batch, and each batch costs ~1 s of fixed
        // state-store machinery (Round18StProbe2 at commit e960c89: triggerExecution
        // ~1.1 s/batch, commit-dominated — 14 batches for st02's
        // 4-chunk feed). The no-data batches are PURE GC under the
        // replay protocol: every harness feeds TWO trailing sentinel
        // rounds, so the final watermark is applied during the second
        // sentinel's DATA batch (watermark after round 1 = maxTs +
        // delay, already past every real row's eviction/emission
        // bound) — emission never depends on a trailing no-data batch.
        // Output identity is enforced by the oracle gates (st01-st17
        // hash equality against the batch oracles) and the
        // chunking-invariance specs, not assumed. Halves the replay's
        // batch count (measured st02+st03: 22.0 -> 12.6 s at sf0.1).
        replay.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        // A replay's checkpoint dir is deleted in its finally — state
        // snapshots are maintenance for a future restart that never
        // happens, so defer them past any bounded replay's batch count
        // (background compaction competes for the same local[N] CPUs).
        // Set BEFORE the parent copy: a caller who pins their own
        // stateStore.* value still wins (the propagation contract).
        replay.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "10000")
        ssConf.foreach { case (k, v) => replay.conf.set(k, v) }
        // newSession() starts a FRESH function registry: graft's native
        // expressions (cosine_similarity in the st14 dedup join) must
        // be re-registered or the replay fails to resolve them.
        graft.functions.registerAll(replay)
        (ssConf, replay)
      })._2
  }

  /** The feed protocol's chunking step: `rows` (already sorted by the
    * caller's replay order) split into `nChunks` micro-batch chunks. */
  private def chunked[T: scala.reflect.ClassTag](rows: Array[T], nChunks: Int): Array[Array[T]] = {
    require(nChunks >= 2, "replay needs at least two chunks")
    require(rows.nonEmpty, "no events to replay")
    rows.grouped(math.max(1, (rows.length + nChunks - 1) / nChunks)).toArray
  }

  /** The feed protocol's displacement step, in ONE place (review r10 —
    * this was hand-copied per replay): the deterministic late subset
    * (`lateId % 13 == 0`, non-final chunks only) lands one chunk
    * forward — genuinely late arrivals, bounded by one chunk's span.
    * Every replay builds its feed through this, so a protocol change
    * (modulus, displacement distance) edits one function and cannot
    * silently diverge between harnesses.
    */
  private def displaced[T](chunks: Array[Array[T]])(lateId: T => Long): Seq[Vector[T]] = {
    val fed = Array.fill(chunks.length)(Vector.newBuilder[T])
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      chunk.foreach { r =>
        val late = i < chunks.length - 1 && lateId(r) % 13 == 0
        fed(if (late) i + 1 else i) += r
      }
    }
    fed.toSeq.map(_.result())
  }

  /** Replays `events` (user_id, event_id, ts) through streaming session
    * windows; returns (user_id, session_start, n) matching the batch
    * q29 oracle. */
  def sessionReplay(spark: SparkSession, events: DataFrame,
                    gap: String = "10 minutes", nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("timestamp"))
      .as[(Long, Long, Timestamp)].collect().sortBy(r => (r._3.getTime, r._2))

    val chunks = chunked(rows, nChunks)
    val spanMs = chunks.map(c => c.last._3.getTime - c.head._3.getTime).max
    val delayHours = math.max(1L, 2 * spanMs / 3600000L + 1)
    val maxTs = rows.last._3.getTime
    val delayMs = delayHours * 3600000L
    val fed = displaced(chunks)(_._2)

    // Each micro-batch pays one state-store round trip PER shuffle
    // partition; for a bounded replay that fixed cost dominates (the
    // data per batch is small), so the stateful stages run at the
    // [[replaySession]] partition count (default 4; measured ladder at
    // the set site) instead of the session's 32. The override lives in
    // a CHILD session
    // (`spark.newSession()`: same SparkContext, isolated conf/catalog),
    // so queries planned concurrently on the caller's session never see
    // it (VERDICT r7 #5 / ADVICE r7). The partitioning of the RESULT is
    // unaffected (the memory sink collects per batch) and the returned
    // DataFrame is rebuilt on the CALLER's session.
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val stream = StreamingOps.sessionCounts(
      ms.toDF.toDF("user_id", "event_id", "ts"),
      tsCol = "ts", keyCol = "user_id", gap = gap, watermark = s"$delayHours hours")

    val name = s"st_replay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    // The memory-sink table and the checkpoint dir are per-call scratch:
    // the result is materialized locally and BOTH are cleaned up in the
    // finally — on failure too, so a flaky replay in a long-lived
    // session never accumulates driver-heap tables or disk.
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
        // Sentinels: the first advances the watermark past every real
        // session end, the second's batch emits the flushed state.
        ms.addData(Seq((-1L, -1L, new Timestamp(maxTs + 2 * delayMs))))
        q.processAllAvailable()
        ms.addData(Seq((-1L, -2L, new Timestamp(maxTs + 4 * delayMs))))
        q.processAllAvailable()
      } finally q.stop()
      val out = replay.table(name)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("n"))
        .orderBy("user_id", "session_start")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      // does not follow directory symlinks (vs a hand-rolled Files.walk)
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `events` through the STREAM-STREAM interval join
    * ([[StreamingOps.intervalJoin]], dual watermarks): even event_ids
    * feed the left stream, odd the right, in the same chunked
    * event-time-ordered protocol as [[sessionReplay]] (deterministic
    * late subset displaced one chunk, watermark sized to twice the max
    * chunk span so late rows are admitted AND their partners' join state
    * is still live). The inner-join result — every (user_id, left
    * event, right event) pair within ±`band` — must equal the batch
    * interval join on the same inputs; a dropped late row or premature
    * state eviction breaks the driver hash (st02).
    *
    * Like sessionReplay this is a replay HARNESS (bounded input,
    * driver-side feed); the production form is the same join over two
    * readStream sources. Returns (user_id, l_event, r_event).
    */
  /** `joinType = "leftOuter"` additionally verifies the OUTER emission
    * path (st03): an even event with no odd partner inside ±`band` must
    * surface exactly once, null-padded, when the watermark closes its
    * band — premature eviction loses the match, late emission
    * duplicates or drops the outer row, and either breaks the batch
    * LEFT JOIN oracle hash. Sentinel rows are filtered by key sign, so
    * their own outer rows never reach the result.
    */
  /** Replays `events` through STREAMING dedup
    * ([[StreamingOps.dedupWithinWatermark]]) on the derived key
    * `(user_id, hour_bucket)` — the incremental-corpus-dedup shape: an
    * at-least-once feed where only the FIRST arrival per key may
    * survive. Same chunked event-time-ordered protocol as
    * [[sessionReplay]] (deterministic late subset displaced one chunk).
    *
    * The watermark delay here is the dedup HORIZON, not just the
    * lateness bound: a key's state lives until the watermark passes its
    * event time plus the delay, so the replay sizes the delay past the
    * WHOLE event span — within-watermark dedup then equals global
    * DISTINCT on the bounded input, and that equality is the contract
    * (st04): a key re-emitted after premature state eviction, a dropped
    * late row, or a duplicate emission each break the batch oracle
    * hash. In production the horizon is what BOUNDS the state — dedup
    * is exact within it and the state store never outgrows the horizon's
    * key count; a service picks the horizon as its redelivery bound
    * (the reference's at-least-once redeliveries arrive well inside
    * one visibility timeout, ingestor.go:618-648).
    *
    * Replay HARNESS like the others: bounded input, driver-side feed;
    * the production form is the same two calls over `readStream`.
    * Returns (user_id, hour_bucket), the distinct admitted keys.
    */
  def dedupReplay(spark: SparkSession, events: DataFrame, nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("timestamp"))
      .as[(Long, Long, Timestamp)].collect().sortBy(r => (r._3.getTime, r._2))

    val chunks = chunked(rows, nChunks)
    val totalSpanMs = rows.last._3.getTime - rows.head._3.getTime
    val delayHours = math.max(1L, 2 * totalSpanMs / 3600000L + 1)
    val maxTs = rows.last._3.getTime
    val delayMs = delayHours * 3600000L
    // Same displacement as sessionReplay: a displaced FIRST occurrence
    // must still dedup against its partner that now arrives before it.
    val fed = displaced(chunks)(_._2)

    // Conf isolation as in sessionReplay: stateful stages at 8
    // partitions inside a private child session.
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val stream = StreamingOps.dedupWithinWatermark(
      ms.toDF.toDF("user_id", "event_id", "ts")
        .withColumn("hour_bucket", date_trunc("hour", col("ts"))),
      tsCol = "ts", watermark = s"$delayHours hours",
      keys = Seq("user_id", "hour_bucket"))

    val name = s"st_ddreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
        // Dedup emits first arrivals immediately (no watermark wait).
        // Premature-eviction probe (ADVICE r9): the half-delay sentinel
        // advances the watermark to maxTs - delay/2 — a REAL advance
        // past every prior batch's watermark, yet below every real
        // row's ts + delay (delay > 2*span by construction), so no
        // state may be evicted. The re-fed copy of the earliest row
        // must therefore still dedup; an implementation that evicted
        // on the advance would re-admit it and the extra row would
        // break the batch-DISTINCT oracle equality.
        ms.addData(Seq((-1L, -3L, new Timestamp(maxTs + delayMs / 2))))
        q.processAllAvailable()
        ms.addData(Seq(rows.head))
        q.processAllAvailable()
        // Final sentinels: advance the watermark past every key's
        // eviction bound and run full state-GC rounds before the drain
        // (state-cleanup machinery, not a re-admission gate — nothing
        // real is fed after them).
        ms.addData(Seq((-1L, -1L, new Timestamp(maxTs + 2 * delayMs))))
        q.processAllAvailable()
        ms.addData(Seq((-1L, -2L, new Timestamp(maxTs + 4 * delayMs))))
        q.processAllAvailable()
      } finally q.stop()
      val out = replay.table(name)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("hour_bucket"))
        .orderBy("user_id", "hour_bucket")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `docs` through the streaming LSH candidate operator
    * ([[StatefulOps.lshCandidateStream]]) — near-dup detection ON
    * INGEST, the streaming twin of the batch dd02 pipeline's candidate
    * stage. The WHOLE fingerprint pipeline runs inside the streaming
    * query: zero-shuffle minhash signatures
    * ([[graft.operators.TextDedup.minhashSignaturesNoShuffle]] — a pure
    * projection, so it runs unchanged on the stream) → the SHARED
    * banding projection (TextDedup.bandRows — one definition for batch
    * and stream) → band-bucket keyed state emitting each candidate
    * pair when its second member arrives.
    *
    * Docs are fed in `nChunks` doc_id-ordered micro-batches (no event
    * time — candidate emission is arrival-order-invariant, which is
    * exactly the property the gate exercises: the distinct streamed
    * pairs must equal the batch band self-join on ANY chunking).
    * Returns distinct (doc_a, doc_b), ordered.
    */
  def lshCandidateReplay(spark: SparkSession, docs: DataFrame, nChunks: Int = 6): DataFrame = {
    import graft.operators.TextDedup
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING))
      .collect().sortBy(_._1)
    val chunks = chunked(rows, nChunks)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    import replay.implicits._
    val ms = MemoryStream[(Long, String)]
    val bands = TextDedup.bandRows(
        TextDedup.minhashSignaturesNoShuffle(ms.toDF.toDF("doc_id", "text")))
      .select(col("band_id").cast("int"), col("band_key"), col("doc_id").cast("long"))
      .as[(Int, String, Long)]
    val stream = StatefulOps.lshCandidateStream(bands)
      .toDF("doc_a", "doc_b")

    val name = s"st_lshreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        chunks.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch.toSeq); q.processAllAvailable() }
        }
      } finally q.stop()
      // A pair sharing several buckets is emitted once per bucket (the
      // batch join's pre-DISTINCT shape) — dedup at the collection
      // boundary, same as the batch candidate consumer does.
      val out = replay.table(name).distinct().orderBy("doc_a", "doc_b")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays an (id, dhash) image-hash batch through STREAMING
    * perceptual dedup (st15): the SHARED banding projection
    * ([[graft.multimodal.ImageHash.bandRows]] — one definition for
    * batch, index, and stream) runs inside the streaming query, and
    * band-bucket keyed state ([[StatefulOps.dhashDedupStream]]) emits
    * each VERIFIED near pair — popcount at emission, no second pass —
    * when its second member arrives.
    *
    * Hashes are fed in `nChunks` id-ordered micro-batches (no event
    * time — pair emission is arrival-order-invariant, which is exactly
    * the property the gate exercises: the distinct streamed pairs must
    * equal the batch [[graft.multimodal.ImageHash.nearDupPairs]] answer
    * on ANY chunking). Returns distinct (id_a, id_b, hamming), ordered.
    */
  def imageDedupReplay(spark: SparkSession, hashes: DataFrame,
                       maxHamming: Int, nBands: Int = 4,
                       nChunks: Int = 4): DataFrame = {
    import graft.multimodal.ImageHash
    val rows = hashes.select(col("id").cast("long"), col("dhash").cast("long"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .collect().sortBy(_._1)
    val chunks = chunked(rows, nChunks)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    import replay.implicits._
    val ms = MemoryStream[(Long, Long)]
    val bands = ImageHash.bandRows(ms.toDF.toDF("id", "dhash"), nBands)
      .select(col("band").cast("int"), col("bv").cast("long"),
        col("id").cast("long"), col("dhash").cast("long"))
      .as[(Int, Long, Long, Long)]
    val stream = StatefulOps.dhashDedupStream(bands, maxHamming)
      .toDF("id_a", "id_b", "hamming")

    val name = s"st_imgreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        chunks.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch.toSeq); q.processAllAvailable() }
        }
      } finally q.stop()
      // a pair within several shared bands emits once per band — dedup
      // at the collection boundary (st09 contract)
      val out = replay.table(name).distinct().orderBy("id_a", "id_b")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays an (id, frame_idx, dhash) video frame-hash batch through
    * STREAMING video near-dup detection (st17): the SHARED banding
    * projection runs inside the query (frame_idx rides through
    * [[graft.multimodal.ImageHash.bandRows]]'s `col("*")` carry), and
    * (frame_idx, band, bv)-keyed state
    * ([[StatefulOps.videoDhashDedupStream]]) emits each VERIFIED
    * frame-level match when its second member arrives. The per-video
    * frame-count + match-fraction gate of
    * [[graft.multimodal.ImageHash.videoNearDupPairs]] is then applied
    * over the DISTINCT streamed matches at the collection boundary —
    * the nightly roll-up over the day's matched-frame events — in the
    * exact integer form of the batch operator, so mm05's oracle gates
    * the result VERBATIM on any chunking.
    * Returns (id_a, id_b, n_matched), ordered. */
  def videoDedupReplay(spark: SparkSession, frames: DataFrame,
                       maxHamming: Int, minMatchNum: Int, minMatchDen: Int,
                       nBands: Int = 4, nChunks: Int = 4): DataFrame = {
    import graft.multimodal.ImageHash
    require(minMatchDen >= 1 && minMatchNum >= 1 && minMatchNum <= minMatchDen,
      s"match fraction must satisfy 1 <= num <= den, got $minMatchNum/$minMatchDen")
    val rows = frames.select(col("id").cast("long"), col("frame_idx").cast("int"),
        col("dhash").cast("long"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().sortBy(r => (r._1, r._2))
    val nFrames = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val chunks = chunked(rows, nChunks)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    import replay.implicits._
    val ms = MemoryStream[(Long, Int, Long)]
    val bands = ImageHash.bandRows(ms.toDF.toDF("id", "frame_idx", "dhash"), nBands)
      .select(col("frame_idx").cast("int"), col("band").cast("int"),
        col("bv").cast("long"), col("id").cast("long"), col("dhash").cast("long"))
      .as[(Int, Int, Long, Long, Long)]
    val stream = StatefulOps.videoDhashDedupStream(bands, maxHamming)
      .toDF("id_a", "id_b", "frame_idx")

    val name = s"st_vidreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        chunks.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch.toSeq); q.processAllAvailable() }
        }
      } finally q.stop()
      // a match within several shared bands emits once per band —
      // distinct, then the batch operator's count + fraction gate
      val nf = replay.createDataset(nFrames.toSeq)(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
        .toDF("id", "__nf")
      val out = replay.table(name).distinct()
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_matched"))
        .join(nf.select(col("id").as("id_a"), col("__nf").as("__na")), Seq("id_a"))
        .join(nf.select(col("id").as("id_b"), col("__nf").as("__nb")), Seq("id_b"))
        .filter(col("n_matched") * minMatchDen >=
          greatest(col("__na"), col("__nb")) * minMatchNum)
        .select("id_a", "id_b", "n_matched")
        .orderBy("id_a", "id_b")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays an embedding batch through STREAMING semantic dedup
    * against a persisted [[graft.operators.Similarity.saveSemanticIndex]]
    * directory — sd02's nightly batch running ON INGEST (st14, r16
    * directive #5): inside one streaming query,
    *
    *   - each arriving vector is assigned to its cluster with
    *     [[graft.operators.Similarity.assignLocal]] over the COLLECTED
    *     persisted centroids (k·d longs in the task closure — the
    *     broadcast-centroid argmin as a pure projection, integer
    *     arithmetic bit-identical to the batch form);
    *   - the corpus-dominance half is a STATELESS stream-static
    *     equi-join on the cluster key against the index corpus
    *     (directory-partitioned by cluster), cosine-filtered with the
    *     codegen'd expression;
    *   - the batch-vs-batch half is cluster-keyed state
    *     ([[StatefulOps.semanticDropStream]]) emitting the higher id of
    *     each near pair when its second member arrives.
    *
    * Both halves emit DROPPED vec_ids — drop emission is
    * arrival-order-invariant where survivor emission could not be
    * (a later lower-id near-duplicate retroactively dooms an
    * already-seen row; appends cannot retract). Survivors = batch
    * minus distinct drops, assembled at the collection boundary with
    * the same local assignment — and must equal the batch
    * [[graft.operators.Similarity.semanticDedupIncremental]] answer on
    * ANY chunking (the st09 convergence gate; sd02's oracle gates st14
    * verbatim). Returns (vec_id, cluster) survivors.
    */
  def semanticDedupReplay(spark: SparkSession, newBatch: DataFrame,
                          indexPath: String, threshold: Double,
                          nChunks: Int = 6): DataFrame = {
    import graft.operators.Similarity
    val (meta, centroidsDf, _) = Similarity.loadSemanticIndexParts(spark, indexPath)
    val cents: Map[Int, Array[Long]] = centroidsDf
      .select(col("cluster").cast("int"), col("dim").cast("int"), col("c").cast("long"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().groupBy(_._1).map { case (cl, rs) =>
        val arr = new Array[Long](meta.d)
        rs.foreach(r => arr(r._2) = r._3)
        cl -> arr
      }
    val rows = {
      import spark.implicits._
      newBatch.select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
    }
    rows.foreach { case (id, e) =>
      require(e.length == meta.d,
        s"semanticDedupReplay: embedding of length ${e.length} for vec_id $id " +
          s"does not match the index dimensionality d=${meta.d}")
    }
    // id-ordered chunks with the standard %13 displacement — the feed
    // is genuinely out of order, so the convergence gate really does
    // exercise retroactive drops (a displaced lower id arriving AFTER
    // its higher near-duplicate), not just a sorted replay.
    val fed = displaced(chunked(rows, nChunks))(_._1)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    import replay.implicits._
    val ms = MemoryStream[(Long, Seq[Double])]
    val unitScale = meta.unitScale
    val assigned = ms.toDS().map { case (id, e) =>
      (id, Similarity.assignLocal(e, cents, unitScale), e)
    }
    val corpus = replay.read.parquet(s"$indexPath/corpus")
      .select(col("cluster").cast("int").as("cluster"), col("e").as("ce"))
    val dropsCorpus = assigned.toDF("vec_id", "cluster", "e")
      .join(corpus, Seq("cluster"))
      .filter(graft.functions.cosine_similarity(col("e"), col("ce")) >= threshold)
      .select(col("vec_id"))
    val dropsBatch = StatefulOps.semanticDropStream(assigned, threshold)
      .toDF("vec_id")
    val drops = dropsCorpus.unionAll(dropsBatch)

    val name = s"st_semdedup_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = drops.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()
      val dropped = replay.table(name).select("vec_id").distinct()
        .as[Long].collect().toSet
      val survivors = rows.filterNot(r => dropped(r._1))
        .map { case (id, e) =>
          org.apache.spark.sql.Row(id, Similarity.assignLocal(e, cents, unitScale))
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
      spark.createDataFrame(java.util.Arrays.asList(survivors: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `events` through the CUSTOM-KEYED-STATE operator
    * [[StatefulOps.latestByKeyStream]] (flatMapGroupsWithState, Update
    * mode — the stream half of Upsert.latestByKey / CDC view
    * maintenance): records keyed by (user_id, event_type), versioned by
    * `event_id` (the natural monotone sequence number), fed in the same
    * chunked event-time-ordered protocol with the deterministic late
    * subset displaced one chunk.
    *
    * Each micro-batch's Update output is captured via foreachBatch with
    * its batch id, and the harness THROWS unless every key's emitted
    * version sequence is strictly increasing across batches — the
    * changelog a CDC sink would observe must never regress, and this
    * closes the masking gap where a lost incumbent re-emitting an older
    * version could still end at the right final state. The final state
    * per key (last update) must then equal the batch winner — max
    * event_id per (user_id, event_type) — which is the oracle (st05).
    *
    * Replay HARNESS like the others: bounded input, driver-side feed
    * and capture; the production form is the same operator over
    * readStream with a real sink. Returns (user_id, event_type,
    * event_id) — one current row per key.
    */
  def latestByKeyReplay(spark: SparkSession, events: DataFrame,
                        nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_type").cast("string"),
        col("event_id").cast("long"))
      .as[(Long, String, Long)].collect().sortBy(r => (r._3, r._1))

    // Displacement by the version sequence itself (no event-time column
    // here): a displaced record arrives AFTER higher-version records,
    // and the state must keep the incumbent rather than regress.
    val fed = displaced(chunked(rows, nChunks))(_._3)

    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val latest = StatefulOps.latestByKeyStream(
      ms.toDS())(key = t => (t._1, t._2), version = _._3)

    // (batchId, key -> emitted version/row) captured per micro-batch.
    val captured = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(Long, String, Long)])]
    val cp = java.nio.file.Files.createTempDirectory("st_lkreplay-cp").toString
    try {
      val q = latest.writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: Dataset[(Long, String, Long)], batchId: Long) =>
          val rows = batch.collect().toSeq
          captured.synchronized { captured += ((batchId, rows)) }
          ()
        }
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()

      // The changelog must never regress: per key, versions strictly
      // increase in batch order (within a batch each key emits at most
      // once by construction of the operator).
      val byKey = captured.sortBy(_._1).flatMap { case (bid, rs) => rs.map(bid -> _) }
        .groupBy { case (_, r) => (r._1, r._2) }
      byKey.foreach { case (k, updates) =>
        val versions = updates.map(_._2._3)
        require(versions == versions.distinct.sorted,
          s"CDC changelog regressed for key $k: $versions")
      }
      val finals = byKey.map { case (_, updates) => updates.last._2 }.toSeq
      finals.toDF("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `events` through [[StatefulOps.rateLimit]]
    * (flatMapGroupsWithState, Append mode): at most `maxPerKey` events
    * per user_id are admitted across the whole replay, however many
    * micro-batches they span. WHICH events are admitted depends on
    * arrival order (first-come), so the oracle-checkable surface is the
    * admission COUNT per key — LEAST(total, maxPerKey), exactly — which
    * is arrival-order-invariant (st06). An admission-state loss between
    * batches over-admits and breaks the count; an over-eager limiter
    * under-admits and breaks it the other way.
    *
    * Returns (user_id, n_admitted), one row per user_id that sent
    * anything.
    */
  def rateLimitReplay(spark: SparkSession, events: DataFrame,
                      maxPerKey: Long, nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("value").cast("double"),
        col("event_id").cast("long"))
      .as[(Long, Double, Long)].collect().sortBy(r => (r._3, r._1))

    // event_id drives the displacement, then drops out of the feed.
    val fed = displaced(chunked(rows, nChunks))(_._3)
      .map(_.map(r => (r._1, r._2)))

    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val admitted = StatefulOps.rateLimit(ms.toDS(), maxPerKey)

    val name = s"st_rlreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = admitted.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()
      val out = replay.table(name)
        .groupBy(col("_1").as("user_id"))
        .agg(count(lit(1)).as("n_admitted"))
        .select(col("user_id"), col("n_admitted"))
        .orderBy("user_id")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `events` through [[StatefulOps.smallestKByKey]] (st07):
    * deterministic bounded admission — per user_id the k smallest
    * event_ids win regardless of arrival order, so unlike st06 the
    * FULL admitted row set hashes against a batch ROW_NUMBER oracle.
    * Feed protocol as elsewhere: event_id-ordered chunks with the
    * deterministic late subset (id % 13) displaced one chunk forward —
    * a late-but-smaller id must still displace an already-admitted
    * larger one via the Update changelog.
    *
    * The harness THROWS (st05 pattern) unless each key's changelog
    * only improves in batch order: versions strictly increase, the set
    * never shrinks, and a same-size change strictly decreases the set
    * maximum (the operator's stated invariant — state loss or version
    * skew breaks one of the three before the final-state compare can
    * mask it). Returns the final admitted (user_id, event_id) rows.
    */
  def smallestKReplay(spark: SparkSession, events: DataFrame,
                      k: Int, nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)].collect().sortBy(r => (r._2, r._1))

    val fed = displaced(chunked(rows, nChunks))(_._2)

    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val admitted = StatefulOps.smallestKByKey(ms.toDS(), k)

    val captured = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(Long, Long, Seq[Long])])]
    val cp = java.nio.file.Files.createTempDirectory("st_tkreplay-cp").toString
    try {
      val q = admitted.writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: Dataset[(Long, Long, Seq[Long])], batchId: Long) =>
          val rows = batch.collect().toSeq
          captured.synchronized { captured += ((batchId, rows)) }
          ()
        }
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()

      val byKey = captured.sortBy(_._1).flatMap { case (_, rs) => rs }
        .groupBy(_._1)
      byKey.foreach { case (key, updates) =>
        val versions = updates.map(_._2)
        require(versions == versions.distinct.sorted,
          s"admission changelog version regressed for key $key: $versions")
        updates.map(_._3).sliding(2).foreach { w =>
          if (w.size == 2) {
            val (a, b) = (w.head, w.last)
            require(b.size >= a.size && b.size <= k,
              s"admitted set shrank or overflowed for key $key: $a -> $b")
            require(b != a && (b.size > a.size || b.max < a.max),
              s"admitted set did not improve for key $key: $a -> $b")
          }
        }
      }
      val finals = byKey.toSeq.flatMap { case (key, updates) =>
        updates.last._3.map(id => (key, id))
      }
      finals.toDF("user_id", "event_id").orderBy("user_id", "event_id")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  def intervalJoinReplay(spark: SparkSession, events: DataFrame,
                         band: String = "5 minutes", nChunks: Int = 6,
                         joinType: String = "inner"): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("timestamp"))
      .as[(Long, Long, Timestamp)].collect().sortBy(r => (r._3.getTime, r._2))

    val chunks = chunked(rows, nChunks)
    val spanMs = chunks.map(c => c.last._3.getTime - c.head._3.getTime).max
    val delayHours = math.max(1L, 2 * spanMs / 3600000L + 1)
    val maxTs = rows.last._3.getTime
    val delayMs = delayHours * 3600000L
    // Same displacement as sessionReplay: the late subset lands one
    // chunk forward, on whichever stream its parity routes it to.
    val fed = displaced(chunks)(_._2)

    // Conf isolation as in sessionReplay: stateful stages at 8
    // partitions inside a private child session. (Measured: dropping to
    // 4 does not help — the replay cost is per-micro-batch planning of
    // the join + two state stores, not per-partition state I/O.)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val msL = MemoryStream[(Long, Long, Timestamp)]
    val msR = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingOps.intervalJoin(
      msL.toDF.toDF("user_id", "l_event", "lts"),
      msR.toDF.toDF("user_id", "r_event", "rts"),
      key = "user_id", leftTs = "lts", rightTs = "rts",
      band = band, watermark = s"$delayHours hours", joinType = joinType)

    val name = s"st_ijreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        fed.foreach { batch =>
          val (l, r) = batch.partition(_._2 % 2 == 0)
          if (l.nonEmpty) msL.addData(l)
          if (r.nonEmpty) msR.addData(r)
          if (batch.nonEmpty) q.processAllAvailable()
        }
        // Sentinels on BOTH streams (the join's watermark is the min of
        // the two): distinct negative keys so they can never join each
        // other, two rounds so eviction is exercised before the drain.
        msL.addData(Seq((-1L, -2L, new Timestamp(maxTs + 2 * delayMs))))
        msR.addData(Seq((-3L, -1L, new Timestamp(maxTs + 2 * delayMs))))
        q.processAllAvailable()
        msL.addData(Seq((-1L, -4L, new Timestamp(maxTs + 4 * delayMs))))
        msR.addData(Seq((-3L, -3L, new Timestamp(maxTs + 4 * delayMs))))
        q.processAllAvailable()
      } finally q.stop()
      val out = replay.table(name)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("l_event"), col("r_event"))
        .orderBy("user_id", "l_event", "r_event")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `events` (user_id, ts, event_type) through the streaming
    * funnel ([[StatefulOps.funnelStream]]) with the standard displaced
    * late subset, and returns the FINAL (user_id, stage) per user —
    * which must equal the batch strictly-after funnel of
    * [[graft.operators.Funnel]] (the st08 oracle). The displacement is
    * what makes this a real test: a late earlier-stage arrival must
    * re-qualify later-stage events that were useless when they arrived,
    * or the final stage comes out too shallow and breaks the hash.
    *
    * Harness invariant asserted per user: the emitted stage never
    * regresses across micro-batches (information only accumulates).
    */
  def funnelReplay(spark: SparkSession, events: DataFrame,
                   stages: Seq[String], nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val idx = stages.zipWithIndex.toMap
    val rows = events.select(col("user_id").cast("long"),
        unix_micros(col("ts").cast("timestamp")).as("tsu"),
        col("event_type").cast("string"), col("event_id").cast("long"))
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._2, r._4))

    // event_id drives the displacement, then drops out of the feed;
    // non-funnel types ride along with stage -1 (they register the user).
    val fed = displaced(chunked(rows, nChunks))(_._4)
      .map(_.map(r => (r._1, r._2, idx.getOrElse(r._3, -1))))

    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long, Int)]
    val staged = StatefulOps.funnelStream(ms.toDS(), stages.length)
    runFunnelCapture(spark, staged,
      fed.filter(_.nonEmpty).map(b => () => { ms.addData(b); () }))
  }

  /** [[funnelReplay]] through the event-time-TTL operator
    * ([[StatefulOps.funnelStreamTtl]]) — the st10 driver gate. The
    * horizon and watermark delay are derived from the feed's own event
    * span (2x span + 1 h), so every event falls INSIDE the horizon and
    * the TTL form must converge to the SAME batch strictly-after oracle
    * as st08: the entry proves the production (state-evicting) operator
    * is semantics-identical to the untimed one when nothing ages out —
    * eviction behavior itself is spec-gated (StatefulTtlSpec), since a
    * shrinking-state run necessarily diverges from any batch oracle.
    */
  def funnelTtlReplay(spark: SparkSession, events: DataFrame,
                      stages: Seq[String], nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val idx = stages.zipWithIndex.toMap
    val rows = events.select(col("user_id").cast("long"),
        unix_micros(col("ts").cast("timestamp")).as("tsu"),
        col("event_type").cast("string"), col("event_id").cast("long"))
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._2, r._4))

    val fed = displaced(chunked(rows, nChunks))(_._4)
      .map(_.map(r => (r._1, r._2, idx.getOrElse(r._3, -1),
        new Timestamp(r._2 / 1000))))

    val spanMs = (rows.last._2 - rows.head._2) / 1000
    val horizonMs = 2 * spanMs + 3600000L
    val delayHours = math.max(1L, 2 * spanMs / 3600000L + 1)

    val replay = replaySession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long, Int, Timestamp)]
    val staged = StatefulOps.funnelStreamTtl(ms.toDS(), stages.length,
      delayThreshold = s"$delayHours hours", horizonMs = horizonMs)
    runFunnelCapture(spark, staged,
      fed.filter(_.nonEmpty).map(b => () => { ms.addData(b); () }))
  }

  /** Replays a change log through [[StatefulOps.scd2StreamTtl]] (st13):
    * streaming SCD2 maintenance must converge to the batch
    * [[graft.operators.Upsert.scd2]] history. The standard
    * late-displacement chunking applies and is THE point here: a late
    * change landing mid-timeline must create its version AND
    * re-suppress any later version whose attr now matches its
    * predecessor — the operator re-derives each touched key's full
    * timeline per batch, and the harness keeps only each key's LAST
    * emission (Update semantics) for the compare. Horizon/delay derive
    * from the feed's own span; eviction is spec-gated in
    * StatefulTtlSpec.
    *
    * @param changes (key, change_id, ts_days, attr)
    * @return (custkey, change_id, priority, valid_from_days,
    *         valid_to_days [null = open], is_current)
    */
  def scd2Replay(spark: SparkSession, changes: DataFrame,
                 nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = changes.select(col("key").cast("long"), col("change_id").cast("long"),
        col("ts_days").cast("long"), col("attr").cast("string"))
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._3, r._2))
    val fed = displaced(chunked(rows, nChunks))(_._2)
      .map(_.map(r => (r._1, r._2, r._3, r._4, new Timestamp(r._3 * 86400000L))))
    val spanMs = (rows.last._3 - rows.head._3) * 86400000L
    val horizonMs = 2 * spanMs + 3600000L
    val delayHours = math.max(1L, 2 * spanMs / 3600000L + 1)

    val replay = replaySession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Timestamp)]
    val timeline = StatefulOps.scd2StreamTtl(ms.toDS(),
      delayThreshold = s"$delayHours hours", horizonMs = horizonMs)

    val captured =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long, Long, String, Long, Boolean)])]
    val cp = java.nio.file.Files.createTempDirectory("st_scd2replay-cp").toString
    try {
      val q = timeline.writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch {
          (batch: Dataset[(Long, Long, Long, String, Long, Boolean)], batchId: Long) =>
            val rs = batch.collect().toSeq
            captured.synchronized { captured += ((batchId, rs)) }
            ()
        }
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()
      // last emission per key wins (each emission is the key's FULL timeline)
      val lastBatchPerKey = captured.sortBy(_._1)
        .flatMap { case (bid, rs) => rs.map(r => (r._1, bid)) }
        .groupBy(_._1).map { case (k, bs) => k -> bs.map(_._2).max }
      val finalRows = captured.flatMap { case (bid, rs) =>
        rs.filter(r => lastBatchPerKey(r._1) == bid)
      }.distinct
      finalRows.toSeq
        .toDF("custkey", "change_id", "valid_from_days", "priority", "__vt", "is_current")
        .select(col("custkey"), col("change_id"), col("priority"),
          col("valid_from_days"),
          when(col("__vt") === -1L, lit(null).cast("long"))
            .otherwise(col("__vt")).as("valid_to_days"),
          col("is_current"))
        .orderBy("custkey", "valid_from_days", "change_id")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `events` through a STREAM-STATIC broadcast enrichment
    * join (st12) — the most common production streaming shape (facts
    * on the stream, a dimension on the batch side) and the one
    * STATELESS member of the replay family: no keyed state, no
    * watermark semantics, so the contract is simply "every event is
    * enriched exactly as the batch join would, whatever the chunking"
    * — which is why this replay DOES use the standard late-displacement
    * twist (arrival order must not matter). The dimension is
    * broadcast; a streaming micro-batch join against an unbroadcast
    * growing dimension would re-scan it per batch, which is the
    * documented production caveat (snapshot the dim, or use
    * latestByKeyStream for slowly-changing keys).
    *
    * The dimension frame is re-created inside the private replay
    * session (datasets must not cross sessions).
    *
    * @param dim static (user_id, nation) rows
    * @return (event_id, user_id, nation) for every event, left-join
    *         semantics for users missing from the dimension
    */
  def enrichReplay(spark: SparkSession, events: DataFrame, dim: DataFrame,
                   nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._2)
    val fed = displaced(chunked(rows, nChunks))(_._2)

    val replay = replaySession(spark)
    val dimRows = dim.select(col("user_id").cast("long"), col("nation").cast("long"))
      .collect()
    val dimLocal = replay.createDataFrame(
      java.util.Arrays.asList(dimRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("nation",
          org.apache.spark.sql.types.LongType))))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val enriched = ms.toDF.toDF("user_id", "event_id")
      .join(broadcast(dimLocal), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("nation"))

    val name = s"st_enreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = enriched.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()
      val out = replay.table(name).orderBy("event_id")
      require(out.count() == rows.length,
        s"stream-static enrich dropped or duplicated rows: ${out.count()} vs ${rows.length}")
      val schema = out.schema
      val resultRows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays `events` through [[StatefulOps.rollingZscoreStreamTtl]]
    * (st11): anomaly flagging on ingest must equal the batch
    * [[graft.operators.TimeSeries.rollingZscore]] oracle (ts04's SQL)
    * row for row. Protocol difference from the other replays,
    * deliberate and documented: the feed is (ts, event_id)-ordered
    * WITHOUT the late-displacement twist — a positional rolling window
    * is order-sensitive by definition, so the contract under test is
    * "in-order streaming equals the batch sort" (the operator's
    * docstring spells the cross-batch disorder caveat). Horizon and
    * watermark delay derive from the feed's own span (funnelTtlReplay
    * discipline) so no key ages out mid-run; eviction itself is
    * spec-gated in StatefulTtlSpec. The harness THROWS if any event is
    * flagged twice (each event is processed exactly once).
    */
  def zscoreReplay(spark: SparkSession, events: DataFrame,
                   window: Int, minBaseline: Int, threshold: Int,
                   nChunks: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("vu").cast("long"), unix_micros(col("ts").cast("timestamp")).as("tsu"))
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._4, r._2))
    val fed = chunked(rows, nChunks)
      .map(_.toSeq.map(r => (r._1, r._2, r._3, new Timestamp(r._4 / 1000))))
    val spanMs = (rows.last._4 - rows.head._4) / 1000
    val horizonMs = 2 * spanMs + 3600000L
    val delayHours = math.max(1L, 2 * spanMs / 3600000L + 1)

    val replay = replaySession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Long, Long, Timestamp)]
    val flagged = StatefulOps.rollingZscoreStreamTtl(ms.toDS(),
      window, minBaseline, threshold,
      delayThreshold = s"$delayHours hours", horizonMs = horizonMs)

    val name = s"st_zsreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = flagged.writeStream.outputMode("update")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        fed.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()
      val out = replay.table(name)
        .toDF("user_id", "event_id", "units", "base_n", "zsq_centi")
      val n = out.count()
      val distinctIds = out.select("event_id").distinct().count()
      require(n == distinctIds,
        s"an event was flagged more than once: $n rows, $distinctIds distinct event ids")
      val ordered = out.orderBy("user_id", "event_id")
      val schema = ordered.schema
      val resultRows = ordered.collect()
      spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), schema)
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Shared funnel-replay capture: run `staged` against the batch feed
    * thunks, assert per-user stage monotonicity across micro-batches
    * (information only accumulates), and return the final stage per
    * user. One harness for [[funnelReplay]] and [[funnelTtlReplay]] so
    * the protocol cannot drift. */
  /** Replays an (id, seg_idx, dhash) position-hash batch through
    * STREAMING offset-tolerant near-dup matching (st19,
    * [[StatefulOps.offsetDhashDedupStream]]) — au03's bounded
    * alignment sweep ON INGEST, and equally the trim-tolerant form
    * st17 lacks for video (position sources are interchangeable). The
    * role replication (each item registered at its true position in
    * the B role and at each aligned position in the A role) is a pure
    * in-stream projection over the SHARED banding rows; verified
    * match events stream out, and the best-single-shift +
    * match-fraction gate of
    * [[graft.multimodal.ImageHash.videoNearDupPairsOffset]] is applied
    * over the DISTINCT events at the collection boundary in the exact
    * integer form of the batch operator — so au03's oracle gates the
    * result VERBATIM on any chunking.
    * Returns (id_a, id_b, n_matched, shift), ordered. */
  def offsetDedupReplay(spark: SparkSession, segs: DataFrame,
                        maxHamming: Int, minMatchNum: Int, minMatchDen: Int,
                        maxShift: Int, nBands: Int = 4,
                        nChunks: Int = 3): DataFrame = {
    import graft.multimodal.ImageHash
    require(maxShift >= 0, s"maxShift must be >= 0, got $maxShift")
    require(nBands >= 2 && 64 % nBands == 0,
      s"nBands must divide 64 and be >= 2, got $nBands")
    require(maxHamming >= 0 && maxHamming < nBands,
      s"maxHamming must be in [0, nBands) for guaranteed recall, " +
        s"got maxHamming=$maxHamming nBands=$nBands")
    require(minMatchDen >= 1 && minMatchNum >= 1 && minMatchNum <= minMatchDen,
      s"match fraction must satisfy 1 <= num <= den, got $minMatchNum/$minMatchDen")
    val rows = segs.select(col("id").cast("long"),
        col("seg_idx").cast("int"), col("dhash").cast("long"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().sortBy(r => (r._1, r._2))
    val chunks = chunked(rows, nChunks)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    import replay.implicits._
    val ms = MemoryStream[(Long, Int, Long)]
    // shared banding projection (seg_idx rides the col("*") carry),
    // then the role replication: B at the true position, A at each
    // aligned position pos = seg_idx − s (a pure projection — the
    // batch operator's constant-factor replication, in-stream)
    val roles = ImageHash.bandRows(
        ms.toDF.toDF("id", "seg_idx", "dhash"), nBands)
      .select(col("id"), col("seg_idx"), col("dhash"), col("band"), col("bv"),
        explode(concat(
          array(struct(lit(false).as("isA"), lit(0).as("shift"))),
          transform(sequence(lit(-maxShift), lit(maxShift)),
            s => struct(lit(true).as("isA"), s.cast("int").as("shift")))))
          .as("role"))
      .select(
        when(col("role.isA"), col("seg_idx") - col("role.shift"))
          .otherwise(col("seg_idx")).cast("int").as("pos"),
        col("band").cast("int"), col("bv").cast("long"),
        col("id").cast("long"), col("dhash").cast("long"),
        col("role.isA").as("isA"), col("role.shift").cast("int").as("shift"))
      .as[(Int, Int, Long, Long, Long, Boolean, Int)]
    val stream = StatefulOps.offsetDhashDedupStream(roles, maxHamming)
      .toDF("id_a", "id_b", "shift", "pos")

    val name = s"st_offreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        chunks.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch.toSeq); q.processAllAvailable() }
        }
      } finally q.stop()
      // the nightly roll-up: distinct matched-(position, shift) events →
      // per-shift counts → best single shift (ties → smaller shift) →
      // the exact integer fraction gate over the LONGER clip
      val events = replay.table(name)
        .as[(Long, Long, Int, Int)].collect().toSet
      val nSegs = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val counts = events.groupBy(e => (e._1, e._2, e._3)).view
        .mapValues(_.size.toLong)
      val best = counts.keys.groupBy(k => (k._1, k._2)).map { case (pair, ks) =>
        val (n, shift) = ks.map(k => (counts((pair._1, pair._2, k._3)), k._3))
          .maxBy { case (n, s) => (n, -s) }
        (pair._1, pair._2, n, shift)
      }
      val out = best.filter { case (a, b, n, _) =>
        n * minMatchDen >= math.max(nSegs(a), nSegs(b)) * minMatchNum
      }.toSeq.sortBy(p => (p._1, p._2))
      spark.createDataFrame(
        java.util.Arrays.asList(out.map(p =>
          org.apache.spark.sql.Row(p._1, p._2, p._3, p._4)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id_a",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("id_b",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_matched",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("shift",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays a NEW batch of (id, seg_idx, dhash) position-hashes
    * through STREAMING incremental offset-tolerant matching against a
    * PERSISTED [[graft.multimodal.ImageHash.saveFrameIndex]] corpus
    * (st20 — au04 ON INGEST, the composition an ingest-time
    * trim-tolerant dedup user runs): the in-stream role replication is
    * [[offsetDedupReplay]]'s, the (indexed × new) candidates come from
    * two STREAM-STATIC equi-joins against the bands table (stateless —
    * the index side never enters state), and the (new × new)
    * candidates from [[StatefulOps.offsetDhashDedupStream]] — all
    * three branches unioned behind one Append-mode query. The
    * best-shift + fraction gate rolls up distinct events at the
    * collection boundary, with the INDEXED side's clip lengths from
    * the index's own counts/ table (never a corpus re-scan).
    * Chunking-invariant; au04's oracle gates it VERBATIM.
    * Returns (id_a, id_b, n_matched, shift), ordered. */
  def incrementalOffsetDedupReplay(spark: SparkSession, newSegs: DataFrame,
                                   indexPath: String, maxHamming: Int,
                                   minMatchNum: Int, minMatchDen: Int,
                                   maxShift: Int, nChunks: Int = 3): DataFrame = {
    import graft.multimodal.ImageHash
    require(maxShift >= 0, s"maxShift must be >= 0, got $maxShift")
    require(minMatchDen >= 1 && minMatchNum >= 1 && minMatchNum <= minMatchDen,
      s"match fraction must satisfy 1 <= num <= den, got $minMatchNum/$minMatchDen")
    val rows = newSegs.select(col("id").cast("long"),
        col("seg_idx").cast("int"), col("dhash").cast("long"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().sortBy(r => (r._1, r._2))
    val chunks = chunked(rows, nChunks)
    val replay = replaySession(spark)
    val (idx, oldCounts, nBands) = ImageHash.loadFrameIndex(replay, indexPath)
    require(maxHamming >= 0 && maxHamming < nBands,
      s"maxHamming must be in [0, nBands) for guaranteed recall, " +
        s"got maxHamming=$maxHamming nBands=$nBands")
    val idxA = idx.select(col("id").cast("long").as("id_o"),
      col("dhash").as("ho"), col("frame_idx").as("pos"), col("bucket"))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    import replay.implicits._
    val ms = MemoryStream[(Long, Int, Long)]
    val banded = ImageHash.bandRows(
        ms.toDF.toDF("id", "seg_idx", "dhash"), nBands)
      .withColumn("bucket", concat_ws("#", col("band"), col("bv")))
    val shifts = explode(sequence(lit(-maxShift), lit(maxShift))).as("shift")
    val nA = banded.select(col("id").as("id_n"), col("dhash").as("hn"),
        col("seg_idx"), col("bucket"), shifts)
      .select(col("id_n"), col("hn"), col("shift"),
        (col("seg_idx") - col("shift")).as("pos"), col("bucket"))
    val nBp = banded.select(col("id").as("id_n"), col("dhash").as("hn"),
        col("seg_idx"), col("bucket"), shifts)
      .select(col("id_n"), col("hn"), col("shift"),
        (col("seg_idx") + col("shift")).as("pos"), col("bucket"))
    // (indexed × new): two stream-static equi-joins, batch orientation
    val newOld = nA.join(idxA, Seq("bucket", "pos"))
      .filter(col("id_n") < col("id_o") &&
        bit_count(col("hn").bitwiseXOR(col("ho"))) <= maxHamming)
      .select(col("id_n").as("id_a"), col("id_o").as("id_b"),
        col("shift"), col("pos"))
    val oldNew = nBp.join(idxA, Seq("bucket", "pos"))
      .filter(col("id_o") < col("id_n") &&
        bit_count(col("hn").bitwiseXOR(col("ho"))) <= maxHamming)
      .select(col("id_o").as("id_a"), col("id_n").as("id_b"),
        col("shift"), col("pos"))
    // (new × new): the st19 state machine over the batch's roles
    val roles = banded
      .select(col("id"), col("dhash"), col("seg_idx"), col("band"), col("bv"),
        explode(concat(
          array(struct(lit(false).as("isA"), lit(0).as("shift"))),
          transform(sequence(lit(-maxShift), lit(maxShift)),
            s => struct(lit(true).as("isA"), s.cast("int").as("shift")))))
          .as("role"))
      .select(
        when(col("role.isA"), col("seg_idx") - col("role.shift"))
          .otherwise(col("seg_idx")).cast("int").as("pos"),
        col("band").cast("int"), col("bv").cast("long"),
        col("id").cast("long"), col("dhash").cast("long"),
        col("role.isA").as("isA"), col("role.shift").cast("int").as("shift"))
      .as[(Int, Int, Long, Long, Long, Boolean, Int)]
    val newNew = StatefulOps.offsetDhashDedupStream(roles, maxHamming)
      .toDF("id_a", "id_b", "shift", "pos")
    val unified = newOld.unionAll(oldNew).unionAll(newNew)

    val name = s"st_incoffreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = unified.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        chunks.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch.toSeq); q.processAllAvailable() }
        }
      } finally q.stop()
      val events = replay.table(name)
        .as[(Long, Long, Int, Int)].collect().toSet
      val nSegs = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap ++
        oldCounts.select(col("id").cast("long"), col("n_frames").cast("long"))
          .as[(Long, Long)].collect().toMap
      val counts = events.groupBy(e => (e._1, e._2, e._3)).view
        .mapValues(_.size.toLong)
      val best = counts.keys.groupBy(k => (k._1, k._2)).map { case (pair, ks) =>
        val (n, shift) = ks.map(k => (counts((pair._1, pair._2, k._3)), k._3))
          .maxBy { case (n, s) => (n, -s) }
        (pair._1, pair._2, n, shift)
      }
      val out = best.filter { case (a, b, n, _) =>
        n * minMatchDen >= math.max(nSegs(a), nSegs(b)) * minMatchNum
      }.toSeq.sortBy(p => (p._1, p._2))
      spark.createDataFrame(
        java.util.Arrays.asList(out.map(p =>
          org.apache.spark.sql.Row(p._1, p._2, p._3, p._4)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id_a",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("id_b",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_matched",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("shift",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Streaming CROSS-MODAL curation (st18 — r18 directive #7): tp09's
    * three-modality pipeline ON INGEST — documents, hashed images, and
    * fingerprinted audio arrive as three streams and run through their
    * OWN streaming machinery inside ONE streaming query, behind one
    * unified survivor stream:
    *
    *   text:  per-row gate projections
    *          ([[graft.operators.TextAnalysis.rowGates]] — pure column
    *          arithmetic, bit-identical to the batch aggregates) run
    *          BEFORE the keyed state (the map-side-gates-first scale
    *          lesson), then first-occurrence exact dedup
    *          ([[StatefulOps.firstByKeyStream]] keyed by text) emits
    *          each survivor the moment it arrives;
    *   image: pixel-floor gate (stateless filter) → the SHARED banding
    *          projection → st15's band-bucket state machine
    *          ([[StatefulOps.dhashDedupStream]]) emitting verified
    *          pairs;
    *   audio: RMS silence gate → the same state machine at audio's own
    *          band geometry (st16).
    *
    * All three stateful branches are Append-mode, so their UNION is one
    * legal streaming query (Spark's multiple-stateful-operator
    * contract) — one checkpoint, one sink, the operational shape an
    * ingest-time curation user runs. Pair events roll up at the
    * collection boundary into the first-occurrence survivor rule (a
    * gated item drops iff it appears as the HIGHER id of a verified
    * pair) — the nightly roll-up, exactly as videoDedupReplay's
    * fraction gate. Text emission is first-arrival; id-ordered feeding
    * makes that the batch MIN rule, and pair emission is
    * arrival-order-invariant, so tp09's oracle gates the result
    * VERBATIM on any chunking.
    * Returns (modality, item_id), ordered. */
  def crossModalCurateReplay(spark: SparkSession, docs: DataFrame,
                             images: DataFrame, audio: DataFrame,
                             langs: Seq[String], minQuality: Double,
                             minTokens: Long, minPixels: Long, minRms: Double,
                             imageMaxHamming: Int, audioMaxHamming: Int,
                             imageNBands: Int, audioNBands: Int,
                             nChunks: Int = 3): DataFrame = {
    import graft.multimodal.ImageHash
    import org.apache.spark.sql.Encoders
    val docRows = docs.select(col("doc_id").cast("long"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .collect().sortBy(_._1)
    val imgRows = images.select(col("id").cast("long"), col("dhash").cast("long"),
        col("width").cast("long"), col("height").cast("long"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong))
      .collect().sortBy(_._1)
    val auRows = audio.select(col("id").cast("long"), col("afp").cast("long"),
        col("rms").cast("double"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaDouble))
      .collect().sortBy(_._1)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    import replay.implicits._
    val msText = MemoryStream[(Long, String)]
    val msImg = MemoryStream[(Long, Long, Long, Long)]
    val msAu = MemoryStream[(Long, Long, Double)]

    val textOut = graft.streaming.StatefulOps.firstByKeyStream(
        msText.toDF.toDF("doc_id", "text")
          .withColumn("g", graft.operators.TextAnalysis.rowGates(col("text")))
          .filter(col("g.pred_lang").isin(langs: _*) &&
            col("g.quality") >= minQuality && col("g.n_tokens") >= minTokens)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)])(
        _._2, (a, b) => if (a._1 <= b._1) a else b)
      .map { case (id, _) => ("text", id, -1L) }
    val imgOut = StatefulOps.dhashDedupStream(
        ImageHash.bandRows(
          msImg.toDF.toDF("id", "dhash", "width", "height")
            .filter(col("width") * col("height") >= minPixels)
            .select("id", "dhash"), imageNBands)
          .select(col("band").cast("int"), col("bv").cast("long"),
            col("id").cast("long"), col("dhash").cast("long"))
          .as[(Int, Long, Long, Long)], imageMaxHamming)
      .map { case (a, b, _) => ("image", a, b) }
    val auOut = StatefulOps.dhashDedupStream(
        ImageHash.bandRows(
          msAu.toDF.toDF("id", "afp", "rms")
            .filter(col("rms") >= minRms)
            .select(col("id"), col("afp").as("dhash")), audioNBands)
          .select(col("band").cast("int"), col("bv").cast("long"),
            col("id").cast("long"), col("dhash").cast("long"))
          .as[(Int, Long, Long, Long)], audioMaxHamming)
      .map { case (a, b, _) => ("audio", a, b) }
    val unified = textOut.toDF("modality", "a", "b")
      .unionAll(imgOut.toDF("modality", "a", "b"))
      .unionAll(auOut.toDF("modality", "a", "b"))

    val name = s"st_xmodalreplay_${runSeq.incrementAndGet()}"
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp").toString
    try {
      val q = unified.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      try {
        val dc = chunked(docRows, nChunks)
        val ic = chunked(imgRows, nChunks)
        val ac = chunked(auRows, nChunks)
        (0 until math.max(dc.length, math.max(ic.length, ac.length))).foreach { i =>
          if (i < dc.length && dc(i).nonEmpty) msText.addData(dc(i).toSeq)
          if (i < ic.length && ic(i).nonEmpty) msImg.addData(ic(i).toSeq)
          if (i < ac.length && ac(i).nonEmpty) msAu.addData(ac(i).toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      // nightly roll-up: the first-occurrence survivor rule over the
      // unified event stream — text events ARE survivors; a gated
      // image/audio item drops iff it appears as some pair's higher id
      val events = replay.table(name)
        .as[(String, Long, Long)].collect()
      val textSurv = events.collect { case ("text", id, _) => id }.toSet
      val imgDrop = events.collect { case ("image", _, b) => b }.toSet
      val auDrop = events.collect { case ("audio", _, b) => b }.toSet
      val out =
        (textSurv.toSeq.map(("text", _)) ++
          imgRows.collect { case (id, _, w, h)
            if w * h >= minPixels && !imgDrop(id) => ("image", id) } ++
          auRows.collect { case (id, _, rms)
            if rms >= minRms && !auDrop(id) => ("audio", id) })
          .sortBy(p => (p._1, p._2))
      spark.createDataFrame(
        java.util.Arrays.asList(out.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("modality",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("item_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
    } finally {
      try replay.catalog.dropTempView(name) catch { case _: Exception => () }
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  private def runFunnelCapture(spark: SparkSession,
                               staged: Dataset[(Long, Int)],
                               batches: Seq[() => Unit]): DataFrame = {
    import spark.implicits._
    val captured = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Int)])]
    val cp = java.nio.file.Files.createTempDirectory("st_fnreplay-cp").toString
    try {
      val q = staged.writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: Dataset[(Long, Int)], batchId: Long) =>
          val rs = batch.collect().toSeq
          captured.synchronized { captured += ((batchId, rs)) }
          ()
        }
        .start()
      try {
        batches.foreach { add => add(); q.processAllAvailable() }
      } finally q.stop()

      val byUser = captured.sortBy(_._1).flatMap { case (bid, rs) => rs.map(bid -> _) }
        .groupBy { case (_, r) => r._1 }
      byUser.foreach { case (u, updates) =>
        val ss = updates.map(_._2._2)
        require(ss == ss.sorted,
          s"funnel stage regressed for user $u across batches: $ss")
      }
      val finals = byUser.map { case (u, updates) => (u, updates.last._2._2) }.toSeq
      finals.toDF("user_id", "stage").orderBy("user_id")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  /** Replays a stream of probe vectors through ANN SEARCH against the
    * PERSISTED IVF-PQ index (st21 — r19 directive #5, retrieval's
    * production shape: a query/ingest stream answered top-k per probe
    * while the index stays on disk). Each micro-batch of probes runs
    * [[graft.operators.ProductQuantizer.ivfPqTopKIndexedBatch]] inside
    * `foreachBatch` — the micro-batch IS the bounded probe set the
    * batched searcher's contract wants (`maxProbes` caps the per-batch
    * driver-collect axis exactly as in pq08), so every batch carries
    * pq06/pq08's whole scale shape: per-probe list ranking over the
    * broadcast coarse table, LITERAL partition filters for the probed
    * list union on the codes scan, per-(probe, list) broadcast ADC
    * tables, probe-keyed top-k. Per-probe results are independent, so
    * the union over micro-batches equals the one-batch answer on ANY
    * chunking — pq08's oracle gates st21 VERBATIM. Returns
    * (probe_id, vec_id, dist_u, rk), ordered by (probe_id, rk). */
  def annSearchReplay(spark: SparkSession, probes: DataFrame,
                      indexPath: String, topK: Int, nProbe: Int,
                      nChunks: Int = 3, maxProbes: Int = 10000): DataFrame = {
    import spark.implicits._
    val rows = probes
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val chunks = chunked(rows, nChunks)
    val replay = replaySession(spark)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = replay.sqlContext
    val ms = MemoryStream[(Long, Seq[Double])]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    val cp = java.nio.file.Files.createTempDirectory("st_annreplay-cp").toString
    try {
      val q = ms.toDF().toDF("vec_id", "embedding")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val rs = graft.operators.ProductQuantizer.ivfPqTopKIndexedBatch(
              batch, indexPath, topK, nProbe, maxProbes)
            .select(col("probe_id").cast("long"), col("vec_id").cast("long"),
              col("dist_u").cast("long"), col("rk").cast("int"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
          results.synchronized { results ++= rs }
          ()
        }
        .start()
      try {
        chunks.foreach { batch =>
          if (batch.nonEmpty) { ms.addData(batch.toSeq); q.processAllAvailable() }
        }
      } finally q.stop()
      results.toSeq.toDF("probe_id", "vec_id", "dist_u", "rk")
        .orderBy("probe_id", "rk")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(cp)).deleteRecursively()
    }
  }
}
