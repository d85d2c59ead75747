package graft.ingest

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Transform result row: exactly one of
  *   - value set   → a transformed record,
  *   - error set   → failure-routed envelope (dead-letter),
  *   - neither     → deliberate drop (still acknowledged).
  */
case class Routed[T](value: Option[T], error: Option[String], payload: String)

/** The capability-parity ingestion pipeline (SURVEY.md §2-A):
  *
  * {{{
  * source → transform (flatMap 1→N | drop | fail-route) →
  *   micro-batch (trigger = FlushInterval; count/bytes = source rate limits) →
  *   UTC y/m/d/h key layout → parquet encode (none|snappy|gzip|zstd) →
  *   sink write (with retry) → offset commit
  * }}}
  *
  * Guarantee parity with the reference (ingestor.go:57-60): the
  * checkpoint (ack) advances ONLY after a successful sink write — a
  * failed `foreachBatch` rethrows, the micro-batch is not committed, and
  * the data is reprocessed on restart (at-least-once into the sink, no
  * loss). Failed records are routed to the dead-letter output instead of
  * being lost or blocking the pipeline (A5); config errors (bad codec)
  * are fatal at construction while runtime errors are counted and
  * retried (A25 error taxonomy).
  */
final case class IngestPipeline[T <: Product : TypeTag](
    transformer: Transformer[T],
    sinkPath: String,
    checkpointPath: String,
    policy: BatchPolicy = BatchPolicy(),
    codec: String = "snappy",
    dlqPath: Option[String] = None,
    retry: SimpleRetry = SimpleRetry(),
    eventTimeCol: Option[String] = None,
    payloadLogEvery: Int = 0,
    writePartitions: Option[Int] = None,
    controlId: Option[String] = None,
    log: graft.observability.KvLogger = new graft.observability.KvLogger.Line()) extends Serializable {

  // Fatal at construction, mirroring ParseParquetCompression (A25).
  private val codecOption: String = ParquetCodec.parse(codec)

  private implicit def routedEncoder: Encoder[Routed[T]] = Encoders.product[Routed[T]]

  /** Event-hour span (max − min + 1) of the last flush that wrote rows;
    * `None` before the first. `foreachBatch` runs on the driver, one
    * batch at a time per query. */
  @volatile private[ingest] var lastHourSpan: Option[Long] = None

  /** flatMap 1→N with drop and failure routing (A3/A4/A5). */
  def route(envs: Dataset[Envelope]): Dataset[Routed[T]] = {
    val tf = transformer
    envs.flatMap { e =>
      try {
        val rs = tf.transform(e)
        if (rs.isEmpty) Seq(Routed[T](None, None, e.payload))
        else rs.map(r => Routed[T](Some(r), None, e.payload))
      } catch {
        case NonFatal(ex) =>
          Seq(Routed[T](None,
            Some(s"${ex.getClass.getName}: ${ex.getMessage}".take(512)), e.payload))
      }
    }
  }

  /** One micro-batch flush: split good/bad/dropped, write the good rows
    * to time-partitioned parquet (retry-wrapped), bad rows to the DLQ,
    * publish metrics. Rethrows on sink failure so the offset range is
    * NOT committed (the ack-after-write invariant).
    */
  def processBatch(batch: Dataset[Routed[T]], batchId: Long): Unit = {
    try {
      // Counts ride the write job as observed metrics (one pass, nothing
      // materialized) — caching a 100 TB micro-batch just to count it
      // would be the scale bug; `observe` computes the aggregates during
      // the sink scan for free.
      val obs = org.apache.spark.sql.Observation(s"graft-batch-$batchId")
      val eventHour = TimeKeys.epochHour(
        eventTimeCol.map(c => col(s"value.$c")).getOrElse(current_timestamp()))
      val observed = batch.observe(obs,
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("good"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("bad"),
        sum(when(col("value").isNull && col("error").isNull, 1L).otherwise(0L)).as("dropped"),
        min(when(col("value").isNotNull, eventHour)).as("hour_lo"),
        max(when(col("value").isNotNull, eventHour)).as("hour_hi"))

      // Sampled payload logging (A22 analog): every Nth batch, log one
      // truncated payload — debugging visibility without log flood.
      if (payloadLogEvery > 0 && batchId % payloadLogEvery == 0) {
        batch.select("payload").limit(1).collect().headOption.foreach { r =>
          log.info("ingest.batch.payload_sample", "batch" -> batchId, "payload" -> r.getString(0))
        }
      }

      val good = observed.filter(col("value").isNotNull).select("value.*")
      val ts = eventTimeCol.map(col).getOrElse(current_timestamp())
      // "flush workers" (A17): write parallelism = task count. Read per
      // batch so the adaptive loop's live [[WorkerControl]] action (keyed
      // by `controlId`) takes effect on the NEXT flush of a running
      // query; `writePartitions` is the static fallback, and
      // `defaultParallelism` the clustered plan's default. The count is
      // explicit because AQE stays on inside `foreachBatch`: it would
      // coalesce a keyed shuffle without one (or a `rebalance` hint)
      // onto fewer writer tasks.
      val parts = controlId.flatMap(WorkerControl.get).orElse(writePartitions)
      // A flush that spans several hours is hash-partitioned by its time
      // key, so each hour directory gets one file per flush (more only
      // where `maxRecordsPerFile` splits it), not one per task holding
      // rows of that hour. The span is known only after the write, so
      // the choice follows the last flush that wrote rows; the first
      // flush, which drains the backlog built up while the pipeline was
      // down, is clustered. A single-hour flush (a live micro-batch)
      // keeps the round-robin plan, or none: a shuffle there costs more
      // ack latency than its files save.
      val clustered = eventTimeCol.isDefined && lastHourSpan.forall(_ > 1)
      val keyed =
        if (clustered)
          TimeKeys.withUtcKeys(good, ts).repartition(
            parts.getOrElse(batch.sparkSession.sparkContext.defaultParallelism),
            TimeKeys.PartitionColumns.map(col): _*)
        else TimeKeys.withUtcKeys(parts.map(good.repartition).getOrElse(good), ts)
      retry {
        val w = keyed.write
          .mode("append")
          .option("compression", codecOption)
        policy.maxRecordsPerFile.foreach(n => w.option("maxRecordsPerFile", n))
        w.partitionBy(TimeKeys.PartitionColumns: _*).parquet(sinkPath)
      }

      val m = obs.get
      def cnt(k: String): Long = m.get(k) match {
        case Some(v: Long) => v
        case _ => 0L // all-NULL sum on an empty batch
      }
      val (nGood, nBad) = (cnt("good"), cnt("bad"))
      val hours = (m.get("hour_lo"), m.get("hour_hi")) match {
        case (Some(lo: Long), Some(hi: Long)) => hi - lo + 1
        case _ => 0L // no rows written: keep the last span
      }
      if (hours > 0) lastHourSpan = Some(hours)
      IngestMetrics.inc(IngestMetrics.RecordsTransformed, nGood)
      IngestMetrics.inc(IngestMetrics.TransformErrors, nBad)
      IngestMetrics.inc(IngestMetrics.MessagesDropped, cnt("dropped"))
      IngestMetrics.inc(IngestMetrics.RecordsFlushed, nGood)

      // A24: sink-write success event with the resolved display path
      // (reference logSinkWrite, ingestor.go:757-769). `bytes` is the
      // reference's -1 streaming-path sentinel (ingestor.go:578): Spark's
      // parquet writer streams row groups straight to the sink (A11), so
      // — exactly like the reference's stream-write branch — no buffered
      // byte count exists at log time. `batch`, `hours` (the event-hour
      // span written, 0 for an empty flush) and `clustered` (whether the
      // rows were partitioned by hour) are additions, not replacements.
      log.info("ingest.flush.sink_write_succeeded",
        "key" -> sinkPath,
        "path" -> SinkPath.display(sinkPath),
        "file_name" -> SinkPath.fileName(sinkPath),
        "items" -> nGood,
        "bytes" -> -1L,
        "batch" -> batchId,
        "hours" -> hours,
        "clustered" -> clustered)

      dlqPath.foreach { p =>
        // Second scan of the route flatMap, taken only on batches that
        // actually contain failures — recomputing a cheap transform
        // beats persisting the whole batch for the rare-error case.
        if (nBad > 0) retry {
          batch.filter(col("error").isNotNull)
            .select(col("payload"), col("error"), current_timestamp().as("dlq_ts"))
            .write.mode("append").parquet(p)
        }
      }
      IngestMetrics.inc(IngestMetrics.Flushes)
    } catch {
      case NonFatal(e) =>
        IngestMetrics.inc(IngestMetrics.FlushErrors)
        log.error("ingest.flush.failed", "batch" -> batchId, "error" -> String.valueOf(e.getMessage))
        throw e // batch fails ⇒ no offset commit ⇒ reprocess (at-least-once)
    }
  }

  /** Starts the streaming query over an Envelope stream. */
  def start(envs: Dataset[Envelope], queryName: String = "graft-ingest"): StreamingQuery =
    route(envs).writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.ProcessingTime(policy.flushIntervalMs))
      .foreachBatch((b: Dataset[Routed[T]], id: Long) => processBatch(b, id))
      .start()
}

/** Envelope stream constructors (A1/A2 analogs). The real-queue
  * connector (SQS MicroBatchStream with poller scaling + visibility
  * leases, A15/A18) is connector work out of correctness scope; file
  * streams and MemoryStream cover the source contract for tests, with
  * the buffer bound mapped to per-trigger admission limits.
  */
object Sources {

  /** Line-delimited text/JSON files under `dir` as an Envelope stream;
    * BatchPolicy count/bytes thresholds become per-trigger admission
    * limits (maxFilesPerTrigger / maxBytesPerTrigger).
    */
  def textLines(spark: SparkSession, dir: String, policy: BatchPolicy = BatchPolicy()): Dataset[Envelope] = {
    import spark.implicits._
    var reader = spark.readStream
    // Spark file sources accept only ONE of the two admission limits per
    // query; when both thresholds are configured the count limit wins
    // (the bytes bound is the reference's always-on default, the item
    // bound an explicit opt-in — the more specific setting).
    (policy.maxItemsPerTrigger, policy.maxBytesPerTrigger) match {
      case (Some(n), _)    => reader = reader.option("maxFilesPerTrigger", n)
      case (None, Some(b)) => reader = reader.option("maxBytesPerTrigger", b)
      case _               => ()
    }
    reader.text(dir).select(col("value").as[String])
      .map(v => Envelope(v, Map.empty[String, String]))
  }

  /** The graft queue source (see [[graft.sources.QueueSource]]): a
    * bounded in-process message queue whose ack fires on offset commit —
    * the reference's `Sourcer { Receive; AckBatch }` contract.
    */
  def queue(spark: SparkSession, name: String): Dataset[Envelope] = {
    import spark.implicits._
    spark.readStream.format("graft.sources.QueueSource").option("name", name).load()
      .select(col("value").as("payload"), col("attributes")).as[Envelope]
  }
}
