package perfbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{Envelope, IngestMetrics, IngestPipeline, TimeKeys}
import graft.queries.{GateRecord, GateTransformer}
import graft.sources.remote.{RemoteIngest, RemoteQueueConfig}

final case class SinkPaths(sink: String, dlq: String, checkpoint: String)

object SinkPaths {
  def under(dir: File): SinkPaths =
    SinkPaths(new File(dir, "sink").getPath, new File(dir, "dlq").getPath, new File(dir, "cp").getPath)
}

/** Outcome of the output check of one drain or live window. */
final case class Checked(attempted: Long, failed: Long, notes: Seq[String])

/** The ingest path as an operator assembles it from the public calls:
  * `RemoteIngest.readStream` → `foreachBatch` { persist and materialise
  * once (the source cannot replay) → `IngestPipeline.route` /
  * `processBatch` → `RemoteIngest.ackAfterWrite` → unpersist }.
  */
final class IngestRig(spark: SparkSession, tracer: Tracer) {
  import spark.implicits._

  def start(name: String, paths: SinkPaths, cfg: RemoteQueueConfig, trigger: Trigger): StreamingQuery = {
    val pipeline = IngestPipeline[GateRecord](new GateTransformer, paths.sink, paths.checkpoint,
      codec = "snappy", dlqPath = Some(paths.dlq), eventTimeCol = Some("event_ts"))
    val factory = new PerfQueueFactory
    RemoteIngest.readStream(spark, classOf[PerfQueueFactory].getName, cfg)
      .writeStream
      .queryName(name)
      .option("checkpointLocation", paths.checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("batch") { b =>
          val p = batch.persist()
          try {
            tracer.span("source.poll", b)(_ => p.count())
            val envs = p.select(col("payload"), col("attributes")).as[Envelope]
            tracer.span("ingest.flush", b)(_ => pipeline.processBatch(pipeline.route(envs), id))
            tracer.span("ack", b)(_ => RemoteIngest.ackAfterWrite(p, factory))
          } finally { p.unpersist(); () }
        }
      }
      .start()
  }

  /** Checks what the pipeline wrote into the sinks of `paths` for the
    * `sent` messages (message `i` carries id `i`): every record present
    * exactly once under its event hour, the dead-letter outputs holding
    * exactly the poison messages, the drop counter matching the `P`
    * messages, every message acked exactly once (`acks(i)` is message
    * `i`'s ack count), and `left` messages still in the queue. Failures
    * count per message.
    */
  def check(paths: Seq[SinkPaths], sent: Sent, droppedCounted: Long, acks: Array[Int], left: Long): Checked = {
    val notes = ArrayBuffer.empty[String]
    val expected = (0 until sent.n).iterator
      .filter(i => Messages.sinkRows(sent.kind(i)) > 0)
      .map(i => (i.toLong, Messages.sinkRows(sent.kind(i)), Messages.hourKey(sent.hour(i)), sent.hour(i)))
      .toSeq.toDF("id", "exp_n", "exp_key", "exp_hour")
    val actual = paths.map(p => spark.read.parquet(p.sink)).reduce(_ union _)
      .select(col("id"), col("kind"),
        expr("((CAST(y AS BIGINT) * 100 + m) * 100 + d) * 100 + h").as("key"),
        expr("unix_seconds(event_ts) div 3600").as("ev_hour"))
      .groupBy("id")
      .agg(count(lit(1)).as("n"), countDistinct("kind").as("kinds"),
        min("key").as("key_lo"), max("key").as("key_hi"),
        min("ev_hour").as("ev_lo"), max("ev_hour").as("ev_hi"))
    val bad = expected.join(actual, Seq("id"), "full_outer")
      .filter(not(coalesce(
        col("n") === col("exp_n") && col("kinds") === col("exp_n") &&
          col("key_lo") === col("exp_key") && col("key_hi") === col("exp_key") &&
          col("ev_lo") === col("exp_hour") && col("ev_hi") === col("exp_hour"),
        lit(false))))
      .select("id").as[Long].collect().map(_.toInt).toSet
    if (bad.nonEmpty) notes += s"${bad.size} messages lost, duplicated or misrouted in the sink"

    val ackBad = (0 until sent.n).filter(i => acks(i) != 1).toSet
    if (ackBad.nonEmpty) notes += s"${ackBad.size} messages not acked exactly once"

    val poison = sent.count(Messages.Poison)
    val dlqs = paths.map(_.dlq).filter(new File(_).exists())
    val dlqRows = if (dlqs.isEmpty) 0L else dlqs.map(spark.read.parquet(_)).reduce(_ union _).count()
    val dlqMiss = math.abs(dlqRows - poison)
    if (dlqMiss != 0) notes += s"dead-letter rows $dlqRows, poison messages $poison"

    val dropMiss = math.abs(droppedCounted - sent.count(Messages.Dropped))
    if (dropMiss != 0) notes += s"dropped counter $droppedCounted, P messages ${sent.count(Messages.Dropped)}"

    if (left != 0) notes += s"$left messages left in the queue"

    Checked(sent.n.toLong, (bad ++ ackBad).size + dlqMiss + dropMiss + left, notes.toSeq)
  }
}

object Ingest {
  /** Messages in one backfill drain; the admission budget admits them
    * all, so a drain is one large batch. */
  val BackfillMessages = 4000
  /** Drains per run, each into a fresh sink; the run reports their median. */
  val Drains = 3
  /** The replayed week: 168 hourly keys from 2024-01-01 00:00 UTC. */
  val BackfillFirstHour: Long = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 24L
  val BackfillHours = 168
  /** Fixed read-back ranges over the replayed week (inclusive hours). */
  val ReadbackRanges: Seq[(String, String)] = Seq(
    "2024-01-01 00" -> "2024-01-01 05",
    "2024-01-02 00" -> "2024-01-02 23",
    "2024-01-03 12" -> "2024-01-05 11",
    "2024-01-01 00" -> "2024-01-07 23")

  /** Offered rate of the live open loop, messages per second. */
  val LiveRate = 400
  val LivePerTrigger = 10000
  /** Lead-in of the live loop before its steady window, so the window
    * starts with the stream's first batches behind it. */
  val LiveLeadInMs = 3000L

  /** The warm-up drain: few messages over a few hours, so it stays short. */
  val WarmupMessages = 400
  val WarmupHours = 4

  def droppedCounter: Long =
    IngestMetrics.snapshot().getOrElse(IngestMetrics.MessagesDropped, 0.0).toLong

  /** Loads a seeded backlog of `n` historical messages into the queue.
    * They are appended to `sent`, and their ids continue its numbering. */
  def preload(sent: Sent, n: Int, rng: java.util.Random, poisonAt: Int, hours: Int = BackfillHours): Unit = {
    PerfQueue.reset(n)
    val base = sent.n
    var i = 0
    while (i < n) {
      val k = Messages.kindOf(base + i, poisonAt, rng)
      val h = BackfillFirstHour + rng.nextInt(hours)
      sent.add(k, h)
      PerfQueue.enqueue(i, Messages.payload(base + i, k, h, rng))
      i += 1
    }
  }

  def backfillConfig(nproc: Int, perTrigger: Int): RemoteQueueConfig =
    RemoteQueueConfig(waitTimeSeconds = 0, pollers = nproc, maxPerTrigger = perTrigger)

  /** Drains a preloaded backlog to completion; returns the drain start. */
  def drain(rig: IngestRig, paths: SinkPaths, cfg: RemoteQueueConfig): Long = {
    val t0 = System.nanoTime()
    val q = rig.start("perfbench-backfill", paths, cfg, Trigger.ProcessingTime(0L))
    try q.processAllAvailable() finally q.stop()
    t0
  }

  /** Reads the fixed hour ranges back; returns the row count per range. */
  def readback(spark: SparkSession, sink: String): Seq[Long] =
    ReadbackRanges.map { case (from, to) =>
      TimeKeys.readHourRange(spark, sink, from, to)
        .agg(count(lit(1)), sum("value")).collect().head.getLong(0)
    }

  /** Records messages `ids` of `sent` must put into an hour range. */
  def expectedInRange(sent: Sent, ids: Range, from: String, to: String): Long = {
    def hour(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(' ', 'T') + ":00").toEpochSecond(java.time.ZoneOffset.UTC) / 3600L
    val (lo, hi) = (hour(from), hour(to))
    ids.iterator.filter(i => sent.hour(i) >= lo && sent.hour(i) <= hi)
      .map(i => Messages.sinkRows(sent.kind(i)).toLong).sum
  }

  /** A small drain through the whole path, dead-letter write included, so
    * class loading, code generation and the first-query costs land in
    * set-up. */
  def warmup(spark: SparkSession, dir: File, nproc: Int, seed: Long): Unit = {
    val rig = new IngestRig(spark, new Tracer(false))
    preload(new Sent(WarmupMessages), WarmupMessages, new java.util.Random(seed ^ 0x5eedL), poisonAt = 0,
      WarmupHours)
    val paths = SinkPaths.under(dir)
    drain(rig, paths, backfillConfig(nproc, WarmupMessages))
    readback(spark, paths.sink)
  }
}

/** The backfill phase: closed drains of seeded week-long backlogs, each
  * into a fresh sink and followed by the timed read-back. */
final class Backfill(spark: SparkSession, work: File, tracer: Tracer, probes: Option[Probes],
                     nproc: Int, seed: Long) {
  import Ingest._

  /** Per drain: messages acked per second, from query start to the last ack. */
  val drainRates = ArrayBuffer.empty[Double]
  /** Per drain: wall time of all read-back range queries. */
  val readbackS = ArrayBuffer.empty[Double]
  /** Per drain: messages per second of drain plus read-back, that is how
    * fast the replayed week becomes queryable. */
  val queryableRates = ArrayBuffer.empty[Double]
  var checked: Checked = _

  def run(): Unit = {
    val rig = new IngestRig(spark, tracer)
    val rng = new java.util.Random(seed ^ 0xbacf111L)
    val poisonAt = rng.nextInt(Messages.PoisonEvery)
    val cfg = backfillConfig(nproc, BackfillMessages)
    val sent = new Sent(Drains * BackfillMessages)
    val acks = new Array[Int](sent.kind.length)
    val paths = ArrayBuffer.empty[SinkPaths]
    var (dropped, left, rangeMiss) = (0L, 0L, 0)
    for (d <- 0 until Drains) {
      val base = sent.n
      preload(sent, BackfillMessages, rng, poisonAt)
      val p = SinkPaths.under(new File(work, s"backfill-$d"))
      paths += p
      val dropped0 = droppedCounter
      val t0 = Probes.bracket(probes, "drain")(tracer.span("drain")(_ => drain(rig, p, cfg)))
      val last = (0 until BackfillMessages).iterator.map(PerfQueue.ackedAtNanos).max
      val drainS = (last - t0) / 1e9
      val r0 = System.nanoTime()
      val counts = Probes.bracket(probes, "readback")(tracer.span("readback")(_ => readback(spark, p.sink)))
      val readS = (System.nanoTime() - r0) / 1e9
      drainRates += PerfQueue.deleted.get() / drainS
      readbackS += readS
      queryableRates += BackfillMessages / (drainS + readS)
      dropped += droppedCounter - dropped0
      left += PerfQueue.backlog
      for (i <- 0 until BackfillMessages) acks(base + i) = PerfQueue.acks(i)
      val ids = base until sent.n
      rangeMiss += ReadbackRanges.zip(counts).count { case ((f, t), n) => n != expectedInRange(sent, ids, f, t) }
    }
    val c = rig.check(paths.toSeq, sent, dropped, acks, left)
    checked = Checked(c.attempted + Drains * ReadbackRanges.size, c.failed + rangeMiss,
      c.notes ++ (if (rangeMiss > 0) Seq(s"$rangeMiss read-back ranges returned wrong counts") else Nil))
  }
}

/** The live phase: an open loop. One generator thread enqueues at a fixed
  * rate on an absolute schedule and never waits for the pipeline; each
  * message's latency runs from its scheduled send time to its ack. */
final class Live(spark: SparkSession, work: File, tracer: Tracer, probes: Option[Probes],
                 nproc: Int, seed: Long) {
  import Ingest._

  var sent: Sent = _
  var due: Array[Long] = _
  var lateMs: Array[Double] = _
  var backlogMax = 0L
  var t0 = 0L
  var checked: Checked = _
  var windowMs = 0L
  /** Ack time of each message, copied out of the queue stub at the end. */
  var acked: Array[Long] = _

  /** Runs the lead-in plus a `seconds`-long steady window. */
  def run(seconds: Int): Unit = {
    windowMs = LiveLeadInMs + seconds * 1000L
    val total = (LiveRate * windowMs / 1000L).toInt
    PerfQueue.reset(total)
    sent = new Sent(total)
    due = new Array[Long](total)
    lateMs = new Array[Double](total)
    val rig = new IngestRig(spark, tracer)
    val paths = SinkPaths.under(new File(work, "live"))
    val cfg = RemoteQueueConfig(waitTimeSeconds = 0, pollers = nproc, maxPerTrigger = LivePerTrigger)
    val dropped0 = droppedCounter
    Probes.bracket(probes, "live")(openLoop(rig, paths, cfg, total))
    acked = Array.tabulate(total)(PerfQueue.ackedAtNanos)
    checked = rig.check(Seq(paths), sent, droppedCounter - dropped0, Array.tabulate(total)(PerfQueue.acks),
      PerfQueue.backlog)
  }

  private def openLoop(rig: IngestRig, paths: SinkPaths, cfg: RemoteQueueConfig, total: Int): Unit = {
    val q = rig.start(Live.QueryName, paths, cfg, Trigger.ProcessingTime(0L))
    try {
      Thread.sleep(500L)
      val rng = new java.util.Random(seed)
      val poisonAt = rng.nextInt(Messages.PoisonEvery)
      val periodNs = 1e9 / LiveRate
      t0 = System.nanoTime() + 10000000L
      val wall0 = System.currentTimeMillis() + 10L
      val gen = new Thread(() => {
        var i = 0
        while (i < total) {
          val next = t0 + (i * periodNs).toLong
          val now0 = System.nanoTime()
          if (next > now0) LockSupport.parkNanos(next - now0)
          val now = System.nanoTime()
          while (i < total && t0 + (i * periodNs).toLong <= now) {
            val d = t0 + (i * periodNs).toLong
            val k = Messages.kindOf(i, poisonAt, rng)
            val h = Math.floorDiv(wall0 + (d - t0) / 1000000L, 3600000L)
            sent.add(k, h)
            due(i) = d
            PerfQueue.enqueue(i, Messages.payload(i, k, h, rng))
            lateMs(i) = (System.nanoTime() - d) / 1e6
            i += 1
          }
          backlogMax = math.max(backlogMax, PerfQueue.backlog)
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      if (!PerfQueue.awaitAcked(total.toLong, 60000L))
        System.err.println(s"perfbench: live drain timed out with ${PerfQueue.deleted.get()}/$total acked")
    } finally q.stop()
  }

  private def inWindow(tNs: Long): Boolean =
    tNs >= t0 + LiveLeadInMs * 1000000L && tNs < t0 + windowMs * 1000000L

  /** Ack latency (ms) of the messages scheduled in the steady window. */
  def latencies: Array[Double] =
    (0 until sent.n).iterator.filter(i => inWindow(due(i)) && acked(i) != 0L)
      .map(i => (acked(i) - due(i)) / 1e6).toArray

  /** Sustained ack rate: the least-squares slope of the cumulative ack
    * count over time, for the acks inside the steady window. Acks arrive
    * in one burst per batch; a slope over the bursts does not depend on
    * where the window's edges cut them, as a plain count would. */
  def throughput: Double = {
    val t = acked.filter(inWindow).map(_ / 1e9)
    java.util.Arrays.sort(t)
    val n = t.length
    require(n >= 2, s"only $n acks in the steady window")
    val (mt, mc) = (t.sum / n, (n - 1) / 2.0)
    val cov = t.indices.map(i => (t(i) - mt) * (i - mc)).sum
    val varT = t.map(x => (x - mt) * (x - mt)).sum
    cov / varT
  }
}

object Live {
  val QueryName = "perfbench-live"
}
