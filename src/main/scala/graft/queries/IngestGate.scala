package graft.queries

import java.io.File
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ingest.{BatchPolicy, Envelope, IdempotentSink, IngestPipeline, Routed, SimpleRetry, Transformer}

/** Sink row of the ingestion gate: what the reference's transform stage
  * emits, plus the event time that drives the y/m/d/h key layout. */
case class GateRecord(id: Long, name: String, value: Double, kind: String,
                      event_ts: Timestamp)

/** The gate's JSON→record transform (A3/A4/A5 in one): 1→N flatMap
  * ('F' orders emit an extra "filled" record), deliberate drop ('P'
  * orders → empty, still acked), and failure routing (unparseable
  * payloads throw → DLQ). Event time is rebuilt in EXPLICIT UTC — the
  * oracle recomputes it as `o_orderdate + hh hours`, and going through
  * the JVM-default-zone `Timestamp.valueOf` would shift it on any
  * non-UTC host.
  */
class GateTransformer extends Transformer[GateRecord] {
  // The value pattern must cover every shortest-round-trip Double.toString
  // form, including NEGATIVE exponents ("5.0E-4") — a char-class like
  // [\d.eE+] silently DLQs small values and diverges from the oracle.
  private val Re =
    ("""\{"id": (-?\d+), "name": "([^"]*)", "value": (-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?), """ +
      """"date": "(\d{4}-\d{2}-\d{2})", "hh": (\d+), "status": "(\w)"\}""").r
  override def transform(e: Envelope): Seq[GateRecord] = e.payload match {
    case Re(id, name, value, date, hh, status) =>
      val epochMs = LocalDate.parse(date).atStartOfDay(ZoneOffset.UTC)
        .toInstant.toEpochMilli + hh.toLong * 3600000L
      val ts = new Timestamp(epochMs)
      status match {
        case "P" => Seq.empty // deliberate drop: acked, never written (A4)
        case "F" => Seq(
          GateRecord(id.toLong, name, value.toDouble, "order", ts),
          GateRecord(id.toLong, name, value.toDouble, "filled", ts))
        case _ => Seq(GateRecord(id.toLong, name, value.toDouble, "order", ts))
      }
    case _ => throw new IllegalArgumentException(
      s"unparseable payload: ${e.payload.take(40)}") // → DLQ (A5)
  }
}

/** ig01/ig02 — the ingestion pipeline's OWN OUTPUT under the oracle
  * hash gate (VERDICT r8 "Next round" #1; the mm01 pattern applied to
  * the §2-A reference-parity layer, anchor:
  * /root/reference/tests/integration_ingestor_test.go:158-286).
  *
  * Both entries run the REAL pipeline end-to-end per invocation:
  * deterministic JSON envelopes derived from `orders` → MemoryStream →
  * `IngestPipeline.start` (foreachBatch, ack-after-write) → UTC
  * y/m/d/h-keyed snappy parquet → read back through a fresh scan. What
  * each proves:
  *
  *   - '''ig01_ingest_roundtrip''': DuckDB reads THE SAME FILES the
  *     pipeline wrote (`read_parquet(..., hive_partitioning=1)`) — one
  *     hash over parquet encoding, the hive `y=/m=/d=/h=` layout, and
  *     row content, as seen by a foreign reader. Its sink lives at the
  *     FIXED path the oracle text embeds ([[IngestGate.RoundtripRoot]]),
  *     so the entry and its oracle are only meaningful as the
  *     sequential Verify→DuckDB pair the driver (and the verify skill)
  *     runs — a later run at another scale factor overwrites the sink.
  *   - '''ig02_ingest_content''': DuckDB RECOMPUTES the expected rows
  *     from `orders` with pure SQL — transform semantics (1→N flatMap,
  *     'P' drops, corrupt→DLQ exclusions), time keying, and value
  *     fidelity through the JSON round-trip, independent of the files.
  *     Scale-factor-agnostic; writes to its own fixed wiped root.
  *
  * Input protocol (all modular in `o_orderkey`, so any SF works):
  * every 200th order is fed; every 1000th is sent CORRUPT (→ DLQ, must
  * not reach the sink — a subset of the fed set since 1000 ≡ 0 mod
  * 200); hour-of-day is `o_orderkey % 24` for coverage of the `h=`
  * dimension. Doubles survive exactly: Scala's `Double.toString` is
  * shortest-round-trip, so `o_totalprice` comes back bit-identical
  * after JSON transport.
  *
  * The 1-in-200 rate bounds the GATE's cost, deliberately: historical
  * orders give nearly every record a unique (y,m,d,h), so the fed
  * count is also the dynamic-partition directory count of the sink
  * write — at sf0.1 a 1-in-20 feed meant ~7,500 tiny partition dirs
  * per run and an 85 s bench entry measuring filesystem metadata, not
  * the pipeline (round-9 bench). Correctness is unchanged (the oracle
  * mirrors the modulus); ingest THROUGHPUT at volume is measured by
  * the single-batch `ingest_100k` bench entry, where records share
  * flush-time keys exactly as live traffic does.
  *
  * Scale: the driver-side collect feeds the replay harness (bounded:
  * |orders|/200 short strings — the StreamReplay protocol); the
  * production form is the same pipeline over a real queue source. The
  * pipeline's own write path is fully distributed.
  */
object IngestGate {

  /** Fixed sink root ig01's oracle SQL embeds (static text can't learn
    * the run's temp dir). Scratch, wiped per invocation.
    *
    * Concurrency contract: these fixed roots are touched ONLY by
    * Verify/Bench runs — sbt serializes those JVMs behind its global
    * project lock, and [[graft.queries.IngestGateSpec]] deliberately
    * runs against its own temp root so `sbt test` never races a
    * concurrent gate run here (the cross-JVM hazard ADVICE r8 flagged
    * for fixtures). */
  val RoundtripRoot = s"${sys.props("user.dir")}/fixtures/igate/roundtrip"

  /** Fixed scratch root for ig02 (whose oracle recomputes from `orders`
    * and never reads these files): reusing one wiped directory instead
    * of a fresh temp dir per invocation keeps repeated Verify/bench runs
    * from abandoning an unbounded trail of parquet sinks in /tmp. */
  val ContentRoot = s"${sys.props("user.dir")}/fixtures/igate/content"

  /** Fixed scratch root for ig03 (content oracle, own wiped dir). */
  val OnceRoot = s"${sys.props("user.dir")}/fixtures/igate/once"

  /** A17 flush workers of the ig01–ig03 pipelines. Historical orders
    * give nearly every record its own (y,m,d,h), so each micro-batch
    * touches ~250 hour directories. A batch that spans several hours is
    * hash-partitioned by hour, so each directory gets one file, and the
    * 8 tasks write the ~250 files in parallel (on one task the creates
    * ran in sequence, ~2.5 s per batch; 16 tasks gained nothing over 8).
    * The rows are the same whatever the count; only the files change. */
  private val FlushWorkers = 8

  /** Fixed scratch root for sc01 (content oracle, own wiped dir). */
  val DriftRoot = s"${sys.props("user.dir")}/fixtures/igate/drift"

  /** sc01: schema evolution across ingest batches. Batch 0 writes the
    * pre-evolution schema (o_orderkey, cents); batch 1 writes the
    * evolved one (+ priority). [[graft.ingest.SchemaDrift.readMerged]]
    * must surface ONE unified frame where pre-evolution rows carry NULL
    * priority — verified against an oracle that recomputes the unified
    * view straight from `orders` (the ig02 content-oracle discipline:
    * the oracle never reads the engine's own files, so a wrong merge
    * cannot agree with itself).
    */
  private def schemaDriftReadBack(spark: SparkSession, sfDir: String,
                                  root: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Fixtures.deleteRecursively(new java.io.File(root))
    val base = graft.Tables(spark, sfDir).orders.select(col("o_orderkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
      col("o_orderpriority"))
    base.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "cents")
      .write.mode("overwrite").parquet(s"$root/batch0")
    base.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("cents"), col("o_orderpriority").as("priority"))
      .write.mode("overwrite").parquet(s"$root/batch1")
    graft.ingest.SchemaDrift.readMerged(spark, root)
      .select("o_orderkey", "cents", "priority")
      .orderBy("o_orderkey")
  }

  private val schemaDriftOracle =
    """SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Deterministic JSON envelopes for the fed subset (driver-side,
    * bounded — see class doc). */
  /** `every` sets the feed density (1-in-`every` orders): the oracle
    * entries use the default 200 (the bounded-cost contract above);
    * IngestGateSpec passes 20 so its invariants run on a dense feed at
    * sf0.001 instead of 8 envelopes. Must divide 1000 so the corrupt
    * set stays a subset of the fed set. */
  private[queries] def envelopes(spark: SparkSession, dir: String,
                                 every: Long = 200L): Seq[Envelope] = {
    import spark.implicits._
    require(1000 % every == 0, s"corrupt set (%1000) must be a subset of the fed set (%$every)")
    val rows = Tables(spark, dir).orders
      .filter(col("o_orderkey") % every === 0)
      .select(
        col("o_orderkey").as("id"),
        col("o_orderpriority").as("name"),
        col("o_totalprice").as("value"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
        (col("o_orderkey") % 24).cast("int").as("hh"),
        col("o_orderstatus").as("status"))
      .as[(Long, String, Double, String, Int, String)]
      .collect().sortBy(_._1)
    rows.map { case (id, name, value, date, hh, status) =>
      val payload =
        if (id % 1000 == 0) s"""{"id": $id, CORRUPT""" // → DLQ
        else s"""{"id": $id, "name": "$name", "value": $value, "date": "$date", "hh": $hh, "status": "$status"}"""
      Envelope(payload, Map("order" -> id.toString))
    }
  }

  /** Wipes `root`, streams the envelopes through the pipeline in three
    * micro-batches, returns the read-back sink (y/m/d/h as INTs — the
    * cast pins one type on both engines regardless of partition-type
    * inference). */
  private[queries] def ingestAndReadBack(spark: SparkSession, dir: String, root: String,
                                         every: Long = 200L): DataFrame = {
    graft.Fixtures.deleteRecursively(new File(root))
    val pipe = IngestPipeline[GateRecord](
      transformer = new GateTransformer,
      sinkPath = s"$root/sink",
      checkpointPath = s"$root/cp",
      policy = BatchPolicy(flushIntervalMs = 0L),
      codec = "snappy",
      dlqPath = Some(s"$root/dlq"),
      retry = SimpleRetry(attempts = 3),
      eventTimeCol = Some("event_ts"),
      writePartitions = Some(FlushWorkers))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val envEnc: org.apache.spark.sql.Encoder[Envelope] =
      org.apache.spark.sql.Encoders.product[Envelope]
    val ms = MemoryStream[Envelope]
    val q = pipe.start(ms.toDS(), queryName = s"ig-gate-${System.nanoTime()}")
    try {
      val envs = envelopes(spark, dir, every)
      envs.grouped(math.max(1, envs.size / 3 + 1))
        .foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()

    readSink(spark, root)
  }

  /** Read-back shared by every gate: y/m/d/h as INTs — the cast pins
    * one type on both engines regardless of partition-type inference. */
  private def readSink(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/sink").select(
      col("id"), col("name"), col("value"), col("kind"), col("event_ts"),
      col("y").cast("int").as("y"), col("m").cast("int").as("m"),
      col("d").cast("int").as("d"), col("h").cast("int").as("h"))
      .orderBy("id", "kind") // the driver's hash is row-order-sensitive

  /** ig03 (VERDICT r9 #7) — effectively-once under failure, oracle-
    * visible. ig01/ig02 hash the happy path; this entry injects a crash
    * in the at-least-once window the reference's design discussion
    * names (ingestor.go:57-60 ack-after-write;
    * runtime_behavior_test.go:98-150): AFTER the durable parquet write
    * of a micro-batch, BEFORE its offset commit. The restarted query
    * replays that batch from the offset WAL — the exact duplicate-write
    * hazard — and the [[IdempotentSink]] batch-marker guard must skip
    * the replayed body. The final sink parquet then hashes against the
    * same pure-SQL `orders` recomputation as ig02: one green row proves
    * BOTH no-loss (the crashed batch's rows are present) and
    * no-duplication (present once) at the oracle level, not just in
    * ScalaTest (IdempotentSinkSpec's scope).
    *
    * The harness REQUIREs that the crash surfaced, that the crashed
    * batch's marker existed before restart (the write was durable), and
    * that the replay was actually skipped — a run where the fault never
    * fired cannot pass vacuously.
    */
  private[queries] def ingestWithCrashReplay(spark: SparkSession, dir: String, root: String,
                                             every: Long = 200L): DataFrame = {
    graft.Fixtures.deleteRecursively(new File(root))
    val pipe = IngestPipeline[GateRecord](
      transformer = new GateTransformer,
      sinkPath = s"$root/sink",
      checkpointPath = s"$root/cp",
      policy = BatchPolicy(flushIntervalMs = 0L),
      codec = "snappy",
      dlqPath = Some(s"$root/dlq"),
      retry = SimpleRetry(attempts = 3),
      eventTimeCol = Some("event_ts"),
      writePartitions = Some(FlushWorkers))
    val markers = s"$root/markers"
    val armCrash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val replaysSkipped = new java.util.concurrent.atomic.AtomicInteger(0)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val envEnc: org.apache.spark.sql.Encoder[Envelope] =
      org.apache.spark.sql.Encoders.product[Envelope]
    val ms = MemoryStream[Envelope]
    // foreachBatch bodies run on the driver: the method-local fault
    // switches are visible to both queries below.
    def start(name: String) = pipe.route(ms.toDS()).writeStream
      .queryName(name)
      .option("checkpointLocation", s"$root/cp")
      .foreachBatch { (b: Dataset[Routed[GateRecord]], id: Long) =>
        val ran = IdempotentSink.once(spark, markers, id)(pipe.processBatch(b, id))
        if (!ran) { replaysSkipped.incrementAndGet(); () }
        if (ran && armCrash.getAndSet(false))
          throw new RuntimeException("injected crash after durable write, before offset commit")
      }
      .start()

    val envs = envelopes(spark, dir, every)
    val chunks = envs.grouped(math.max(1, envs.size / 3 + 1)).toSeq
    require(chunks.size >= 2, "need a clean batch and a crashed batch")

    val q1 = start(s"ig-once-a-${System.nanoTime()}")
    try {
      ms.addData(chunks.head); q1.processAllAvailable()
      armCrash.set(true)
      ms.addData(chunks(1))
      val crashed =
        try { q1.processAllAvailable(); false }
        catch { case _: Exception => true } // StreamingQueryException wraps the injection
      require(crashed, "the injected post-write crash must surface through the query")
    } finally q1.stop()
    require(IdempotentSink.committedBatches(spark, markers).size >= 2,
      "the crashed batch's write must be durable (marker present) before restart")

    val q2 = start(s"ig-once-b-${System.nanoTime()}")
    try {
      chunks.drop(2).foreach(ms.addData(_))
      q2.processAllAvailable()
    } finally q2.stop()
    require(replaysSkipped.get() >= 1,
      "the crashed batch must replay on restart and be skipped — otherwise this gate proved nothing")

    readSink(spark, root)
  }

  /** DLQ row count of the last run under `root` (spec hook). */
  private[queries] def dlqCount(spark: SparkSession, root: String): Long =
    spark.read.parquet(s"$root/dlq").count()

  // The sink tree is engine-written parquet: TIMESTAMP_MICROS with
  // isAdjustedToUTC=true (GraftSession — the stats-bearing encoding),
  // which DuckDB reads as TIMESTAMP WITH TIME ZONE. timezone('UTC', ..)
  // recovers the UTC wall time as naive TIMESTAMP — the same value the
  // Spark side dumps (Verify normalizes TimestampType to NTZ under the
  // pinned-UTC session), keeping the compare in one type family.
  private val roundtripOracle =
    s"""SELECT id, name, value, kind, timezone('UTC', event_ts) AS event_ts,
       |       CAST(y AS INTEGER) AS y, CAST(m AS INTEGER) AS m,
       |       CAST(d AS INTEGER) AS d, CAST(h AS INTEGER) AS h
       |FROM read_parquet('$RoundtripRoot/sink/**/*.parquet', hive_partitioning=1)
       |ORDER BY id, kind""".stripMargin

  private val contentOracle =
    """WITH src AS (
      |  SELECT o_orderkey AS id, o_orderpriority AS name, o_totalprice AS value,
      |         o_orderstatus AS status, o_orderdate,
      |         CAST(o_orderkey % 24 AS INTEGER) AS hh
      |  FROM orders WHERE o_orderkey % 200 = 0 AND o_orderkey % 1000 <> 0
      |)
      |SELECT id, name, value, 'order' AS kind,
      |       o_orderdate + hh * INTERVAL 1 HOUR AS event_ts,
      |       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
      |       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
      |       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS d,
      |       hh AS h
      |FROM src WHERE status <> 'P'
      |UNION ALL
      |SELECT id, name, value, 'filled' AS kind,
      |       o_orderdate + hh * INTERVAL 1 HOUR AS event_ts,
      |       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
      |       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
      |       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS d,
      |       hh AS h
      |FROM src WHERE status = 'F'
      |ORDER BY id, kind""".stripMargin

  /** Fixed scratch root for fm01 (format parity, own wiped dir). */
  val FormatRoot = s"${sys.props("user.dir")}/fixtures/igate/format"

  /** fm01: CSV round-trip parity under the DRIVER gate. The engine
    * writes `orders` through the text boundary (header CSV, the
    * lossiest format it supports — dates, longs, free-text priorities
    * all serialized) and aggregates the READ-BACK rows; the oracle
    * aggregates the ORIGINAL parquet. Any encode/decode loss — type
    * drift, quoting, date formatting — breaks the hash. (Spec-level
    * coverage exists in IOFormatsSpec; this puts the boundary under
    * the external DuckDB gate, the ig02 content-oracle discipline.)
    */
  private def csvParityReadBack(spark: SparkSession, sfDir: String,
                                root: String): DataFrame = {
    graft.Fixtures.deleteRecursively(new File(root))
    val src = Tables(spark, sfDir).orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
      col("o_orderdate").cast("date").as("d"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    src.write.option("header", "true").csv(root)
    val back = spark.read.option("header", "true").schema(src.schema).csv(root)
    back.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum("cents").as("cents"),
        min("d").as("first_d"), max("d").as("last_d"),
        sum("o_orderkey").as("sum_okey"), sum("o_custkey").as("sum_ckey"))
      .orderBy("o_orderpriority")
  }

  private val csvParityOracle =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
      |  MIN(CAST(o_orderdate AS DATE)) AS first_d,
      |  MAX(CAST(o_orderdate AS DATE)) AS last_d,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_ckey
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  def all: Seq[GraftQuery] = Seq(
    GraftQuery("ig01_ingest_roundtrip", Some(roundtripOracle),
      (s, d) => ingestAndReadBack(s, d, RoundtripRoot)),
    GraftQuery("fm01_csv_parity", Some(csvParityOracle),
      (s, d) => csvParityReadBack(s, d, FormatRoot)),
    GraftQuery("ig02_ingest_content", Some(contentOracle),
      (s, d) => ingestAndReadBack(s, d, ContentRoot)),
    // Same content oracle as ig02: the crash/replay must be invisible
    // in the final rows — that invisibility IS the effectively-once
    // claim, and any loss or duplicate breaks the hash.
    GraftQuery("ig03_ingest_effectively_once", Some(contentOracle),
      (s, d) => ingestWithCrashReplay(s, d, OnceRoot)),
    GraftQuery("sc01_schema_drift", Some(schemaDriftOracle),
      (s, d) => schemaDriftReadBack(s, d, DriftRoot))
  )
}
