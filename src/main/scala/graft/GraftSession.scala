package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: every graft session, the
  * benchmark's, `Verify`'s and `PlanDump`'s included, is built here.
  *
  * AQE on (runtime join-strategy switch, skew-join splitting, partition
  * coalescing), UTC session time zone for cross-engine timestamp parity,
  * and shuffle partitions sized to the cores rather than the 200 default.
  *
  * ==Shuffle partitions==
  * One per core the master runs: [[apply]] sets
  * `spark.sql.shuffle.partitions` to the context's `defaultParallelism`,
  * which is 1 for `local`, n for `local[n]` and `local[n,f]`, the JVM's
  * available processors for `local[*]`, and the executors' total cores
  * on a cluster. It is set on the session at runtime, after the context
  * exists, so a caller's own `spark.conf.set` afterwards wins, a session
  * built from [[builder]] alone keeps Spark's default of 200, and so does
  * a `newSession()` child, which does not inherit runtime conf. A
  * streaming query restarted from an existing checkpoint keeps the
  * partition count recorded in that checkpoint, whatever the session
  * says.
  *
  * ==Streaming state store==
  * Stateful streaming (dedup, session windows, stream-stream joins,
  * flatMapGroupsWithState) runs on the default in-memory HDFS-backed
  * state store, which holds every live key on the executor heap. At
  * production key cardinality (100 TB corpus keys) set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * — state then lives in per-partition RocksDB instances on local disk
  * with a bounded heap. The engine's stateful operators are
  * provider-agnostic (RocksDbStateStoreSpec pins identical output on
  * both providers), and the replay harnesses propagate the caller's
  * provider choice into their child sessions.
  *
  * ==Local filesystem==
  * `file:` resolves to [[ForkFreeLocalFileSystem]] (and, for
  * `FileContext`, [[ForkFreeLocalFs]]). Without Hadoop's native library
  * the stock local filesystem starts a `chmod` process for every file,
  * `.crc` and directory it creates and a `readlink` process for every
  * checkpoint rename; on the ingest sink that was most of a write task's
  * time. Files, `.crc` siblings and modes are the stock ones. Hadoop
  * caches one `FileSystem` per scheme and user whatever the
  * implementation class, so the setting is made in [[builder]], before
  * the context's first `file:` lookup, not in [[init]]: a session built
  * elsewhere and passed to `init` keeps the stock class, and so does any
  * session in a JVM whose first `file:` filesystem came from another
  * configuration.
  */
object GraftSession {

  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's default parquet timestamp encoding is legacy INT96,
      // which carries NO column statistics — every engine-written table
      // silently loses row-group/file pruning on its time column, the
      // single most common predicate dimension at 100 TB (measured:
      // zero skipping on a z-ordered-by-time layout, ZorderSf1Probe
      // round 13; with MICROS the same probe skips 10×+). INT64 micros
      // is the modern spec encoding at the exact precision of Spark's
      // TimestampType — nothing is lost, stats and pushdown come back.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  def apply(master: String = "local[*]", appName: String = "graft"): SparkSession = {
    val spark = builder(master, appName).getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    init(spark)
    warmSharedPools(spark)
    spark
  }

  private val poolsWarmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Warms Spark's SHARED stage-execution pools from the root session so
    * short-lived child sessions are not retained by them.
    *
    * Measured on Spark 4.1 (TablesCacheSpec's development probe, NOTES.md
    * round 9): the `QueryStageCreator` / `shuffle-exchange` /
    * `ResultQueryStageExecution` / `broadcast-exchange` pools are
    * process-global and their worker threads never die; each worker's
    * inheritable active-session thread-local permanently holds whichever
    * session was active WHEN THE THREAD WAS CREATED (`withThreadLocalCaptured`
    * restores the inherited value after every task, so later sessions
    * never displace it). If a transient session's first-in query grows a
    * pool, that session — plans, catalog and all — is pinned for the
    * process lifetime. Running a few parallel shuffle+broadcast queries
    * HERE makes the threads inherit the root session instead, which the
    * process keeps alive anyway. Bounded mitigation, not a guarantee: a
    * later query can still grow a pool past its warmed size.
    */
  private def warmSharedPools(spark: SparkSession): Unit =
    if (poolsWarmed.compareAndSet(false, true)) {
      import org.apache.spark.sql.functions.{broadcast, col}
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val runs = (1 to 4).map { i =>
        Future {
          val facts = spark.range(64 * i).toDF("k")
          val dim = spark.range(8).toDF("g")
          facts.groupBy((col("k") % 5).as("g")).count()
            .join(broadcast(dim), "g").count()
        }
      }
      // Best-effort BY CONTRACT: the warm-up's absence only weakens the
      // retention mitigation, so its failure (timeout under heavy host
      // contention, scratch-space exhaustion) must not take down session
      // construction with it.
      try Await.result(Future.sequence(runs), 120.seconds)
      catch {
        case scala.util.control.NonFatal(e) =>
          // Allow the NEXT session construction to retry — a permanently
          // latched flag would silently disable the mitigation for the
          // process lifetime on one transient contention spike.
          poolsWarmed.set(false)
          Console.err.println(s"graft: shared-pool warm-up skipped: $e")
      }
      ()
    }

  /** Register graft SQL functions + optimizer rules on an
    * externally-built session (idempotent). */
  def init(spark: SparkSession): SparkSession = {
    functions.registerAll(spark)
    if (!spark.experimental.extraOptimizations.contains(FoldConstantCosine))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FoldConstantCosine
    spark
  }
}
