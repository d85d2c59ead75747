package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: `parent` is the id of the span that caused it (0 for
  * a root). Spans stay in memory and are written out when the run ends. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Span recorder and named busy-time accumulators. When `on` is false
  * every call just runs its block: the untraced run pays nothing. */
final class Tracer(val on: Boolean) {
  private val nextId = new AtomicLong(0L)
  private val spans = ArrayBuffer.empty[Span]
  private val busyNs = new ConcurrentHashMap[String, LongAdder]()

  def span[T](name: String, parent: Long = 0L)(f: Long => T): T =
    if (!on) f(0L)
    else {
      val id = nextId.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id)
      finally {
        val t1 = System.nanoTime()
        busyNs.computeIfAbsent(name, _ => new LongAdder).add(t1 - t0)
        spans.synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def busyMs(name: String): Double =
    Option(busyNs.get(name)).map(_.sum / 1e6).getOrElse(0.0)

  def count(name: String): Int = spans.synchronized(spans.count(_.name == name))

  def write(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.synchronized {
      spans.foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
    } finally w.close()
  }
}

/** Engine counters from a `SparkListener`: jobs, stages, tasks, task
  * time, shuffle and spill, plus jobs per streaming query (the
  * `sql.streaming.queryId` local property). */
final class EngineListener extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill = new LongAdder
  val batchJobs = new ConcurrentHashMap[String, LongAdder]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .foreach(q => batchJobs.computeIfAbsent(q, _ => new LongAdder).increment())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble,
    "tasks" -> tasks.sum.toDouble, "run_ms" -> runMs.sum.toDouble,
    "cpu_ms" -> cpuNs.sum / 1e6, "shuffle_read" -> shuffleRead.sum.toDouble,
    "shuffle_write" -> shuffleWrite.sum.toDouble, "spill" -> spill.sum.toDouble)
}

/** SQL metrics of finished query executions: the parquet write command
  * (sink and dead-letter writes told apart by output path) and the file
  * scans of the read-back. */
final class SqlListener(isDlq: String => Boolean) extends QueryExecutionListener {
  val sinkFiles, sinkBytes, sinkParts, taskCommitMs, jobCommitMs, dlqWriteNs, dlqWrites = new LongAdder
  val scanFiles, scanBytes, scanParts = new LongAdder

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    nodes(qe.executedPlan).foreach {
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        def v(k: String): Long = m.get(k).map(_.value).getOrElse(0L)
        val path = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        if (isDlq(path)) { dlqWriteNs.add(durationNs); dlqWrites.increment() }
        else {
          sinkFiles.add(v("numFiles")); sinkBytes.add(v("numOutputBytes"))
          sinkParts.add(v("numParts")); taskCommitMs.add(v("taskCommitTime"))
          jobCommitMs.add(v("jobCommitTime"))
        }
      case s: FileSourceScanExec =>
        def v(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
        scanFiles.add(v("numFiles")); scanBytes.add(v("filesSize"))
        scanParts.add(v("numPartitions"))
      case _ => ()
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Double] = Map(
    "files_written" -> sinkFiles.sum.toDouble, "bytes_written" -> sinkBytes.sum.toDouble,
    "dirs_written" -> sinkParts.sum.toDouble, "task_commit_ms" -> taskCommitMs.sum.toDouble,
    "job_commit_ms" -> jobCommitMs.sum.toDouble, "dlq_write_ms" -> dlqWriteNs.sum / 1e6,
    "dlq_writes" -> dlqWrites.sum.toDouble,
    "files_read" -> scanFiles.sum.toDouble, "bytes_read" -> scanBytes.sum.toDouble,
    "partitions_read" -> scanParts.sum.toDouble)
}

/** One micro-batch's input rows and trigger/addBatch durations. */
final case class Trig(query: String, queryId: String, rows: Long, triggerMs: Long, addBatchMs: Long)

/** Per-trigger durations from the streaming progress reports. */
final class TriggerListener extends StreamingQueryListener {
  val trigs = ArrayBuffer.empty[Trig]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    // Idle triggers (no batch ran) report no addBatch; only batches count.
    d.get("addBatch").foreach { add =>
      trigs.synchronized {
        trigs += Trig(p.name, p.id.toString, p.numInputRows, d.get("triggerExecution").map(_.longValue).getOrElse(0L), add)
      }
    }
  }
}

/** All listeners of a traced run, attached from the benchmark's side. */
final class Probes(spark: SparkSession, isDlq: String => Boolean) {
  val engine = new EngineListener
  val sql = new SqlListener(isDlq)
  val triggers = new TriggerListener
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(sql)
  spark.streams.addListener(triggers)

  /** Waits until the listener bus has delivered every posted event. */
  def settle(): Unit = org.apache.spark.PerfBus.settle(spark.sparkContext)

  private val acc = new ConcurrentHashMap[String, Double]()

  /** Runs `f` and adds the engine and SQL counters it moved, and its wall
    * time, under `label`: counters of the benchmark's own checks, which
    * run outside any bracket, stay out of the per-layer figures. */
  def bracket[T](label: String)(f: => T): T = {
    settle()
    val (e0, s0, w0) = (engine.snapshot(), sql.snapshot(), System.nanoTime())
    try f
    finally {
      settle()
      val wall = (System.nanoTime() - w0) / 1e6
      val (e1, s1) = (engine.snapshot(), sql.snapshot())
      (e1.map { case (k, v) => k -> (v - e0(k)) } ++ s1.map { case (k, v) => k -> (v - s0(k)) } +
        ("wall_ms" -> wall)).foreach { case (k, v) => acc.merge(s"$label.$k", v, (a, b) => a + b) }
    }
  }

  /** Sum of counter `key` over the brackets whose label passes `labels`. */
  def total(key: String, labels: String => Boolean = _ => true): Double =
    acc.asScala.iterator.collect {
      case (k, v) if k.endsWith("." + key) && labels(k.stripSuffix("." + key)) => v
    }.sum
}

object Probes {
  /** Runs `f` inside `probes`' bracket when tracing, plainly otherwise. */
  def bracket[T](probes: Option[Probes], label: String)(f: => T): T =
    probes.fold(f)(_.bracket(label)(f))
}

/** Collector GC time and peak heap. */
object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
