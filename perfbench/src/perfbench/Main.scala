package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.ingest.IngestMetrics
import graft.sources.remote.{AckDispatcher, RemoteQueueSource}

/** One benchmark run of one workload, in its own JVM.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <file> --fingerprints <file>
  * }}}
  *
  * Set-up runs once, cold: session build, `GraftSession.init` and its
  * pool warm-up, then the warm-up drain (ingest) or the corpus and a
  * first query (analytics). Its wall time from the start of `main` is
  * `setup_s`. The run then measures for `--seconds`, checks the outputs,
  * and writes one JSON object to `--out`: end-to-end metrics, per-layer
  * metrics when `--trace 1`, and the check's counts.
  */
object Main {
  val Workloads = Seq("ingest", "analytics_mix")

  private val started = System.nanoTime()

  /** Marks the end of a phase in the run's log. */
  private def phase(name: String): Unit =
    System.err.println(f"perfbench: $name done at ${(System.nanoTime() - started) / 1e9}%.1f s")

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload', expected one of ${Workloads.mkString(", ")}")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = new File(args("work"))
    val nproc = Runtime.getRuntime.availableProcessors
    work.mkdirs()

    val corpusDir = new File(work, "corpus").getAbsolutePath
    val spark = GraftSession(s"local[$nproc]", "perfbench")
    if (workload == "analytics_mix") {
      Corpus.write(spark, new File(corpusDir))
      Analytics.run(spark, corpusDir, "q01_scan").collect()
    } else Ingest.warmup(spark, new File(work, "warmup"), nproc, seed)
    val setupS = (System.nanoTime() - started) / 1e9
    phase("set-up")

    val tracer = new Tracer(traced)
    val probes = if (traced) Some(new Probes(spark, _.endsWith("/dlq"))) else None
    val metrics0 = IngestMetrics.snapshot()
    val (calls0, recv0, dcalls0, dels0) =
      (PerfQueue.receiveCalls.get, PerfQueue.received.get, PerfQueue.deleteCalls.get, PerfQueue.deletedTotal.get)
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()

    val e2e = mutable.LinkedHashMap("setup_s" -> setupS)
    val run = mutable.LinkedHashMap.empty[String, Double] // workload-specific figures
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var checked: Checked = null

    workload match {
      case "ingest" =>
        // The backfill drains and read-backs first: their volume finishes
        // the JIT's work on the hot path before the live window opens.
        val bf = new Backfill(spark, work, tracer, probes, nproc, seed)
        bf.run()
        phase("backfill phase and its check")
        val lv = new Live(spark, work, tracer, probes, nproc, seed)
        lv.run(seconds)
        phase("live phase and its check")
        // A layout that writes faster but reads slower does not gain here.
        e2e("throughput_per_s") = Stats.median(bf.queryableRates.toSeq)
        val lat = lv.latencies
        e2e("latency_ms") = Stats.percentile(lat, 0.5)
        run("ack_latency_p50_ms") = Stats.percentile(lat, 0.5)
        run("ack_latency_p99_ms") = Stats.percentile(lat, 0.99)
        run("ack_latency_mean_ms") = Stats.mean(lat.toSeq)
        run("live_acks_per_s") = lv.throughput
        run("drain_per_s") = Stats.median(bf.drainRates.toSeq)
        run("readback_s") = Stats.median(bf.readbackS.toSeq)
        layers("gen.late_p99_ms") = Stats.percentile(lv.lateMs, 0.99)
        layers("gen.offered_msgs") = lv.sent.n
        layers("backlog.max") = lv.backlogMax
        checked = Checked(lv.checked.attempted + bf.checked.attempted, lv.checked.failed + bf.checked.failed,
          lv.checked.notes.map("live: " + _) ++ bf.checked.notes.map("backfill: " + _))

      case "analytics_mix" =>
        val stored = Fingerprints.read(new File(args("fingerprints")))
        val mix = new Mix(spark, corpusDir, tracer, probes, seed, stored)
        mix.timedPasses(seconds)
        phase("query passes")
        // Completed queries over the whole window, output checks included.
        e2e("throughput_per_s") = mix.samples.size / mix.windowS
        e2e("latency_ms") = Stats.mean(mix.samples.map(_._2 * 1000.0).toSeq)
        run("query_total_s") = Stats.median(mix.passTotals.toSeq)
        run("passes") = mix.passTotals.size
        checked = Checked(mix.attempted, mix.failed, mix.notes.toSeq)
    }
    val Checked(attempted, failed, notes) = checked
    run("failed_ratio") = failed.toDouble / math.max(1L, attempted)

    probes.foreach { p =>
      p.settle()
      val m1 = IngestMetrics.snapshot()
      def im(k: String): Double = m1.getOrElse(k, 0.0) - metrics0.getOrElse(k, 0.0)
      val calls = (PerfQueue.receiveCalls.get - calls0).toDouble
      val dcalls = (PerfQueue.deleteCalls.get - dcalls0).toDouble
      layers ++= Seq(
        "source.poll_ms" -> tracer.busyMs("source.poll"),
        "source.receive_calls" -> calls,
        "source.msgs_per_receive" -> (if (calls > 0) (PerfQueue.received.get - recv0) / calls else 0.0),
        "source.receive_errors" -> im(RemoteQueueSource.ReceiveErrors),
        "ingest.flush_ms" -> tracer.busyMs("ingest.flush"),
        "ingest.records_good" -> im(IngestMetrics.RecordsTransformed),
        "ingest.records_bad" -> im(IngestMetrics.TransformErrors),
        "ingest.records_dropped" -> im(IngestMetrics.MessagesDropped))
      val ingestLabels = Set("drain", "live")
      for (k <- Seq("files_written", "bytes_written", "dirs_written", "task_commit_ms", "job_commit_ms",
        "dlq_write_ms"))
        layers(s"ingest.$k") = p.total(k, ingestLabels)
      val batches = tracer.count("batch")
      layers("ingest.dlq_batch_share") =
        if (batches > 0) p.total("dlq_writes", ingestLabels) / batches else 0.0
      layers ++= Seq(
        "ack.ms" -> tracer.busyMs("ack"),
        "ack.calls" -> dcalls,
        "ack.handles_per_call" -> (if (dcalls > 0) (PerfQueue.deletedTotal.get - dels0) / dcalls else 0.0),
        "ack.errors" -> im(AckDispatcher.AckErrors))
      // Micro-batch figures of the live loop; a backfill drain is one batch.
      val trigs = p.triggers.trigs.synchronized(p.triggers.trigs.filter(_.query == Live.QueryName).toVector)
      val batchJobs = trigs.map(_.queryId).distinct
        .map(q => Option(p.engine.batchJobs.get(q)).map(_.sum).getOrElse(0L)).sum
      layers ++= Seq(
        "microbatch.count" -> trigs.size.toDouble,
        "microbatch.msgs_mean" -> Stats.mean(trigs.map(_.rows.toDouble)),
        "microbatch.trigger_ms_mean" -> Stats.mean(trigs.map(_.triggerMs.toDouble)),
        "microbatch.overhead_ms_mean" -> Stats.mean(trigs.map(t => (t.triggerMs - t.addBatchMs).toDouble)),
        "microbatch.jobs_per_batch" -> (if (trigs.nonEmpty) batchJobs.toDouble / trigs.size else 0.0))
      def engine(prefix: String, labels: String => Boolean): Unit = {
        val (runMs, wallMs) = (p.total("run_ms", labels), p.total("wall_ms", labels))
        layers ++= Seq(
          s"$prefix.jobs" -> p.total("jobs", labels),
          s"$prefix.shuffle_bytes" -> (p.total("shuffle_read", labels) + p.total("shuffle_write", labels)),
          s"$prefix.spill_bytes" -> p.total("spill", labels),
          s"$prefix.parallel_efficiency" -> (if (wallMs > 0) runMs / (wallMs * nproc) else 0.0))
      }
      val wall = p.total("wall_ms")
      layers ++= Seq(
        "spark.jobs" -> p.total("jobs"), "spark.stages" -> p.total("stages"),
        "spark.tasks" -> p.total("tasks"), "spark.executor_run_ms" -> p.total("run_ms"),
        "spark.executor_cpu_ms" -> p.total("cpu_ms"),
        "spark.parallel_efficiency" -> (if (wall > 0) p.total("run_ms") / (wall * nproc) else 0.0),
        "spark.shuffle_read_bytes" -> p.total("shuffle_read"),
        "spark.shuffle_write_bytes" -> p.total("shuffle_write"),
        "spark.spill_bytes" -> p.total("spill"))
      for (q <- Analytics.Queries) {
        val label = s"query.$q"
        val times = tracer.count(label)
        layers(s"$label.s") = if (times > 0) tracer.busyMs(label) / 1000.0 / times else 0.0
        engine(label, _ == label)
        // Per execution, like the time: the bracket sums every pass.
        if (times > 0) for (k <- Seq("jobs", "shuffle_bytes", "spill_bytes"))
          layers(s"$label.$k") = layers(s"$label.$k") / times
      }
      for (k <- Seq("files_read", "bytes_read", "partitions_read"))
        layers(s"readback.$k") = p.total(k, _ == "readback")
      layers("jvm.gc_ms") = Jvm.gcMs - gc0
      layers("jvm.heap_peak_mb") = Jvm.heapPeakMb
      for (k <- Seq("gen.late_p99_ms", "gen.offered_msgs", "backlog.max")) layers.getOrElseUpdate(k, 0.0)
      for (k <- Seq("ack_latency_p50_ms", "ack_latency_p99_ms", "live_acks_per_s", "drain_per_s",
        "readback_s", "query_total_s", "failed_ratio"))
        layers(s"run.$k") = run.getOrElse(k, 0.0)
      tracer.write(new File(work, s"spans-$workload-$seed.jsonl"))
    }
    if (!traced) layers.clear() // generator figures are per-layer metrics

    spark.stop()
    phase("session stop")
    writeResult(new File(args("out")), failed == 0, attempted, failed, e2e, run, layers, notes.toSeq)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is not a finite number: $v")
    else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  def writeResult(out: File, correct: Boolean, attempted: Long, failed: Long,
                  e2e: collection.Map[String, Double], run: collection.Map[String, Double],
                  layers: collection.Map[String, Double], notes: Seq[String]): Unit = {
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""e2e": ${obj(e2e)}, "run": ${obj(run)}, "layers": ${obj(layers)}, """ +
      s""""notes": ${notes.map(str).mkString("[", ", ", "]")}}"""
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json) finally w.close()
  }
}

/** The stored analytics fingerprints: one `name rows hash` line per query. */
object Fingerprints {
  def read(f: File): Map[String, (Long, String)] =
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows, hash) = l.split("\\s+")
        name -> (rows.toLong, hash)
      }.toMap
      finally src.close()
    }
}
