package graft

/** Debug utility: print the physical plan of named SparkEntry queries
  * — `runMain graft.PlanDump q40_tpch19_shape ...`.
  * The per-operator plan review (pushdown reached the scan? join
  * broadcast-able? shuffle count right?) runs through this.
  *
  * Optimization-round flags (r21 measurement discipline, guide §1):
  *   --sf <dir>        data dir (default sf0.01; timing runs use sf0.1)
  *   --formatted       use explain("formatted") instead of toString
  *   --save <dir>      write each plan to <dir>/<name>_<suffix>.txt
  *   --suffix <s>      file suffix for --save (default "before")
  *   --time <n>        additionally run each query n times into the
  *                     noop sink (the bench's timed action) and print
  *                     per-pass seconds + the floor
  *   --cpus <n>        session core count (default SPARK_GRAFT_CPUS/32)
  *   --lazy            spark.graft.dedup.materialize=none, so operators
  *                     built on withWorkingSet/roundCheckpoint expose
  *                     their FULL lazy plan instead of a checkpoint leaf
  *   --plans-md        regenerate PLANS.md: the formatted plans of the
  *                     headline entries, at the --sf scale on --cpus
  *                     cores (PLANS.md is committed at --cpus 4)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    var sf = "/root/testdata/sf0.01"
    var formatted = false
    var saveDir: Option[String] = None
    var suffix = "before"
    var timeN = 0
    var cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var lazyMode = false
    var jobs = false
    var plansMd = false
    val names = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    def operand(flag: String): String = {
      if (i + 1 >= args.length)
        sys.error(s"PlanDump: $flag needs a value " +
          "(usage: [--sf DIR] [--formatted] [--save DIR] [--suffix S] " +
          "[--time N] [--cpus N] [--lazy] [--jobs] [--plans-md] <query names...>)")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "--sf" => sf = operand("--sf"); i += 2
        case "--formatted" => formatted = true; i += 1
        case "--save" => saveDir = Some(operand("--save")); i += 2
        case "--suffix" => suffix = operand("--suffix"); i += 2
        case "--time" => timeN = operand("--time").toInt; i += 2
        case "--cpus" => cpus = operand("--cpus"); i += 2
        case "--lazy" => lazyMode = true; i += 1
        case "--jobs" => jobs = true; i += 1
        case "--plans-md" => plansMd = true; i += 1
        case n => names += n; i += 1
      }
    }
    // The bench's session at the same core count, so timings are comparable.
    val spark = GraftSession(s"local[$cpus]", "plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    if (lazyMode)
      spark.conf.set(graft.operators.TextDedup.MaterializeConf, "none")
    // Same warm-up as Bench: JVM/codegen/file-index outside measurements.
    SparkEntry.queries("q01_scan")(spark, sf).collect()
    if (plansMd) writePlansMd(spark, sf, cpus)
    for (name <- names) {
      val q = SparkEntry.allQueries.find(_.name == name).getOrElse(
        sys.error(s"PlanDump: unknown query '$name' — names are the " +
          "SparkEntry.queries keys (e.g. q01_scan, dd09_capped_jaccard)"))
      println(s"===== $name =====")
      val df = q.run(spark, sf)
      val plan =
        if (formatted) df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        else df.queryExecution.executedPlan.toString.take(4000)
      saveDir match {
        case Some(dir) =>
          val p = java.nio.file.Paths.get(dir, s"${name}_$suffix.txt")
          Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.writeString(p, plan)
          println(s"[plan -> $p]")
        case None => println(plan)
      }
      if (jobs) {
        // Per-job wall times for ONE execution: where inside the entry
        // the seconds go (eager materializations show up as jobs here).
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(e.jobId, (System.nanoTime(),
              Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("") +
                " stages=" + e.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString("|").take(120)))
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val st = starts.remove(e.jobId)
            if (st != null) println(f"[job] ${e.jobId}%3d ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2}")
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        q.run(spark, sf).write.mode("overwrite").format("noop").save()
        println(f"[jobs-total] ${(System.nanoTime() - t0) / 1e9}%.3f s")
        spark.sparkContext.removeSparkListener(listener)
        spark.catalog.clearCache()
      }
      if (timeN > 0) {
        val secs = (1 to timeN).map { _ =>
          val t0 = System.nanoTime()
          q.run(spark, sf).write.mode("overwrite").format("noop").save()
          val s = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache() // the bench's isolation step
          s
        }
        println(f"[time] $name passes=${secs.map(s => f"$s%.3f").mkString(",")} floor=${secs.min}%.3f")
      }
    }
    spark.stop()
  }

  /** The headline entries whose plans PLANS.md shows. */
  val PlansMdEntries: Seq[String] = Seq(
    "q01_scan", "q02_filter", "q03_join_inner", "q04_join_multi_agg",
    "q09_join_theta", "q12_approx_distinct", "q15_window_rank",
    "q17_topk", "q22_math_case", "q26_similarity_brute",
    "q26_similarity_ann", "q31_tpch3_shape", "q35_tpch5_shape",
    "q36_tpch10_shape", "tp03_token_packing", "up01_latest_by_key",
    "qs02_percentile_approx",
    "qr01_global_ranks", "dd01_exact_text", "dd02_minhash_lsh",
    "dd06_simhash_pairs", "tp01_training_pipeline", "q10_string_agg",
    "aj01_asof_last_purchase", "aj02_asof_next_purchase")

  private def writePlansMd(spark: org.apache.spark.sql.SparkSession, sf: String,
      cores: String): Unit = {
    val scale = java.nio.file.Paths.get(sf).getFileName
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans of headline queries ($scale)\n\n")
    sb.append(s"Generated by `runMain graft.PlanDump --plans-md --cpus $cores` (local[$cores]). What to\n")
    sb.append("look for: `PushedFilters` and pruned `ReadSchema` on scans,\n")
    sb.append("`BroadcastHashJoin` for dimension joins, `partial_` aggregates before\n")
    sb.append("exchanges (map-side combine), `TakeOrderedAndProject` for top-k, and\n")
    sb.append("wide `WholeStageCodegen` spans. `qr01_global_ranks` is the two-phase\n")
    sb.append("distributed rank: its plan is a scan over the phase-2 RDD — the point\n")
    sb.append("is what it does NOT contain (no Window, no SinglePartition exchange).\n")
    PlansMdEntries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${PlansMdEntries.size} plans)")
  }
}
