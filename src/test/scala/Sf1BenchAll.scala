import graft.{GraftSession, SparkEntry}

/** Full-suite sf1 (10× sf0.1) scale point (VERDICT r12 #5): extends the
  * round-12 top-20 Sf1Bench to EVERY declared entry except the
  * harness-bound streaming/ingest family, so the 100 TB design story
  * has a measured 10× number per operator instead of per-top-20.
  *
  * Exclusion rule (same as Sf1Bench, recomputable from the entry list):
  * names starting with `st0` (streaming replays — 8 micro-batches of
  * state-store machinery by design, data-size-insensitive) or `ig0`
  * (full ingest pipeline + checkpoint harness). The bench-only
  * ingest/ack/receive throughput entries never appear here because they
  * are Bench.scala-internal, not SparkEntry.queries members. mm01/mm02 run
  * but measure a FIXED synthetic media fixture (sfDir-independent) —
  * their ratio is expected ≈1 and says nothing about data scaling.
  *
  * Usage: `Test/runMain Sf1BenchAll [sf1Dir]` (default fixtures/sf1;
  * generate with `Test/runMain Sf1Gen` first). Two passes per entry,
  * floor reported; compare against BENCH_LOCAL.json sf0.1 floors.
  */
object Sf1BenchAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${sys.props("user.dir")}/fixtures/sf1")
    require(new java.io.File(sfDir, "lineitem.parquet").exists,
      s"$sfDir missing — run `Test/runMain Sf1Gen` first")
    val spark = GraftSession("local[32]", "graft-sf1benchall")
    spark.sparkContext.setLogLevel("ERROR")

    // Optional 2nd arg: comma-separated entry names — measure only those
    // (incremental sf1 rows for entries added after a full run). Unknown
    // names fail loudly: a typo selecting nothing would print an empty
    // "benchmark" that reads as a clean run.
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown entry name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val entries = SparkEntry.queries.keys.toSeq
      // "st"/"ig" prefixes, not "st0"/"ig0": st10+ must stay excluded
      // too (the streaming replays are harness-bound at any index)
      .filterNot(n => n.startsWith("st") || n.startsWith("ig"))
      .filter(n => only.forall(_(n)))
      .sorted

    // Warm-up outside the measurements: file indexes, codegen, and the
    // one-time partsupp fixture derivation at this scale point.
    SparkEntry.queries("q01_scan")(spark, sfDir).collect()
    graft.Tables(spark, sfDir).partsupp.count()

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }

    val floors = entries.map { name =>
      val t = try Seq(once(name), once(name)).min
      catch { case e: Throwable =>
        println(s"SF1ALL $name FAILED: ${e.toString.take(200)}"); -1.0 }
      println(f"SF1ALL $name%-32s $t%8.2f s")
      name -> t
    }
    val ok = floors.filter(_._2 >= 0)
    println(f"SF1ALL total ${ok.map(_._2).sum}%.1f s over ${ok.size} entries (floors of 2 passes)")
    val failed = floors.filter(_._2 < 0)
    if (failed.nonEmpty) println(s"SF1ALL FAILED entries: ${failed.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
