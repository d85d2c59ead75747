import graft.{GraftSession, SparkEntry}

/** First sf1 (10× sf0.1) scale point (VERDICT r11 #8): run the most
  * expensive DATA-BOUND entries once against the Sf1Gen fixture and
  * print per-entry seconds, so the "would this survive a 10× scale-up"
  * claims get measured numbers. Streaming-replay (st*) and ingest (ig*)
  * entries are excluded by design: their cost is the fixed replay/
  * checkpoint harness, documented as data-size-insensitive — an sf1 run
  * of those measures the harness again, not scaling.
  *
  * Usage: `Test/runMain Sf1Bench [sf1Dir]` (default fixtures/sf1;
  * generate with `Test/runMain Sf1Gen` first). Two passes per entry,
  * floor reported; compare against BENCH_LOCAL.json sf0.1 floors.
  */
object Sf1Bench {
  // The 20 most expensive entries by FLOOR in the committed round-12
  // BENCH_LOCAL.json after dropping st*/ig*/ingest_*/ack_*/receive_*
  // (harness-bound) — recompute when the comparison point is
  // re-recorded:
  //   python3 -c "import json; d=json.load(open('BENCH_LOCAL.json'));
  //     f=d['floors']; print(sorted((k for k in f if not k.startswith(
  //     ('st0','ig0','ingest_','ack_','receive_'))), key=lambda k:-f[k])[:20])"
  private val Entries = Seq(
    "dd09_capped_jaccard", "dd02_minhash_lsh", "dd08_components",
    "dd03_ngram_jaccard", "q26_similarity_ivf", "tp05_contamination",
    "dd06_simhash_pairs", "dd04_simhash", "q12_approx_distinct",
    "dd07_paragraph_dedup", "qs01_percentile", "ta07_bigram_nll",
    "q49_tpch9_shape", "q43_tpch7_shape", "q53_tpch21_shape",
    "q22_math_case", "q52_tpch20_shape", "q35_tpch5_shape",
    "q51_tpch16_shape", "q29_session_window")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${sys.props("user.dir")}/fixtures/sf1")
    require(new java.io.File(sfDir, "lineitem.parquet").exists,
      s"$sfDir missing — run `Test/runMain Sf1Gen` first")
    val spark = GraftSession("local[32]", "graft-sf1bench")
    spark.sparkContext.setLogLevel("ERROR")

    // Warm-up outside the measurements: file indexes, codegen, and the
    // one-time partsupp fixture derivation at this scale point.
    SparkEntry.queries("q01_scan")(spark, sfDir).collect()
    graft.Tables(spark, sfDir).partsupp.count()

    // Cache teardown happens OUTSIDE the timed region, matching
    // Bench.scala's sf0.1 methodology so the ratios are comparable.
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }

    val floors = Entries.map { name =>
      val t = try Seq(once(name), once(name)).min
      catch { case e: Throwable =>
        println(s"SF1BENCH $name FAILED: ${e.toString.take(200)}"); -1.0 }
      println(f"SF1BENCH $name%-28s $t%8.2f s")
      name -> t
    }
    val ok = floors.filter(_._2 >= 0)
    println(f"SF1BENCH total ${ok.map(_._2).sum}%.1f s over ${ok.size} entries (floors of 2 passes)")
    spark.stop()
  }
}
