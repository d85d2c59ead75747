package graft.queries

import graft.GraftSession

/** Round-17 profiling probe for the ingest-gate harness cost (r16
  * directive #3): times each phase of ig01 at the bench scale factor.
  * `Test/runMain graft.queries.IgProfileProbe [sfDir]`. */
object IgProfileProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("local[32]", "graft-ig-profile")
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"IGPROF $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    timed("warm orders count")(graft.Tables(spark, sfDir).orders.count())
    for (i <- 1 to 2) {
      timed(s"pass $i envelopes collect") {
        IngestGate.envelopes(spark, sfDir).length
      }
      timed(s"pass $i full ingestAndReadBack + collect") {
        IngestGate.ingestAndReadBack(spark, sfDir, IngestGate.RoundtripRoot)
          .collect().length
      }
      timed(s"pass $i crash-replay (ig03) + collect") {
        IngestGate.ingestWithCrashReplay(spark, sfDir, IngestGate.OnceRoot)
          .collect().length
      }
      // sub-phase breakdown of the roundtrip gate
      timed(s"pass $i SUB wipe+start+feed (pipeline only)") {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.ingest._
        graft.Fixtures.deleteRecursively(new java.io.File(IngestGate.RoundtripRoot))
        val pipe = IngestPipeline[GateRecord](
          transformer = new GateTransformer,
          sinkPath = s"${IngestGate.RoundtripRoot}/sink",
          checkpointPath = s"${IngestGate.RoundtripRoot}/cp",
          policy = BatchPolicy(flushIntervalMs = 0L),
          codec = "snappy",
          dlqPath = Some(s"${IngestGate.RoundtripRoot}/dlq"),
          retry = SimpleRetry(attempts = 3),
          eventTimeCol = Some("event_ts"),
          writePartitions = Some(16))
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        implicit val envEnc: org.apache.spark.sql.Encoder[Envelope] =
          org.apache.spark.sql.Encoders.product[Envelope]
        val ms = MemoryStream[Envelope]
        val t0 = System.nanoTime()
        val q = pipe.start(ms.toDS(), queryName = s"igprof-${System.nanoTime()}")
        println(f"IGPROF   start(): ${(System.nanoTime() - t0) / 1e9}%.2f s")
        try {
          val envs = IngestGate.envelopes(spark, sfDir)
          envs.grouped(math.max(1, envs.size / 3 + 1)).zipWithIndex.foreach {
            case (chunk, ci) =>
              val tb = System.nanoTime()
              ms.addData(chunk); q.processAllAvailable()
              println(f"IGPROF   batch $ci (${chunk.size} envs): ${(System.nanoTime() - tb) / 1e9}%.2f s")
          }
        } finally q.stop()
      }
      timed(s"pass $i SUB readSink collect") {
        spark.read.parquet(s"${IngestGate.RoundtripRoot}/sink").count()
      }
    }
    spark.stop()
  }
}
