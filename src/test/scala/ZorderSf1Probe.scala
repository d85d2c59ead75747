import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.ingest.Compaction
import graft.operators.Layout

/** Round-13 layout gate at sf1 (VERDICT r12 #8): extends the round-9
  * z-order skipping measurement (1M synthetic rows, 6.2×) to the 10×
  * events table, THROUGH the compaction path a streaming ingest needs:
  *
  *   1. sf1 events (6M rows) written z-ordered over (user_id, ts) —
  *      both dims monotone-bucketed into [0, 2^10) so file-level
  *      min/max stats stay tight on the RAW columns — but FRAGMENTED
  *      into 512 small files (the shape frequent flushes leave behind);
  *   2. a 1/16-width ts-band predicate (the NON-leading dimension)
  *      measured via the scan's numOutputRows — rows surviving
  *      row-group min/max pruning — against a user_id-sorted linear
  *      layout of the same data;
  *   3. `Compaction.compactLeaf` 512 → ~32 files BOTH ways: the default
  *      round-robin rewrite (the negative control — expected to destroy
  *      clustering) and `sortBy = zkey` on the persisted z-key
  *      (`Layout.zorderRepartition(keepZAs)`), which must keep the
  *      skipping while fixing the small-file problem.
  *
  * `Test/runMain ZorderSf1Probe [sf1Dir]`; results in NOTES.md.
  */
object ZorderSf1Probe {
  private def timed(label: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"PROBE $label%-48s $s%8.2f s")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${sys.props("user.dir")}/fixtures/sf1")
    val spark = GraftSession("local[32]", "graft-zorder-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    val events = Tables(spark, sfDir).events
      .select("event_id", "user_id", "ts", "event_type", "value")
    val b = events.agg(
      min("user_id"), max("user_id"),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      count(lit(1))).head()
    val (minU, maxU, minT, maxT, n) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3), b.getLong(4))
    println(s"PROBE sf1 events rows=$n userRange=[$minU,$maxU]")

    val buckets = 1024L
    val pre = events
      .withColumn("xn", ((col("user_id") - minU) * buckets / (maxU - minU + 1)).cast("long"))
      .withColumn("yn", ((unix_micros(col("ts")) - minT) * buckets / (maxT - minT + 1)).cast("long"))

    val base = java.nio.file.Files.createTempDirectory("zorder-sf1").toString
    try {
      timed("write z-ordered FRAGMENTED (512 files)") {
        Layout.zorderRepartition(pre, "xn", "yn", nParts = 512, bits = 10,
            keepZAs = Some("zkey"))
          .drop("xn", "yn")
          .write.mode("overwrite").parquet(s"$base/zfrag")
      }
      timed("write user_id-sorted linear (32 files)") {
        events.repartitionByRange(32, col("user_id"))
          .sortWithinPartitions("user_id")
          .write.mode("overwrite").parquet(s"$base/linear")
      }
      // Two compaction copies of the fragmented layout (blind vs
      // sorted), cloned at the FS level so the copies keep the exact
      // file layout (a read+write "copy" would itself re-layout).
      def fsCopy(from: String, to: String): Unit = {
        val src = new java.io.File(from); val dst = new java.io.File(to)
        dst.mkdirs()
        src.listFiles().filter(_.isFile).foreach { f =>
          java.nio.file.Files.copy(f.toPath, new java.io.File(dst, f.getName).toPath)
        }
      }
      fsCopy(s"$base/zfrag", s"$base/zblind")
      fsCopy(s"$base/zfrag", s"$base/zsorted")
      val bytes = new java.io.File(s"$base/zfrag").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val target = bytes / 32 + 1
      timed("compactLeaf 512 files, round-robin (control)") {
        val s = Compaction.compactLeaf(spark, s"$base/zblind", target)
        println(s"PROBE   blind compaction: ${s.filesBefore} -> ${s.filesAfter} files")
      }
      timed("compactLeaf 512 files, sortBy=zkey") {
        val s = Compaction.compactLeaf(spark, s"$base/zsorted", target, sortBy = Seq("zkey"))
        println(s"PROBE   sorted compaction: ${s.filesBefore} -> ${s.filesAfter} files")
      }

      // 1/16-width band on the NON-leading dimension (ts).
      val bandLo = minT + (maxT - minT) / 2
      val bandHi = bandLo + (maxT - minT) / 16
      def scannedRows(dir: String): Long = {
        // collect() (as in Round9Probe, commit e960c89) so the metrics read from THIS
        // Dataset's own execution — a sink write runs a separate
        // QueryExecution and would leave these metrics at zero.
        // The band compares the RAW ts column against timestamp
        // literals: wrapping ts in unix_micros() makes the predicate an
        // expression no parquet filter can push (measured: zero
        // skipping everywhere), which is itself the production lesson —
        // skipping only serves predicates on the stored column.
        val df = spark.read.parquet(dir).filter(
          col("ts") >= timestamp_micros(lit(bandLo)) &&
            col("ts") < timestamp_micros(lit(bandHi)))
        val matched = df.collect().length
        val scan = df.queryExecution.executedPlan.collectLeaves().head
        scan.toString.linesIterator.filter(_.contains("PushedFilters"))
          .foreach(l => println("PROBE   pushed: " + l.trim.take(220)))
        println(s"PROBE   $dir matched=$matched")
        scan.metrics("numOutputRows").value
      }
      val zf = scannedRows(s"$base/zfrag")
      val zb = scannedRows(s"$base/zblind")
      val zs = scannedRows(s"$base/zsorted")
      val ln = scannedRows(s"$base/linear")
      println(s"PROBE rows past row-group stats: zfrag=$zf zsortedCompact=$zs " +
        s"zblindCompact=$zb linear=$ln")
      println(f"PROBE skip ratios vs linear: zfrag ${ln.toDouble / zf}%.1fx, " +
        f"zsortedCompact ${ln.toDouble / zs}%.1fx, zblindCompact ${ln.toDouble / zb}%.1fx")
      assert(zs < ln, "sorted compaction must preserve skipping")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }
    spark.stop()
  }
}
