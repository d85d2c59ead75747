package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries are independent, so they run on a small driver-side thread
  * pool — Spark's scheduler interleaves their jobs across the executor
  * threads, overlapping planning/IO gaps of one query with compute of
  * another.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated entry names — dump only those
    // (local iteration on a new entry without re-running all ~130).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", "graft-verify")
    new java.io.File(outDir).mkdirs()

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Dump timestamps as NTZ (the session is pinned UTC, so this is the
    // UTC wall time — value-identical to what the oracle's DuckDB
    // computes): the engine's sessions write TIMESTAMP_MICROS with
    // isAdjustedToUTC=true for statistics/pruning (GraftSession), which
    // DuckDB reads as TIMESTAMP WITH TIME ZONE and the driver's compare
    // rejects as a type-family mismatch against the oracle's naive
    // TIMESTAMP. The gate compares VALUES under one convention; the
    // instant-vs-wall encoding is a storage concern the dump normalizes.
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == TimestampType)
          d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
        else d
      }
    }
    val selected = only match {
      case Some(names) =>
        // A typo'd name silently selecting nothing would exit green with
        // an empty outDir — the user believes the entry verified when
        // nothing ran. Unknown names fail loudly instead (review r13).
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"unknown entry name(s): ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val futures = selected.toSeq.map { case (name, fn) =>
      Future {
        try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // Failure marker: a crashed query must count as FAIL in the
          // gate, not silently vanish (it leaves no output directory).
          Files.writeString(Paths.get(s"$outDir/$name.FAILED"),
            String.valueOf(e.getMessage))
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
