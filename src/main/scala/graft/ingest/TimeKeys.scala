package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** UTC time-partition key layout, mirroring the reference's
  * `YYYY/MM/DD/HH/<unique-file>` object-key scheme
  * (/root/reference/ingestor/ingestor.go:771-798). In Spark the key
  * becomes hive-style partition directories `y=YYYY/m=MM/d=DD/h=HH` with
  * task-unique part-file names. A flush that spans several hours is
  * hash-partitioned by the key first, so, as in the reference, each hour
  * directory gets one file per flush (more only where `maxRecordsPerFile`
  * splits it), and the hours are written in parallel. A single-hour flush
  * writes one file per write task into its one directory.
  */
object TimeKeys {
  val PartitionColumns: Seq[String] = Seq("y", "m", "d", "h")

  /** Adds y/m/d/h string columns derived from `ts` (UTC — session time
    * zone is pinned to UTC by GraftSession).
    */
  def withUtcKeys(df: DataFrame, ts: Column): DataFrame =
    df.withColumn("y", date_format(ts, "yyyy"))
      .withColumn("m", date_format(ts, "MM"))
      .withColumn("d", date_format(ts, "dd"))
      .withColumn("h", date_format(ts, "HH"))

  /** Whole hours since the epoch of `ts` (UTC), the flush's span unit. */
  def epochHour(ts: Column): Column = floor(unix_timestamp(ts) / 3600)

  /** Partition predicate selecting hours in `[fromHour, toHour]`, both
    * formatted `yyyy-MM-dd HH` (UTC, inclusive). The zero-padded
    * y/m/d/h strings concatenate into a lexicographically ordered
    * composite key, and because the predicate references only partition
    * columns, the file source prunes to the matching `y=/m=/d=/h=`
    * directories — a backfill over one hour of a year-long 100 TB sink
    * lists and reads one hour of files.
    */
  def hourRange(fromHour: String, toHour: String): Column = {
    def key(s: String): String = {
      require(s.matches("""\d{4}-\d{2}-\d{2} \d{2}"""),
        s"hour must be 'yyyy-MM-dd HH', got '$s'")
      s.replaceAll("[- ]", "")
    }
    // lpad(cast) rebuilds the zero-padded form regardless of whether the
    // reader's partition-type inference surfaced y/m/d/h as strings or
    // ints ("h=01" infers as INTEGER 1 on read).
    val composite = concat(
      lpad(col("y").cast("string"), 4, "0"),
      lpad(col("m").cast("string"), 2, "0"),
      lpad(col("d").cast("string"), 2, "0"),
      lpad(col("h").cast("string"), 2, "0"))
    composite >= key(fromHour) && composite <= key(toHour)
  }

  /** Backfill/replay read: the sink rows whose partition hour falls in
    * the inclusive range. */
  def readHourRange(spark: org.apache.spark.sql.SparkSession, path: String,
                    fromHour: String, toHour: String): DataFrame =
    spark.read.parquet(path).filter(hourRange(fromHour, toHour))
}
