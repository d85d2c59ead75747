package graft.ingest

import java.io.FileNotFoundException
import java.time.LocalDateTime
import java.time.format.{DateTimeFormatter, ResolverStyle}

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** UTC time-partition key layout, mirroring the reference's
  * `YYYY/MM/DD/HH/<unique-file>` object-key scheme
  * (/root/reference/ingestor/ingestor.go:771-798). In Spark the key
  * becomes hive-style partition directories `y=YYYY/m=MM/d=DD/h=HH` with
  * task-unique part-file names. A flush that spans several hours is
  * hash-partitioned by the key first, so, as in the reference, each hour
  * directory gets one file per flush (more only where `maxRecordsPerFile`
  * splits it), and the hours are written in parallel. A single-hour flush
  * writes one file per write task into its one directory.
  *
  * ==Hour-range reads==
  * As in the reference, a time range is a key-prefix read:
  * [[readHourRange]] lists only the `y=/m=/d=` directories that overlap
  * the range, so its listing grows with the range, not with the history
  * the sink keeps.
  *  - It reads the range's day directories that exist, or, where they
  *    would outnumber `spark.sql.sources.parallelPartitionDiscovery.threshold`,
  *    months, then years, then the root: above the threshold Spark lists
  *    with a job, which costs more than the driver-side listing it saves.
  *  - It reads them with `basePath` = the sink root, so y/m/d/h stay
  *    partition columns with their inferred types, and [[hourRange]]
  *    prunes the hours inside the chosen prefixes.
  *  - It takes the data schema from one footer on the driver (the Spark
  *    schema under `org.apache.spark.sql.parquet.row.metadata`) instead of
  *    running Spark's one-task inference job: the first data file in path
  *    order under the chosen directories, the file Spark's non-merging
  *    inference reads for the same paths. A sink whose files disagree on
  *    their schema can therefore read with another schema than a
  *    whole-sink read.
  *
  * When no directory in the range exists, it reads the sink's first day
  * directory in path order with the same filter: that directory holds
  * the file Spark's non-merging inference picks for the whole tree (the
  * first data file in path order; a summary file elsewhere in the tree
  * would take precedence), so the empty result has the whole sink's
  * schema, and the listing follows one path down the tree.
  *
  * It falls back to the whole-tree read, `spark.read.parquet(root)` with
  * the same filter, when the sink holds no day directory, when the
  * footer holds no Spark schema or one naming a partition column, under
  * `spark.sql.parquet.mergeSchema`, and when a directory the walk lists
  * holds an entry outside the layout: anything but hidden files,
  * `y=dddd`, `m=dd`, `d=dd` directories and the null-key directory
  * (`y=__HIVE_DEFAULT_PARTITION__`, rows without an event time, which no
  * range holds). Such an entry is a directory whose rows the prefix
  * choice could not place, a parquet summary file (Spark would prefer its
  * schema), or a streaming file sink's `_spark_metadata` log, which only
  * a read of the sink root consults.
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
    * directories among those it has listed. Throws
    * `IllegalArgumentException`, naming the argument, for an hour that
    * is not a real `yyyy-MM-dd HH` or a `fromHour` after `toHour`.
    */
  def hourRange(fromHour: String, toHour: String): Column = {
    val (from, to) = rangeKeys(fromHour, toHour)
    // lpad(cast) rebuilds the zero-padded form regardless of whether the
    // reader's partition-type inference surfaced y/m/d/h as strings or
    // ints ("h=01" infers as INTEGER 1 on read).
    val composite = concat(
      lpad(col("y").cast("string"), 4, "0"),
      lpad(col("m").cast("string"), 2, "0"),
      lpad(col("d").cast("string"), 2, "0"),
      lpad(col("h").cast("string"), 2, "0"))
    composite >= from && composite <= to
  }

  /** Backfill/replay read: the sink rows whose partition hour falls in
    * the inclusive range, read as a key-prefix read (see the object's
    * doc). Validates its arguments as [[hourRange]] does. */
  def readHourRange(spark: SparkSession, path: String,
                    fromHour: String, toHour: String): DataFrame = {
    val (from, to) = rangeKeys(fromHour, toHour)
    prefixRead(spark, path, from, to).getOrElse(spark.read.parquet(path))
      .filter(hourRange(fromHour, toHour))
  }

  private val HourShape = """\d{4}-\d{2}-\d{2} \d{2}""".r
  private val HourFormat =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm").withResolverStyle(ResolverStyle.STRICT)

  /** The composite keys (`yyyyMMddHH`) of a validated, ordered range. */
  private def rangeKeys(fromHour: String, toHour: String): (String, String) = {
    def key(name: String, hour: String): String = {
      require(hour != null && HourShape.matches(hour) &&
        Try(LocalDateTime.parse(s"$hour:00", HourFormat)).isSuccess,
        s"$name must be a UTC hour 'yyyy-MM-dd HH', got '$hour'")
      hour.replaceAll("[- ]", "")
    }
    val (from, to) = (key("fromHour", fromHour), key("toHour", toHour))
    require(from <= to, s"fromHour '$fromHour' is after toHour '$toHour'")
    (from, to)
  }

  /** The y/m/d levels of the key: column and digits. Hours are left to
    * the filter: a day directory holds at most 24 of them. */
  private val KeyLevels = Seq("y" -> 4, "m" -> 2, "d" -> 2)

  /** Spark's listing rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * names starting with `_` (without `=`) or `.` are skipped, except
    * parquet summary files. */
  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) ||
      name.startsWith("_common_metadata") || name.startsWith("_metadata")

  private def prefixRead(spark: SparkSession, path: String, from: String, to: String): Option[DataFrame] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val fs = new Path(path).getFileSystem(conf)
      val root = fs.makeQualified(new Path(path))
      val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
      for {
        dirs <- prefixDirs(fs, root, from, to, threshold)
        schema <- footerSchema(fs, conf, dirs)
      } yield spark.read.option("basePath", root.toString).schema(schema).parquet(dirs.map(_.toString): _*)
    }

  /** The key-prefix directories under `root` that overlap `[from, to]`:
    * days, or the coarsest level needed to stay within `threshold`
    * paths. When none exists, the first day directory in path order: it
    * holds the file Spark's non-merging inference picks for the whole
    * tree, so the empty result has the whole sink's schema. None when
    * the root is missing, a listed directory holds an entry outside the
    * layout, or the sink has no day directory. */
  private def prefixDirs(fs: FileSystem, root: Path, from: String, to: String,
                         threshold: Int): Option[Seq[Path]] = {
    // Each directory carries its key prefix, e.g. "202401" for y=2024/m=01.
    // `pick` chooses among a level's children; Some(Nil) when it chose none.
    def walk(dirs: Seq[(Path, String)], level: Int)(
        pick: (Seq[(Path, String)], Int) => Seq[(Path, String)]): Option[Seq[Path]] =
      if (level == KeyLevels.size) Some(dirs.map(_._1))
      else {
        val (column, digits) = KeyLevels(level)
        val Name = s"$column=(\\d{$digits})".r
        val nullKey = s"$column=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
        val children = dirs.flatMap { case (dir, prefix) =>
          fs.listStatus(dir).toSeq.filter { s =>
            val name = s.getPath.getName
            // A streaming file sink's log (`_spark_metadata`) names the
            // committed files; only the whole-tree read consults it.
            (visible(name) || name == "_spark_metadata") &&
              // Rows with a null key (no event time) are in no range:
              // `hourRange` is null on them.
              !(s.isDirectory && name == nullKey)
          }.map { s =>
            s.getPath.getName match {
              case Name(v) if s.isDirectory => Some(s.getPath -> (prefix + v))
              case _ => None
            }
          }
        }
        if (children.contains(None)) None
        else {
          val next = pick(children.flatten, level)
          if (next.isEmpty) Some(Nil)
          else if (next.size > threshold) Some(dirs.map(_._1))
          else walk(next, level + 1)(pick)
        }
      }
    def inRange(children: Seq[(Path, String)], level: Int) = {
      val width = KeyLevels.take(level + 1).map(_._2).sum
      children.filter { case (_, k) => k >= from.take(width) && k <= to.take(width) }
    }
    def first(children: Seq[(Path, String)], level: Int) = children.sortBy(_._2).take(1)
    try walk(Seq(root -> ""), 0)(inRange) match {
      case Some(Nil) => walk(Seq(root -> ""), 0)(first).filter(_.nonEmpty)
      case dirs => dirs
    } catch { case _: FileNotFoundException => None }
  }

  /** The Spark schema in the footer of the first data file under `dirs`
    * in path order, if it holds one that names no partition column. */
  private def footerSchema(fs: FileSystem, conf: Configuration, dirs: Seq[Path]): Option[StructType] = {
    // A directory's files sort as "<dir>/...", so it orders by path + "/".
    def order(s: FileStatus) = s.getPath.toString + (if (s.isDirectory) "/" else "")
    def files(entries: Seq[FileStatus]): Iterator[FileStatus] =
      entries.filter(s => visible(s.getPath.getName)).sortBy(order).iterator.flatMap { s =>
        if (s.isDirectory) files(fs.listStatus(s.getPath).toSeq) else Iterator(s)
      }
    val summary = Set("_metadata", "_common_metadata")
    val first = dirs.sortBy(_.toString + "/").iterator
      .flatMap(d => files(fs.listStatus(d).toSeq)).find(s => !summary(s.getPath.getName))
    first.flatMap { f =>
      val options = HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
      val json = try {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), options)
        try Option(reader.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      } catch { case NonFatal(_) => None } // unreadable: the whole-tree read reports it
      json.flatMap(j => Try(DataType.fromJson(j)).toOption).collect {
        case s: StructType if !s.fieldNames.exists(n => PartitionColumns.exists(_.equalsIgnoreCase(n))) => s
      }
    }
  }
}
