package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB stance: bucketing for
  * shuffle-free co-located joins, and salting for skewed keys.
  */
object Layout {

  /** Persist `df` as a managed table bucketed+sorted by `key`. Two
    * tables bucketed by the same key into the same bucket count join
    * with NO exchange on either side — the shuffle is paid once at
    * write time and amortized over every subsequent join.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Salted equi-join for skewed keys: the big side gets a salt in
    * [0, salts); the small side is replicated once per salt value, so a
    * hot key's rows spread over `salts` reducers instead of one.
    * Result equals `big.join(small, key)` exactly. (AQE's skew-join
    * split handles moderate skew automatically; explicit salting is for
    * the pathological keys AQE can't split, e.g. a single giant group.)
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts >= 1)
    val saltedBig = big.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Z-order (Morton) key of two non-negative integer columns,
    * bit-interleaved over the low `bits` bits of each: bit `i` of `x`
    * lands at position `2i`, bit `i` of `y` at `2i+1`. Composed from
    * codegen'd built-ins only (shiftright / shiftleft / bitwise and-or),
    * so it stays inside whole-stage codegen — no UDF. Callers normalize
    * the dimensions into `[0, 2^bits)` first (rank, bucket, or modulo);
    * values outside that range alias into it (only the low bits
    * participate).
    *
    * Within range the mapping is a bijection on (x, y) — gated in
    * LayoutSpec — so a z-sorted layout loses no distinguishing power
    * versus sorting on the pair.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      val xb = shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      acc.bitwiseOR(xb).bitwiseOR(yb)
    }
  }

  /** Cluster `df` into `nParts` range-partitions of the z-order key over
    * (`xCol`, `yCol`), sorted by the key within each partition — the
    * write-side layout that makes BOTH dimensions skippable: each
    * output file covers a bounded rectangle of (x, y) space, so parquet
    * min/max stats prune files for point/box predicates on either
    * column, where a linear sort bounds only its leading column
    * (measured in LayoutSpec). The z-shuffle is paid once at write time,
    * like [[writeBucketed]]'s bucket shuffle.
    *
    * `keepZAs` persists the z-key under the given column name instead
    * of dropping it. A table that keeps its cluster key can be
    * re-compacted later WITHOUT recomputing the interleave —
    * `Compaction.compactLeaf(..., sortBy = Seq(zCol))` range-rewrites
    * on the persisted key and the skipping layout survives layout
    * maintenance (lacking a table format's metadata, the persisted
    * column IS the layout contract; one long per row buys it).
    */
  def zorderRepartition(df: DataFrame, xCol: String, yCol: String,
                        nParts: Int, bits: Int = 16,
                        keepZAs: Option[String] = None): DataFrame = {
    require(nParts >= 1)
    val zCol = keepZAs.getOrElse("__z")
    require(!df.columns.contains(zCol), s"input must not already have a '$zCol' column")
    val clustered = df.withColumn(zCol, zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(nParts, col(zCol))
      .sortWithinPartitions(zCol)
    if (keepZAs.isEmpty) clustered.drop(zCol) else clustered
  }

  /** Two-phase salted aggregation: partial counts per (key, salt), then
    * final per key — the map-side-combine pattern made explicit for
    * hot-key distributions where one reducer would otherwise own the
    * whole group.
    */
  def saltedCount(df: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts >= 1)
    df.withColumn("__salt", pmod(monotonically_increasing_id(), lit(salts.toLong)))
      .groupBy(col(key), col("__salt")).agg(count(lit(1)).as("__partial"))
      .groupBy(col(key)).agg(sum("__partial").as("n"))
  }

  // ------------------------------------------------------------------
  // Bucketed PATH tables: the [[writeBucketed]] contract for indexes
  // that must live as PORTABLE DIRECTORIES rather than metastore
  // tables — a persisted index (LSH band index, inverted text index)
  // is written once, then read by other JVMs, after fixture renames,
  // with no shared metastore. Files are written through a TRANSIENT
  // external-table registration (dropped immediately — external drops
  // keep files) and re-registered at read time purely from the
  // directory plus a sidecar metadata file carrying the schema DDL and
  // bucket spec. Readers get a genuine bucketed catalog table, so
  // bucket-key equi-joins skip the index-side exchange and IN/equality
  // predicates on the bucket column prune buckets at the scan.

  /** Underscore prefix: parquet directory listings treat the file as
    * hidden metadata, so it never pollutes a scan of the dir. */
  private[operators] val PathTableMetaFile = "_graft_path_table.properties"

  // One lock for all catalog registrations: concurrent loads of the
  // same path must not race a check-then-create.
  private val catalogLock = new Object

  private def pathTableName(path: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(MetaIO.qualified(path).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    s"graft_path_tbl_$digest"
  }

  /** The sidecar properties of a path table, or None if `path` is not
    * one (no metadata file). Extra application properties appear under
    * their original keys; the reserved keys are `schemaDdl`,
    * `bucketCol`, `nBuckets`. Sidecar I/O rides [[MetaIO]] (Hadoop
    * FileSystem), so path tables work on any scheme the data does. */
  def pathTableProps(path: String): Option[Map[String, String]] =
    MetaIO.readProps(s"$path/$PathTableMetaFile").map { p =>
      import scala.jdk.CollectionConverters._
      p.asScala.toMap
    }

  /** Write `df` to `path` bucketed+sorted by `bucketCol`, with the
    * schema/bucket spec (plus caller `extraProps`, e.g. fingerprint
    * parameters) persisted alongside for [[loadBucketedPath]]. The one
    * shuffle is the bucketed write itself — paid once, amortized over
    * every subsequent exchange-free join against the table. */
  def saveBucketedPath(df: DataFrame, path: String, bucketCol: String,
                       nBuckets: Int,
                       extraProps: Map[String, String] = Map.empty): Unit =
    catalogLock.synchronized {
      require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
      require(df.columns.contains(bucketCol), s"no '$bucketCol' column in input")
      val reserved = Set("schemaDdl", "bucketCol", "nBuckets")
      val clash = extraProps.keySet.intersect(reserved)
      require(clash.isEmpty, s"extraProps may not use reserved key(s): ${clash.mkString(", ")}")
      val spark = df.sparkSession
      val table = pathTableName(path)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      df.write.mode("overwrite")
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .option("path", MetaIO.qualified(path))
        .saveAsTable(table)
      // the registration was only scaffolding for the bucketed writer
      // (the dir may be atomically renamed by a fixture publisher right
      // after this call); external drop keeps the files
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val p = new java.util.Properties()
      p.setProperty("schemaDdl", df.schema.toDDL)
      p.setProperty("bucketCol", bucketCol)
      p.setProperty("nBuckets", nBuckets.toString)
      extraProps.foreach { case (k, v) => p.setProperty(k, v) }
      MetaIO.writePropsAtomic(path, PathTableMetaFile, p,
        "graft bucketed path table")
    }

  /** Open a [[saveBucketedPath]] directory as the bucketed catalog
    * table it was written as, re-registered idempotently from the
    * directory alone (table name derives from the absolute path).
    * Returns the table plus the caller's extraProps. Fails LOUDLY on a
    * directory without metadata instead of silently reading it as
    * unbucketed parquet. */
  def loadBucketedPath(spark: org.apache.spark.sql.SparkSession,
                       path: String): (DataFrame, Map[String, String]) =
    catalogLock.synchronized {
      val props = pathTableProps(path).getOrElse(sys.error(
        s"$path has no $PathTableMetaFile — not a graft bucketed path table; " +
          "rebuild with Layout.saveBucketedPath"))
      val table = pathTableName(path)
      if (!spark.catalog.tableExists(table)) {
        val loc = MetaIO.qualified(path)
        spark.sql(
          s"""CREATE TABLE $table (${props("schemaDdl")})
             |USING PARQUET
             |CLUSTERED BY (${props("bucketCol")}) SORTED BY (${props("bucketCol")})
             |INTO ${props("nBuckets")} BUCKETS
             |LOCATION '$loc'""".stripMargin)
      }
      val reserved = Set("schemaDdl", "bucketCol", "nBuckets")
      (spark.table(table), props.filterNot { case (k, _) => reserved(k) })
    }

  /** Re-publish a path table's sidecar with `extraProps` replacing the
    * caller-owned properties (reserved schema/bucket keys preserved
    * verbatim) — the meta re-bless step of the band-index append/
    * compaction lifecycle. Atomic publish via [[MetaIO]]. */
  def rewritePathTableProps(path: String, extraProps: Map[String, String]): Unit =
    catalogLock.synchronized {
      val existing = pathTableProps(path).getOrElse(sys.error(
        s"$path has no $PathTableMetaFile — not a graft bucketed path table"))
      val reserved = Set("schemaDdl", "bucketCol", "nBuckets")
      val clash = extraProps.keySet.intersect(reserved)
      require(clash.isEmpty,
        s"extraProps may not use reserved key(s): ${clash.mkString(", ")}")
      val p = new java.util.Properties()
      reserved.foreach { k =>
        // pathTableProps strips nothing, so reserved keys are present
        p.setProperty(k, existing.getOrElse(k, sys.error(
          s"$path sidecar is missing reserved key '$k' — corrupt; rebuild")))
      }
      extraProps.foreach { case (k, v) => p.setProperty(k, v) }
      MetaIO.writePropsAtomic(path, PathTableMetaFile, p,
        "graft bucketed path table")
    }

  /** Append rows into an existing [[saveBucketedPath]] table under its
    * OWN bucket spec — the write half of the nightly band-index append
    * lifecycle (r19 directive #1). The insert plans against the
    * registered bucketed catalog table, so the new files carry proper
    * bucket ids (Spark's bucketed write: each task emits at most one
    * file per bucket it holds) and every later bucket-key equi-join
    * keeps reading the index side exchange-free; multiple files per
    * bucket are native to bucketed scans. Input must carry exactly the
    * saved schema's columns (any order — the insert is arranged by
    * NAME against the sidecar DDL, loudly, because `insertInto` itself
    * is positional and a silent misorder would corrupt the index). */
  def appendBucketedPath(df: DataFrame, path: String): Unit = {
    val props = pathTableProps(path).getOrElse(sys.error(
      s"$path has no $PathTableMetaFile — not a graft bucketed path table; " +
        "build with Layout.saveBucketedPath before appending"))
    val saved = org.apache.spark.sql.types.StructType.fromDDL(props("schemaDdl"))
    val missing = saved.fieldNames.toSet -- df.columns.toSet
    val extra = df.columns.toSet -- saved.fieldNames.toSet
    require(missing.isEmpty && extra.isEmpty,
      s"appendBucketedPath: batch schema (${df.columns.sorted.mkString(", ")}) " +
        s"does not match the index's (${saved.fieldNames.sorted.mkString(", ")}) " +
        s"— refusing a positional insert that would scramble columns")
    // types too: insertInto CASTS positionally and silently, so a
    // drifted batch type (long id written as the index's int, truncated)
    // must die here, named, not in the files
    val drifted = saved.fields.flatMap { f =>
      df.schema.find(_.name == f.name)
        .filter(_.dataType != f.dataType)
        .map(g => s"${f.name}: batch ${g.dataType.sql} vs index ${f.dataType.sql}")
    }
    require(drifted.isEmpty,
      s"appendBucketedPath: batch column type(s) drifted from the index's " +
        s"(${drifted.mkString("; ")}) — refusing a silent positional cast")
    val table = {
      // registration is idempotent; loadBucketedPath owns the lock
      loadBucketedPath(df.sparkSession, path)
      pathTableName(path)
    }
    // Bucket-ALIGN the batch before the insert: without it every append
    // writes up to (shuffle tasks × nBuckets) files — measured 257/night
    // at 32 tasks × 8 buckets, 5,397 files and a 4× nightly-query
    // slowdown after 20 nights (Round20BandIndexProbe, commit e960c89) — exactly the
    // small-file failure mode the compaction lifecycle exists to kill.
    // repartition's hash IS the bucket-id hash, so each task holds one
    // bucket and the bucketed writer emits ≤ nBuckets files per append;
    // serializing a NIGHTLY BATCH's write into nBuckets tasks is cheap
    // (the batch is the small side by definition — the initial build
    // keeps its parallel write). AQE is paused for the one insert or
    // its local-shuffle-read rewrite unravels the alignment (the
    // compactBucketedPath adjudication). The batch plan is bound to the
    // caller's session, so the pause must touch THAT session's conf —
    // taken under catalogLock so two concurrent maintenance writes
    // cannot interleave their save/restore (the second would capture
    // "false" as the previous value and strand the session without AQE
    // — the StreamReplay conf-leak lesson); unrelated queries planned
    // in the window lose AQE briefly, the documented maintenance
    // caveat.
    val spark = df.sparkSession
    val nBuckets = props("nBuckets").toInt
    val aligned = df.select(saved.fieldNames.map(col): _*)
      .repartition(nBuckets, col(props("bucketCol")))
    catalogLock.synchronized {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try aligned.write.mode("append").insertInto(table)
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    // the appended files are new to this table's in-session file-listing
    // cache; refresh so a same-session reader sees them
    spark.catalog.refreshTable(table)
  }

  /** Rewrite a [[saveBucketedPath]] table into ~targetFileBytes files
    * per bucket — small-file maintenance for the nightly append
    * lifecycle (each append lands ≤ nBuckets new files, so after N
    * nights a bucket scan opens N files and footer overhead creeps in
    * — the ix01 failure mode for the band-index family). The rewrite
    * must go through the BUCKETED writer (a plain
    * [[graft.ingest.Compaction]] leaf rewrite would scramble rows
    * across bucket ids and silently break every later bucketed join),
    * so: read the files, repartition by the bucket column into
    * k·nBuckets tasks where k = ⌈bytes / (targetFileBytes·nBuckets)⌉ —
    * repartition's hash IS the bucket-id hash, and when nBuckets
    * divides the partition count, `pmod(h, k·nBuckets) mod nBuckets =
    * pmod(h, nBuckets)`, so EVERY task still holds keys of exactly one
    * bucket and the writer emits k files per non-empty bucket. One
    * file per bucket on a small index; bounded ~target-size files on a
    * big one (a 1 TB / 32-bucket index must not become 32 × 32 GB
    * monoliths — the write would also serialize into 32 tasks).
    * Rewrite lands in a sibling temp dir via [[saveBucketedPath]]
    * (same spec, same extraProps), then the directories swap and the
    * stale catalog entries drop. Returns (filesBefore, filesAfter,
    * bytes, compacted); no-op at ≤ k·nBuckets files. NOT atomic for
    * concurrent readers (the Compaction caveat); run in the
    * maintenance window like every layout rewrite. */
  def compactBucketedPath(spark: org.apache.spark.sql.SparkSession, path: String,
                          targetFileBytes: Long = 128L * 1024 * 1024)
      : graft.ingest.Compaction.CompactionStats = {
    require(targetFileBytes > 0)
    val props = pathTableProps(path).getOrElse(sys.error(
      s"$path has no $PathTableMetaFile — not a graft bucketed path table"))
    val nBuckets = props("nBuckets").toInt
    val bucketCol = props("bucketCol")
    val reserved = Set("schemaDdl", "bucketCol", "nBuckets")
    val (filesBefore, bytes) = MetaIO.parquetLeafStats(path)
    val filesPerBucket = math.max(1L,
      math.ceil(bytes.toDouble / (targetFileBytes.toDouble * nBuckets)).toLong)
    val want = (filesPerBucket * nBuckets).toInt
    if (filesBefore <= want)
      return graft.ingest.Compaction.CompactionStats(
        path, filesBefore, filesBefore, bytes, compacted = false)
    // Read the files as PLAIN parquet (pinned sidecar schema, no footer
    // job), NOT through the bucketed catalog table: the table scan
    // advertises HashPartitioning(bucket, n), so the planner eliminates
    // the repartition below as redundant and THEN disables the bucketed
    // scan as unneeded — leaving size-coalesced partitions that mix
    // buckets, and a rewrite that never collapses (measured: 32 → 11
    // files instead of 32 → nBuckets). A plain scan has no partitioning
    // to mis-plan against. AQE must be OFF for this one write for the
    // same reason at runtime: with no write-declared distribution, its
    // local-shuffle-read rewrite would unravel the repartition's
    // clustering — so the whole rewrite runs on a CHILD session
    // (newSession: own conf, shared catalog/context) instead of
    // toggling the caller's conf, which a concurrently planned query
    // would observe (the StreamReplay conf-isolation lesson). Each
    // repartition task holds exactly one bucket id (repartition's hash
    // IS the bucket-id hash), so the bucketed writer emits exactly
    // k files per non-empty bucket.
    val saved = org.apache.spark.sql.types.StructType.fromDDL(props("schemaDdl"))
    val maint = spark.newSession()
    maint.conf.set("spark.sql.adaptive.enabled", "false")
    val df = maint.read.schema(saved).parquet(MetaIO.qualified(path))
    val tmp = s"$path.compact-tmp"
    MetaIO.deleteRecursively(tmp)
    saveBucketedPath(df.repartition(want, col(bucketCol)), tmp, bucketCol,
      nBuckets, extraProps = props.filterNot { case (k, _) => reserved(k) })
    catalogLock.synchronized {
      // swap: old tree out of the way, rewrite in, stale registrations
      // dropped (both names — the path's digest table now points at new
      // files, the tmp digest at a gone dir)
      spark.sql(s"DROP TABLE IF EXISTS ${pathTableName(path)}")
      spark.sql(s"DROP TABLE IF EXISTS ${pathTableName(tmp)}")
      val old = s"$path.compact-old"
      MetaIO.deleteRecursively(old)
      MetaIO.renameOverwrite(path, old)
      MetaIO.renameOverwrite(tmp, path)
      MetaIO.deleteRecursively(old)
    }
    val (filesAfter, _) = MetaIO.parquetLeafStats(path)
    graft.ingest.Compaction.CompactionStats(
      path, filesBefore, filesAfter, bytes, compacted = true)
  }
}
