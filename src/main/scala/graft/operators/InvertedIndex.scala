package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.tokens

/** Persisted inverted text index + conjunctive keyword search — the
  * exact-retrieval sibling of [[TextAnalysis.bm25]] (which scores on
  * the fly) and the text analog of the persisted [[IvfIndex]]: the
  * expensive corpus pass (tokenize + posting aggregation) happens ONCE
  * at build time; every query touches only the partitions holding its
  * terms.
  *
  * Postings are (term, doc_id, tf, dl) rows written PARTITIONED BY a
  * crc32-derived `term_bucket` — the [[IvfIndex]] discipline: "a query
  * reads only its terms' buckets" is enforced by parquet DIRECTORY
  * partition pruning at the storage layer (`PartitionFilters` in the
  * plan), which no planner heuristic can disable (a bucketBy layout's
  * pruning is skipped whenever the planner disables bucketed scanning
  * for a query that doesn't join/agg on the bucket key — measured, and
  * exactly the shape of a search query). The query-side bucket ids are
  * computed driver-side with the same CRC so the filter is a literal
  * IN list; the doc-keyed intersection aggregate is the only shuffle,
  * sized by the matched postings, never the corpus.
  *
  * `dl` (document token length) is DENORMALIZED into every posting row
  * — the space-for-locality trade that makes ranked retrieval
  * index-local: BM25 ([[searchIndexedBm25]]) needs each matched doc's
  * length, and carrying it on the posting costs one int column in the
  * index where a separate doc-length table would cost a corpus-sized
  * join on every query. The remaining corpus-level stats BM25 needs
  * (doc count, total token count) are 2 numbers, persisted in the
  * index metadata at build time and maintained incrementally on
  * append — a query never scans beyond its term buckets.
  */
object InvertedIndex {

  /** crc32(term) mod nBuckets — the Spark column form; MUST stay in
    * lockstep with [[termBucketLocal]] (spec-pinned equality). */
  private def termBucket(term: Column, nBuckets: Int): Column =
    pmod(crc32(term.cast("binary")), lit(nBuckets.toLong))

  /** The same bucket function evaluated driver-side for query terms. */
  private[operators] def termBucketLocal(term: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(term.getBytes("UTF-8"))
    c.getValue % nBuckets
  }

  /** Index-wide metadata persisted next to the postings: bucket count
    * plus the 2 corpus stats ranked retrieval needs ([[searchIndexedBm25]]).
    * `docCount`/`totalTokens` count docs WITH at least one token — the
    * same universe the postings (and any tokenize-side oracle) see.
    * `postingRows` pins the exact posting row count the stats were
    * computed over; `dataFp` is the [[IndexWitness]] fingerprint that
    * makes a stale meta (crash between a parquet append and the meta
    * write) DETECTABLE instead of silently mis-scoring BM25:
    * [[appendToIndex]] and [[verifyIndex]] check it and fail loudly. */
  final case class IndexMeta(nBuckets: Int, docCount: Long, totalTokens: Long,
                             postingRows: Long, dataFp: String)

  /** (term, doc_id, tf, dl) posting rows over the shared [[tokens]]
    * convention — one corpus scan + one (term, doc) aggregation; `dl`
    * rides a doc-keyed window over the aggregated postings (posting
    * rows, never raw tokens, cross that second exchange). */
  def buildPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("int").as("tf"))
      .withColumn("dl", sum("tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")).cast("int"))
      .select("term", "doc_id", "tf", "dl")

  /** The index sidecar. v2 = the dataFp file-listing witness replaced
    * the per-query posting count. */
  private val Sidecar = new PersistedIndex[IndexMeta]("inverted", 2, "saveIndex",
      PersistedIndex.PropsFile("_graft_inverted_index.properties", "graft inverted index"))(
    m => Seq("nBuckets" -> m.nBuckets, "docCount" -> m.docCount,
      "totalTokens" -> m.totalTokens, "postingRows" -> m.postingRows),
    f => IndexMeta(f.int("nBuckets"), f.long("docCount"), f.long("totalTokens"),
      f.long("postingRows"), f.dataFp))

  /** Loud stats-consistency check: the meta's [[IndexWitness]]
    * file-listing fingerprint vs the directory's current listing — a
    * filesystem-METADATA comparison, no Spark job, no footer read (r16
    * advisory; the previous form counted the whole posting table). A
    * mismatch means a crash landed between a parquet append and its
    * meta write, so docCount/totalTokens are stale and BM25 would
    * silently mis-score — rebuild. [[appendToIndex]] runs this
    * automatically before every append (stale stats cannot compound);
    * call it directly after any suspected interrupted append before
    * trusting ranked retrieval. */
  def verifyIndex(spark: SparkSession, path: String): IndexMeta =
    Sidecar.verify(path, "verifyIndex")

  /** Build + persist the index, partitioned by term bucket. Corpus
    * stats are aggregated from a read-back of the just-written postings
    * (a column-pruned scan of the compact index — cheaper than
    * persisting the full posting build just to aggregate it twice). */
  def saveIndex(docs: DataFrame, path: String, nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    Sidecar.build(path) {
      buildPostings(docs)
        .withColumn("term_bucket", termBucket(col("term"), nBuckets))
        .write.mode("overwrite").partitionBy("term_bucket").parquet(path)
      val st = docs.sparkSession.read.parquet(path).agg(
        count_distinct(col("doc_id")).as("n"),
        coalesce(sum(col("tf")), lit(0L)).as("sumdl"),
        count(lit(1)).as("rows")).head()
      IndexMeta(nBuckets, st.getLong(0), st.getLong(1), st.getLong(2), dataFp = "")
    }
  }

  /** INCREMENTAL index maintenance — the [[TextDedup.saveBandIndex]] /
    * dd11 pattern for text retrieval: only the NEW batch is tokenized
    * and aggregated; its postings are APPENDED into the existing
    * term-bucket directories (parquet append writes new files, touches
    * nothing existing), so a nightly ingest costs the batch, never a
    * corpus re-index. Contract: batches carry doc_ids the index has
    * not seen (re-ingesting a doc would duplicate its (term, doc)
    * postings and over-count intersections — dedup upstream, exactly
    * as the ingest pipeline's effectively-once sink guarantees).
    */
  def appendToIndex(newDocs: DataFrame, path: String): Unit =
    Sidecar.maintain(path, "appendToIndex") { meta =>
      // Persist the (nightly-sized) batch postings: they feed both the
      // append write and the stats delta — corpus stats stay maintained
      // incrementally, never recomputed over the whole index.
      val batch = buildPostings(newDocs)
        .withColumn("term_bucket", termBucket(col("term"), meta.nBuckets))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val st = try {
        batch.write.mode("append").partitionBy("term_bucket").parquet(path)
        batch.agg(
          count_distinct(col("doc_id")).as("n"),
          coalesce(sum(col("tf")), lit(0L)).as("sumdl"),
          count(lit(1)).as("rows")).head()
      } finally batch.unpersist()
      ((), Some(meta.copy(docCount = meta.docCount + st.getLong(0),
        totalTokens = meta.totalTokens + st.getLong(1),
        postingRows = meta.postingRows + st.getLong(2))))
    }

  /** Compact the small files nightly [[appendToIndex]] runs accrete in
    * the term-bucket partitions (ix01 — the [[ProductQuantizer
    * .compactPqIndex]] lifecycle for retrieval): witness first (a stale
    * index must not be rewritten into "clean" files — rebuild it),
    * compact every over-fragmented `term_bucket=` leaf, re-bless the
    * meta. Posting CONTENT and the maintained corpus stats are
    * untouched — BM25 scores are hash-identical pre/post (spec-gated).
    * Crash between swap and re-bless = the loud witness-stale state =
    * rebuild, same window as an interrupted append. */
  def compactIndex(spark: SparkSession, path: String,
                   targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[graft.ingest.Compaction.CompactionStats] =
    Sidecar.maintain(path, "compactIndex") { meta =>
      val stats = graft.ingest.Compaction.compactPartitioned(spark, path, targetFileBytes)
      (stats, Option.when(stats.exists(_.compacted))(meta))
    }

  /** Open a [[saveIndex]] directory: the partitioned posting table plus
    * its metadata. Fails LOUDLY on a foreign directory, and on a stale
    * one (the [[verifyIndex]] witness): search and BM25 scoring never
    * run over postings the meta's stats do not describe. */
  def loadIndex(spark: SparkSession, path: String): (DataFrame, IndexMeta) = {
    val meta = Sidecar.verify(path, "loadIndex")
    (spark.read.parquet(path), meta)
  }

  /** The bucket-pruned postings for a query's terms: the bucket IN
    * list prunes partition DIRECTORIES before any row is read, the
    * term IN list prunes rows within them. */
  private def matchedPostings(spark: SparkSession, path: String,
                              terms: Seq[String]): (DataFrame, IndexMeta) = {
    val (postings, meta) = loadIndex(spark, path)
    val buckets = terms.map(termBucketLocal(_, meta.nBuckets)).distinct
    (postings.filter(col("term_bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*)), meta)
  }

  /** Conjunctive (AND) search against a LOADED index. */
  def searchIndexed(spark: SparkSession, path: String,
                    terms: Seq[String]): DataFrame = {
    val (postings, meta) = loadIndex(spark, path)
    val buckets = terms.map(termBucketLocal(_, meta.nBuckets)).distinct
    searchAll(postings.filter(col("term_bucket").isin(buckets: _*)), terms)
  }

  /** Ranked (BM25) retrieval against a LOADED index — the composition
    * of [[TextAnalysis.bm25]]'s scoring arithmetic with the persisted
    * index's locality: tf and dl come from the bucket-pruned postings,
    * df for each query term from those same matched rows (exact — a
    * term's postings are complete within its bucket), and the two
    * corpus-level numbers (N, Σdl) from [[IndexMeta]] as literals. A
    * query therefore reads ONLY its terms' bucket directories, however
    * large the corpus; the doc-keyed pivot is the only shuffle, sized
    * by matched postings.
    *
    * Scoring is arithmetic-identical to [[TextAnalysis.bm25]] (same
    * micro-unit idf floor, same operation order, same fixed query-order
    * combination — the oracle-parity discipline), so the same DuckDB
    * oracle form gates both.
    */
  def searchIndexedBm25(spark: SparkSession, path: String, terms: Seq[String],
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16,
      s"${terms.size} query terms — bm25 builds a fixed-order score column per term")
    require(terms.distinct == terms, s"duplicate query terms in $terms")
    terms.foreach { t =>
      require(t.nonEmpty && t == t.toLowerCase && !t.exists(_.isWhitespace),
        s"query term '$t' must be a non-empty lowercase single token " +
          "(match the tokenizer: lowercased, whitespace-split)")
    }
    val (matched, meta) = matchedPostings(spark, path, terms)
    // Per-doc fixed-order tf pivot; dl rides the group key (constant
    // within a doc by construction).
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf").cast("long")).otherwise(0L)).as(s"__tf$i")
    }
    val perDoc = matched.groupBy(col("doc_id"), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    // 1-row per-term df frame from the same matched postings (one row
    // per (term, doc) ⇒ a conditional count IS the df), broadcast to
    // every doc — the TextAnalysis.bm25 corpus-frame shape.
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"__df$i")
    }
    val dfs = matched.agg(dfCols.head, dfCols.tail: _*)
    val n = lit(meta.docCount)
    val sumdl = lit(meta.totalTokens)
    def termScore(i: Int): Column = {
      val tf = col(s"__tf$i"); val df = col(s"__df$i")
      val idfMicro = floor(log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
        * 1000000 + 0.5).cast("long")
      when(tf > 0,
        (idfMicro / lit(1000000.0)) * (tf * (lit(k1) + lit(1.0))) /
          (tf + lit(k1) * ((lit(1.0) - lit(b)) +
            lit(b) * col("dl") / (sumdl.cast("double") / n))))
        .otherwise(lit(0.0))
    }
    val combined = terms.indices.map(termScore).reduce(_ + _)
    val matchedCount = terms.indices
      .map(i => when(col(s"__tf$i") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    perDoc.crossJoin(broadcast(dfs))
      .select(col("doc_id"), matchedCount.as("n_terms_matched"),
        graft.functions.round4(combined).as("score"))
      .filter(col("n_terms_matched") > 0)
  }

  /** Conjunctive (AND) search: documents containing EVERY query term,
    * scored by total term frequency. Postings hold one row per
    * (term, doc), so `count == |terms|` is exact intersection. */
  def searchAll(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAll needs at least one term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    postings
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("__nt"), sum("tf").cast("long").as("score"))
      .filter(col("__nt") === terms.length)
      .select(col("doc_id"), col("score"))
  }
}
