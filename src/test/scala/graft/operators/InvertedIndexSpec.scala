package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick fox jumps over the lazy dog"),
    (2L, "quick quick fox"),
    (3L, "lazy dog sleeps"),
    (4L, "")).toDF("doc_id", "text")

  test("postings carry exact per-doc term frequencies and doc lengths") {
    val p = InvertedIndex.buildPostings(docs)
      .as[(String, Long, Int, Int)].collect().toSet
    assert(p.contains(("quick", 2L, 2, 3)))
    assert(p.contains(("the", 1L, 2, 8)))
    // dl is constant across a doc's postings (denormalized, not derived)
    assert(p.filter(_._2 == 1L).map(_._4) == Set(8))
    assert(!p.exists(_._2 == 4L), "empty doc has no postings")
  }

  test("searchAll returns exactly the docs containing EVERY term, tf-scored") {
    val p = InvertedIndex.buildPostings(docs)
    val got = InvertedIndex.searchAll(p, Seq("quick", "fox"))
      .as[(Long, Long)].collect().toSet
    // doc 1: quick(1)+fox(1)=2; doc 2: quick(2)+fox(1)=3; doc 3 lacks both
    assert(got == Set((1L, 2L), (2L, 3L)))
    val single = InvertedIndex.searchAll(p, Seq("lazy"))
      .as[(Long, Long)].collect().toSet
    assert(single == Set((1L, 1L), (3L, 1L)))
    intercept[IllegalArgumentException](InvertedIndex.searchAll(p, Seq.empty))
    intercept[IllegalArgumentException](InvertedIndex.searchAll(p, Seq("a", "a")))
  }

  test("driver-side and column-side bucket functions agree") {
    // The pruning contract rests on this equality: the write side
    // buckets with the Spark crc32 column, the query side with
    // java.util.zip.CRC32.
    val terms = Seq("join", "scan", "the", "αβ", "x")
    val sparkSide = terms.toDF("t")
      .select(col("t"), pmod(crc32(col("t").cast("binary")), lit(16L)).as("b"))
      .as[(String, Long)].collect().toMap
    terms.foreach { t =>
      assert(sparkSide(t) == InvertedIndex.termBucketLocal(t, 16),
        s"bucket mismatch for '$t'")
    }
  }

  test("save/load round-trip; the query prunes partition directories") {
    val path = tmpDir("invidx-spec")
    InvertedIndex.saveIndex(tables.documents.select("doc_id", "text"), path)
    val q = InvertedIndex.searchIndexed(spark, path, Seq("join", "scan"))
    val rows = q.collect()
    assert(rows.nonEmpty, "expected docs containing both common terms")
    // equality vs the unindexed computation
    val want = InvertedIndex.searchAll(
      InvertedIndex.buildPostings(tables.documents.select("doc_id", "text")),
      Seq("join", "scan")).collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq == want)
    // storage-layer pruning: the listing under the plan's partition
    // filters must touch at most |distinct buckets| of the 16 dirs
    // (the IvfIndex gate pattern — planner-independent)
    val scan = q.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty, "expected partition filters on term_bucket")
    val parts = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(parts.length <= 2, s"expected <=2 bucket dirs read, got ${parts.length}")
  }

  test("appendToIndex: incremental build equals a full rebuild, search included") {
    val full = tables.documents.select("doc_id", "text")
    val old = full.filter(col("doc_id") % 10 =!= 0)
    val fresh = full.filter(col("doc_id") % 10 === 0)
    val inc = tmpDir("invidx-inc")
    InvertedIndex.saveIndex(old, inc)
    InvertedIndex.appendToIndex(fresh, inc)
    val ref = tmpDir("invidx-ref")
    InvertedIndex.saveIndex(full, ref)
    // posting-set equality (order-free)
    def postings(p: String) = InvertedIndex.loadIndex(spark, p)._1
      .select("term", "doc_id", "tf").collect().map(_.toString).sorted.toSeq
    assert(postings(inc) == postings(ref))
    // and the search result is identical through the incremental index
    def res(p: String) = InvertedIndex.searchIndexed(spark, p, Seq("join", "scan"))
      .collect().map(_.toString).sorted.toSeq
    val got = res(inc)
    assert(got.nonEmpty && got == res(ref))
  }

  test("searchIndexedBm25 equals the on-the-fly bm25 over the same corpus") {
    val corpus = tables.documents.select("doc_id", "text")
    val path = tmpDir("invidx-bm25")
    InvertedIndex.saveIndex(corpus, path)
    val terms = Seq("merge", "dup", "window")
    val viaIndex = InvertedIndex.searchIndexedBm25(spark, path, terms)
      .collect().map(_.toString).sorted.toSeq
    val onTheFly = TextAnalysis.bm25(corpus, terms)
      .collect().map(_.toString).sorted.toSeq
    assert(viaIndex.nonEmpty && viaIndex == onTheFly)
    // and the ranked query still prunes bucket directories at the
    // storage layer, exactly like the conjunctive path
    val q = InvertedIndex.searchIndexedBm25(spark, path, terms)
    val scan = q.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty, "expected partition filters on term_bucket")
    val parts = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(parts.length <= 3, s"expected <=3 bucket dirs read, got ${parts.length}")
  }

  test("corpus stats persist at build and stay exact across appends") {
    val full = tables.documents.select("doc_id", "text")
    val inc = tmpDir("invidx-meta-inc")
    InvertedIndex.saveIndex(full.filter(col("doc_id") % 10 =!= 0), inc)
    InvertedIndex.appendToIndex(full.filter(col("doc_id") % 10 === 0), inc)
    val ref = tmpDir("invidx-meta-ref")
    InvertedIndex.saveIndex(full, ref)
    val metaInc = InvertedIndex.loadIndex(spark, inc)._2
    val metaRef = InvertedIndex.loadIndex(spark, ref)._2
    // dataFp is a file-LISTING fingerprint: the incremental tree holds
    // base+append files, the rebuild a single write — it differs by
    // construction. The STATS must be identical.
    assert(metaInc.copy(dataFp = "") == metaRef.copy(dataFp = ""),
      s"incremental stats drifted: $metaInc vs $metaRef")
    assert(metaRef.docCount > 0 && metaRef.totalTokens > metaRef.docCount)
    // ranked retrieval through the incrementally-built index is
    // identical too (stats + postings both maintained)
    def bm(p: String) = InvertedIndex.searchIndexedBm25(spark, p, Seq("merge", "dup"))
      .collect().map(_.toString).sorted.toSeq
    val got = bm(inc)
    assert(got.nonEmpty && got == bm(ref))
  }

  test("appendToIndex refuses a directory that is not an index") {
    val bogus = tmpDir("invidx-append-bogus")
    val e = intercept[IllegalArgumentException](
      InvertedIndex.appendToIndex(docs, bogus))
    assert(e.getMessage.contains("build with saveIndex first"))
  }

  test("stale meta (interrupted append) is detected, not silently scored") {
    // simulate a crash BETWEEN the parquet append and the meta write:
    // extra postings land in the directory while meta keeps old stats
    val p = tmpDir("invidx-stale")
    InvertedIndex.saveIndex(docs.filter(col("doc_id") <= 2), p)
    assert(InvertedIndex.verifyIndex(spark, p).docCount == 2L)
    InvertedIndex.buildPostings(docs.filter(col("doc_id") === 3))
      .withColumn("term_bucket", lit(0L))
      .write.mode("append").partitionBy("term_bucket").parquet(p)
    val e = intercept[IllegalArgumentException](InvertedIndex.verifyIndex(spark, p))
    assert(e.getMessage.contains("stale stats from an interrupted append"))
    // the NEXT append fails the same loud way — drift cannot compound
    val e2 = intercept[IllegalArgumentException](
      InvertedIndex.appendToIndex(docs.filter(col("doc_id") === 4), p))
    assert(e2.getMessage.contains("stale stats"))
  }

  test("search and BM25 refuse an index with postings appended behind its meta") {
    val p = tmpDir("invidx-stale-search")
    InvertedIndex.saveIndex(docs.filter(col("doc_id") <= 2), p)
    assert(InvertedIndex.searchIndexed(spark, p, Seq("fox")).count() == 2L)
    InvertedIndex.buildPostings(docs.filter(col("doc_id") === 3))
      .withColumn("term_bucket", lit(0L)).coalesce(1)
      .write.mode("append").partitionBy("term_bucket").parquet(p)
    val e1 = intercept[IllegalArgumentException](
      InvertedIndex.searchIndexed(spark, p, Seq("lazy")).collect())
    assert(e1.getMessage.contains("stale"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      InvertedIndex.searchIndexedBm25(spark, p, Seq("lazy")).collect())
    assert(e2.getMessage.contains("stale"), e2.getMessage)
  }

  test("a foreign directory is rejected loudly") {
    val bogus = tmpDir("invidx-bogus")
    docs.write.mode("overwrite").parquet(bogus)
    val e = intercept[IllegalArgumentException](
      InvertedIndex.searchIndexed(spark, bogus, Seq("x")))
    assert(e.getMessage.contains("not a graft inverted index"))
  }
}
