package graft.operators

import graft.SparkSpec
import graft.multimodal.ImageHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted-index sidecar law, once for every sidecar kind: a
  * missing sidecar, a sidecar from a newer engine, and a data tree that
  * changed without its meta each fail loudly and by name, whatever the
  * family. Each kind builds a tiny index, then breaks it three ways. */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  /** One sidecar kind: how to build it, where its sidecar and data
    * files live, and its read / append / compact entry points. */
  private case class Kind(name: String, sidecar: String, dataDir: String,
                          build: String => Unit, read: String => Unit,
                          append: String => Unit, compact: String => Unit)

  private def docs = tables.documents.select("doc_id", "text")
  private def emb = tables.embeddings.select("vec_id", "embedding")
  private def hashes = Seq((0L, 0x5A5A5A5A5A5A5A5AL), (1L, 0x0123456789ABCDEFL))
    .toDF("id", "dhash")
  private def frames = Seq((0L, 0, 0x5A5A5A5A5A5A5A5AL), (0L, 1, 0x0123456789ABCDEFL),
      (1L, 0, 0x1111L)).toDF("id", "frame_idx", "dhash")

  private val kinds = Seq(
    Kind("inverted", "_graft_inverted_index.properties", "",
      p => InvertedIndex.saveIndex(docs.filter(col("doc_id") <= 20), p),
      p => InvertedIndex.verifyIndex(spark, p),
      p => InvertedIndex.appendToIndex(docs.filter(col("doc_id") === 21), p),
      p => InvertedIndex.compactIndex(spark, p)),
    Kind("pq", "_graft_pq_index.properties", "codes",
      p => ProductQuantizer.savePqIndex(emb, d = 64, m = 4, k = 4, iterations = 1, p),
      p => ProductQuantizer.verifyPqIndex(p),
      p => ProductQuantizer.appendToPqIndex(emb.limit(2), p),
      p => ProductQuantizer.compactPqIndex(spark, p)),
    Kind("ivf-pq", "_graft_ivfpq_index.properties", "codes",
      p => ProductQuantizer.saveIvfPqIndex(emb, d = 64, m = 4, kCoarse = 2,
        coarseIterations = 1, kPq = 4, pqIterations = 1, path = p),
      p => ProductQuantizer.verifyIvfPqIndex(p),
      p => ProductQuantizer.appendToIvfPqIndex(emb.limit(2), p),
      p => ProductQuantizer.compactIvfPqIndex(spark, p)),
    Kind("semantic", "_graft_semantic_index.properties", "corpus",
      p => Similarity.saveSemanticIndex(emb, d = 64, k = 2, iterations = 1, p),
      p => Similarity.loadSemanticIndexParts(spark, p),
      p => Similarity.appendToSemanticIndex(emb.limit(2), p),
      p => Similarity.compactSemanticIndex(spark, p)),
    Kind("band", "_graft_path_table.properties", "",
      p => TextDedup.saveBandIndex(docs.filter(col("doc_id") <= 20), p),
      p => TextDedup.loadBandIndex(spark, p),
      p => TextDedup.appendToBandIndex(docs.filter(col("doc_id") === 21), p),
      p => TextDedup.compactBandIndex(spark, p)),
    Kind("dhash clip", "_graft_path_table.properties", "",
      p => ImageHash.saveDhashIndex(hashes, p),
      p => ImageHash.incrementalNearDupPairs(hashes, p, maxHamming = 1),
      p => ImageHash.appendToDhashIndex(hashes.limit(1), p),
      p => ImageHash.compactDhashIndex(spark, p)),
    Kind("dhash frame", "bands/_graft_path_table.properties", "counts",
      p => ImageHash.saveFrameIndex(frames, p),
      p => ImageHash.loadFrameIndex(spark, p),
      p => ImageHash.appendToFrameIndex(frames.limit(1), p),
      p => ImageHash.compactFrameIndex(spark, p)))

  private def sidecarFile(root: String, k: Kind): java.nio.file.Path =
    java.nio.file.Paths.get(root, k.sidecar)

  private def message(f: => Any): String = {
    val e = intercept[Exception](f)
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
  }

  for (k <- kinds) test(s"sidecar law: ${k.name}") {
    // a missing sidecar names the index family, not a bare I/O error
    val gone = tmpDir(s"law-gone-${k.name.replace(' ', '-')}")
    k.build(gone)
    java.nio.file.Files.delete(sidecarFile(gone, k))
    val m1 = message(k.read(gone))
    assert(m1.matches("(?s).*not a graft .*index.*"), s"[${k.name}] $m1")

    // a sidecar from a newer engine is refused, never silently misread
    val newer = tmpDir(s"law-newer-${k.name.replace(' ', '-')}")
    k.build(newer)
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(sidecarFile(newer, k))
    try props.load(in) finally in.close()
    props.setProperty("formatVersion", "99")
    val out = java.nio.file.Files.newOutputStream(sidecarFile(newer, k))
    try props.store(out, "law test") finally out.close()
    val m2 = message(k.read(newer))
    assert(m2.contains("NEWER engine"), s"[${k.name}] $m2")

    // one visible data file the meta never blessed: append and compact
    // both refuse the stale tree
    val stale = tmpDir(s"law-stale-${k.name.replace(' ', '-')}")
    k.build(stale)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stale, k.dataDir, "rogue.parquet"),
      "not really parquet".getBytes("UTF-8"))
    val m3 = message(k.append(stale))
    assert(m3.contains("stale"), s"[${k.name}] append: $m3")
    val m4 = message(k.compact(stale))
    assert(m4.contains("stale"), s"[${k.name}] compact: $m4")
  }

  test("appendToSemanticIndex evaluates its batch in one Spark execution") {
    val path = tmpDir("semidx-once")
    Similarity.saveSemanticIndex(emb, d = 64, k = 2, iterations = 1, path)
    // the batch passes through a UDF that records the SQL execution it
    // runs under: a second action over an unpersisted batch re-runs the
    // caller's pipeline and the centroid assignment under a second id
    val executions = spark.sparkContext.collectionAccumulator[String]("semidx-once")
    val traced = udf { (id: Long) =>
      executions.add(org.apache.spark.TaskContext.get()
        .getLocalProperty("spark.sql.execution.id"))
      id
    }
    val batch: DataFrame = emb.filter(col("vec_id") < 5)
      .select(traced(col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendToSemanticIndex(batch, path)
    import scala.jdk.CollectionConverters._
    val ids = executions.value.asScala.toSet
    assert(ids.size == 1, s"batch evaluated under executions $ids")
    assert(Similarity.loadSemanticIndexParts(spark, path)._1.corpusRows ==
      emb.count() + 5)
  }
}
