package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{cosine_similarity, round4}

/** Persistable IVF (inverted-file) ANN index: the codebook build —
  * KMeans fit + corpus assignment, the expensive part — happens ONCE
  * ([[IvfIndex.build]]) and is written as two tables
  * ([[IvfIndex#save]]); probe-time search ([[IvfIndex#search]]) loads
  * nothing but the centroid table (nLists rows) plus the `nProbe`
  * nearest inverted lists. The corpus table is written PARTITIONED BY
  * list_id, so "search touches only nProbe lists" is enforced by
  * parquet partition pruning at the storage layer, not just by a
  * filter: a probe against a 100 TB index reads nProbe/nLists of the
  * bytes.
  *
  * [[Similarity.ivfTopK]] remains the one-shot convenience that fits
  * per call; this class is what production uses so the KMeans fit isn't
  * re-paid per query.
  */
final class IvfIndex private (val centroids: Array[(Int, Array[Double])],
                              val corpus: DataFrame) {

  /** Writes `path/centroids` (nLists tiny rows) and `path/corpus`
    * partitioned by list_id. */
  def save(path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.toSeq.toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    corpus.write.mode("overwrite").partitionBy("list_id").parquet(s"$path/corpus")
  }

  /** `nProbe` nearest lists to `probe` by centroid distance — a
    * driver-side ranking of nLists rows, the only non-distributed step. */
  private def nearestLists(probe: Array[Double], nProbe: Int): Seq[Int] =
    centroids.map { case (id, c) =>
      var d = 0.0
      var i = 0
      while (i < c.length) { val t = c(i) - probe(i); d += t * t; i += 1 }
      (id, d)
    }.sortBy(_._2).take(nProbe).map(_._1).toSeq

  /** Top-k by cosine among the `nProbe` nearest lists. Output:
    * (vec_id, score[round4]) descending, vec_id tie-break. */
  def search(probe: Array[Double], k: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val lists = nearestLists(probe, nProbe)
    val pe = typedLit(probe)
    corpus
      .filter(col("list_id").isin(lists: _*)) // -> parquet PartitionFilters
      .select(col("vec_id"),
        cosine_similarity(col("embedding").cast("array<double>"), pe).as("score0"))
      .orderBy(col("score0").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round4(col("score0")).as("score"))
  }

  /** Search with an indexed vector as the probe (excluded from results). */
  def searchById(probeId: Long, k: Int, nProbe: Int): DataFrame = {
    val probe = corpus.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    search(probe, k + 1, nProbe).filter(col("vec_id") =!= probeId).limit(k)
  }
}

object IvfIndex {

  /** Sentinel for [[build]]'s `nLists`: derive the list count from the
    * corpus size via [[defaultNLists]]. */
  val AutoNLists: Int = -1

  /** Size-derived list count: the standard √N-lists IVF heuristic
    * (build cost and per-probe scan balance at √N), clamped to
    * [4, 65536] and to the corpus size (KMeans needs k <= N). The
    * round-14 probe (NOTES.md; `Round14IvfProbe` at commit `e960c89`) measured
    * the shape on the sf1 corpus (20k vectors x 64 dims, near-random):
    * at a FIXED probed fraction recall@5 RISES with nLists (frac 1/4:
    * 0.55 → 0.57 → 0.85 across 16/64/256 lists — finer partitions
    * target the probe's neighborhood better) while per-search scanned
    * rows fall ∝ 1/nLists and build time stays flat. More lists are
    * strictly better up to the occupancy floor, so √N maximizes
    * pruning with no recall cliff — provided nProbe scales WITH nLists
    * as a fraction ([[defaultNProbe]]), never as an absolute count.
    */
  def defaultNLists(corpusSize: Long): Int = {
    require(corpusSize > 0, "cannot size an IVF index for an empty corpus")
    val root = math.round(math.sqrt(corpusSize.toDouble))
    // range clamp first, corpus cap LAST: a tiny corpus must win over
    // the floor of 4 (KMeans cannot fit more centers than points)
    math.min(corpusSize, math.max(4L, math.min(65536L, root))).toInt
  }

  /** Probe width for a target probed FRACTION of the lists (the
    * round-14 probe's headline: on weakly-clustered embeddings recall
    * tracks the probed fraction, so a fixed absolute nProbe silently
    * degrades recall as nLists grows). The default fraction 0.5 cleared
    * recall@5 >= 0.8 at EVERY probed nLists on the sf1 corpus
    * (0.80 / 0.88 / 0.97 at 16/64/256) — and near-random synthetic
    * embeddings are the worst case: clustered real-world embeddings
    * reach the same recall at far smaller fractions. */
  def defaultNProbe(nLists: Int, fraction: Double = 0.5): Int = {
    require(fraction > 0 && fraction <= 1, s"fraction must be in (0,1], got $fraction")
    math.max(1, math.ceil(nLists * fraction).toInt)
  }

  /** One KMeans fit (seeded, deterministic) + one assignment pass over
    * the corpus. `emb` needs (vec_id, embedding array<float|double>).
    * The default `nLists` is size-derived (√N — [[defaultNLists]]);
    * pass an explicit count to pin a layout (the oracle entries pin 16
    * so the recall band is reproducible at every scale factor). */
  def build(emb: DataFrame, nLists: Int = AutoNLists, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val withVec = emb.select(col("vec_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding").cast("array<double>")))
    val k = if (nLists == AutoNLists) defaultNLists(withVec.count()) else nLists
    require(k > 0, s"nLists must be positive (or AutoNLists), got $nLists")
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").fit(withVec)
    val corpus = model.transform(withVec)
      .select(col("vec_id"), col("embedding"), col("prediction").as("list_id"))
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }
    new IvfIndex(centroids, corpus)
  }

  /** Loads an index written by [[IvfIndex#save]]; the corpus DataFrame
    * is the partitioned table, lazily read — only probed lists are
    * scanned. */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .select("list_id", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    new IvfIndex(centroids, spark.read.parquet(s"$path/corpus"))
  }
}
