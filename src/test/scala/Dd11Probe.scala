package graft

/** Measures the point of dd11: incremental candidates against a saved
  * band index vs re-running the full batch candidate pipeline, at sf1
  * (50k docs, `fixtures/sf1`). "Incremental" fingerprints only the new
  * 10% slice and joins it against the index read from disk; "full"
  * re-fingerprints the whole corpus and self-joins. Run after Sf1Gen.
  */
object Dd11Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]", "dd11probe")
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions.col
    val sfDir = args.headOption.getOrElse(s"${sys.props("user.dir")}/fixtures/sf1")
    val docs = Tables(spark, sfDir).documents.select("doc_id", "text")
    docs.count()
    val old = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"DD11 $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val idx = java.nio.file.Files.createTempDirectory("dd11idx").toString
    t("index build (once)") { operators.TextDedup.saveBandIndex(old, idx) }
    for (i <- 1 to 3) {
      t(s"[$i] incremental (new 10%)") {
        operators.TextDedup.incrementalCandidatePairs(fresh, idx).count()
      }
      t(s"[$i] full re-fingerprint") {
        operators.TextDedup.lshCandidatePairs(
          operators.TextDedup.minhashSignaturesNoShuffle(docs)).distinct().count()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
