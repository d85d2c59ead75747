package graft

class GraftSpec extends SparkSpec {

  test("SQL passthrough over registered views with graft functions") {
    val g = Graft(spark, sfDir)
    assert(g.sql("SELECT COUNT(*) FROM lineitem").head().getLong(0) == 6000L)
    val sim = g.sql(
      """SELECT cosine_similarity(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                         CAST(b.embedding AS ARRAY<DOUBLE>)) AS s
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-9)
    assert(g.table("region").count() == 5)
  }

  test("the shared local[4] session runs one shuffle partition per core") {
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
