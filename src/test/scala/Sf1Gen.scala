import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Generates the round-10 sf1-equivalent scale point (VERDICT r9 #2):
  * a deterministic 10x replication of /root/testdata/sf0.1 with
  * collision-free key shifts, written under fixtures/sf1 (gitignored).
  * `Test/runMain Sf1Gen [outDir]`.
  *
  * Design choices that keep the scaling MEASUREMENT honest:
  *   - TPC-H keys shift by their table's EXACT sf0.1 cardinality per
  *     replica (all sf0.1 keys are dense 0..N-1, verified), so the
  *     replicated key spaces stay dense 0..10N-1: joins keep their
  *     selectivity (each replica joins only with itself via the
  *     together-shifted foreign keys), the ingest gate's o_orderkey
  *     moduli survive (200, 1000 and 24 all divide 150000), and —
  *     review r10 — the DERIVED partsupp table stays structurally a
  *     10x of sf0.1: its formula assigns ps_suppkey = f(p_partkey) %
  *     nSupp, which under a sparse stride would reference mostly
  *     nonexistent suppliers and collapse every cross-replica part
  *     onto replica-0's supplier band. Event/doc/vector ids shift by
  *     1e7 (nothing derives from their density).
  *   - region/nation stay 1x (TPC-H dimension semantics; nationkey is
  *     unshifted everywhere).
  *   - documents get every word PREFIXED with a replica tag (r>0), so
  *     replicas are not textual clones of each other: identity-cloned
  *     corpora put every document in a 10-member near-dup group and
  *     make pair-based dedup quadratically heavier BY CONSTRUCTION
  *     (the round-1/round-7 probes measured that worst case
  *     deliberately) — that would measure the synthetic replication,
  *     not the engine's scaling. Within a replica the text is
  *     unchanged, so the near-dup structure per replica equals sf0.1.
  *   - embeddings get their dimensions ROTATED by r positions (r>0):
  *     norms and within-replica pairwise cosines are exactly
  *     preserved (one permutation per replica), while cross-replica
  *     vectors decorrelate — same rationale as the text prefix.
  *   - events keep their timestamps: 10x density per hour/session
  *     window is the realistic shape of a 10x-traffic scale-up.
  */
object Sf1Gen {
  private val R = 10
  private val Stride = 10000000L // events/documents/embeddings ids only

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(s"${sys.props("user.dir")}/fixtures/sf1")
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession("local[32]", "sf1-gen")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"SF1GEN $t -> ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    // replicate() cross-joins with the replica id and shifts each named
    // key column by rep * its own stride — one distributed pass per
    // table. Strides for the TPC-H keys are the sf0.1 cardinalities
    // (dense keys stay dense; see the class doc), asserted here so a
    // future testdata build with different sizes fails loudly instead
    // of silently generating a structurally wrong scale point.
    val nCust = 15000L; val nSupp = 1000L; val nPart = 20000L; val nOrd = 150000L
    def assertDense(t: String, key: String, n: Long): Unit = {
      val row = read(t).agg(min(col(key)), max(col(key)), count(lit(1))).head()
      require(row.getLong(0) == 0L && row.getLong(1) == n - 1 && row.getLong(2) == n,
        s"$t.$key must be dense 0..${n - 1}, got $row")
    }
    assertDense("customer", "c_custkey", nCust)
    assertDense("supplier", "s_suppkey", nSupp)
    assertDense("part", "p_partkey", nPart)
    assertDense("orders", "o_orderkey", nOrd)

    def replicate(df: DataFrame, shiftCols: Map[String, Long]): DataFrame = {
      val withRep = df.crossJoin(spark.range(R).select(col("id").as("rep")))
      shiftCols.foldLeft(withRep) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("rep") * stride)
      }.drop("rep")
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), Map("c_custkey" -> nCust)), "customer")
    write(replicate(read("supplier"), Map("s_suppkey" -> nSupp)), "supplier")
    write(replicate(read("part"), Map("p_partkey" -> nPart)), "part")
    write(replicate(read("orders"), Map("o_orderkey" -> nOrd, "o_custkey" -> nCust)), "orders")
    write(replicate(read("lineitem"), Map(
      "l_orderkey" -> nOrd, "l_partkey" -> nPart, "l_suppkey" -> nSupp)), "lineitem")
    write(replicate(read("events"), Map("event_id" -> Stride, "user_id" -> Stride)), "events")

    // documents: per-replica word prefix (replacement strings are
    // literals, so build one arm per replica and union)
    val docs = (0 until R).map { r =>
      val base = read("documents")
        .select(
          (col("doc_id") + lit(r.toLong * Stride)).as("doc_id"),
          (if (r == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", s"r${r}x$$1")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      base
    }.reduce(_.unionAll(_))
    write(docs, "documents")

    val embs = (0 until R).map { r =>
      read("embeddings").select(
        (col("vec_id") + lit(r.toLong * Stride)).as("vec_id"),
        (if (r == 0) col("embedding")
         else expr(s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
           s"slice(embedding, 1, $r))")).as("embedding"),
        col("label"))
    }.reduce(_.unionAll(_))
    write(embs, "embeddings")

    spark.stop()
  }
}
