package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A fixed synthetic star schema in the shapes `graft.Tables` reads
  * (TPC-H-like `region`, `customer`, `orders`, `lineitem`, `part`, plus
  * `documents` with planted near-duplicates). Every column is a pure
  * function of the row id and a constant seed, so the corpus, and every
  * query output over it, is the same on every run: that is what lets the
  * benchmark keep the outputs' fingerprints in a file.
  */
object Corpus {
  val Seed = 42L
  /** Row counts as a share of the testdata sf0.1 tables. */
  val Scale = 0.1

  private def n(base: Int): Long = math.max(1L, (base * Scale).toLong)
  val Customers: Long = n(15000)
  val Orders: Long = n(150000)
  val Lineitems: Long = n(600000)
  val Parts: Long = n(20000)
  val Suppliers: Long = n(1000)
  val Documents: Long = n(5000)

  /** A seeded draw in [0, m) for the current row. */
  private def r(k: Int, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(Seed), lit(k)), lit(m))

  private def pick(k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (r(k, values.size) + 1).cast("int"))

  private val Day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L
  private def day(k: Int, span: Long): Column =
    timestamp_seconds(lit(Day0) + r(k, span) * 86400L)

  private val Words = Seq("a", "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "dup", "join", "index", "page")

  def tables(spark: SparkSession): Map[String, DataFrame] = {
    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val customer = spark.range(Customers).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      r(1, 25).cast("int").as("c_nationkey"),
      ((r(2, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val orders = spark.range(Orders).select(col("id").as("o_orderkey"),
      r(1, Customers).as("o_custkey"),
      pick(2, Seq("O", "F", "P")).as("o_orderstatus"),
      ((r(3, 49900000) + 100000) / 100.0).as("o_totalprice"),
      day(4, 2404).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = spark.range(Lineitems).select(r(1, Orders).as("l_orderkey"),
      r(2, Parts).as("l_partkey"), r(3, Suppliers).as("l_suppkey"),
      (r(4, 7) + 1).cast("int").as("l_linenumber"),
      (r(5, 50) + 1).cast("double").as("l_quantity"),
      ((r(6, 10000000) + 90000) / 100.0).as("l_extendedprice"),
      (r(7, 11) / 100.0).as("l_discount"), (r(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"), pick(10, Seq("O", "F")).as("l_linestatus"),
      day(11, 2500).as("l_shipdate"))
    val colors = Seq("red", "blue", "green", "hot", "large", "small", "dark", "pale")
    val nouns = Seq("ring", "bolt", "nut", "gear", "pipe", "cap", "lid", "rod")
    val part = spark.range(Parts).select(col("id").as("p_partkey"),
      concat(pick(1, colors), lit(" "), pick(2, nouns)).as("p_name"),
      concat(lit("Brand#"), (r(3, 25) + 1).cast("string")).as("p_brand"),
      pick(4, Seq("LARGE", "SMALL", "MEDIUM", "ECONOMY", "PROMO", "STANDARD")).as("p_type"),
      (r(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice"))
    // Every tenth document copies its predecessor with its first word
    // replaced: the near-duplicates the dedup queries must find.
    val src = when(pmod(col("id"), lit(10L)) === 9, col("id") - 1).otherwise(col("id"))
    val vocab = array(Words.map(lit): _*)
    val len = (r(1, 70, src) + 8).cast("int")
    val word = (i: Column) =>
      element_at(vocab, (pmod(xxhash64(
        when(i === 0 && src =!= col("id"), -col("id")).otherwise(src), i, lit(Seed)),
        lit(Words.size.toLong)) + 1).cast("int"))
    val documents = spark.range(Documents)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), len - 1), word)).as("text"),
        pick(2, Seq("en", "de", "fr", "zh", "es")).as("lang"),
        concat(lit("src"), r(3, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    Map("region" -> region, "customer" -> customer, "orders" -> orders,
      "lineitem" -> lineitem, "part" -> part, "documents" -> documents)
  }

  /** Writes the corpus as one parquet table per name under `dir`. */
  def write(spark: SparkSession, dir: File): Unit =
    tables(spark).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    }
}

/** `analytics_mix`: the fixed list of `SparkEntry.queries`, run one at a
  * time in a seeded order each pass, each collected. The
  * outputs are small (at most a few thousand rows), so the collect costs
  * little next to the query and hands over the rows for the output check.
  */
object Analytics {
  val Queries: Seq[String] = Seq("q01_scan", "q10_agg_hash", "q31_tpch3_shape", "q46_tpch18_shape",
    "dd02_minhash_lsh", "dd09_capped_jaccard", "fz02_qgram_join", "pg01_pagerank")

  /** Timed passes a run makes at least. */
  val MinPasses = 1

  def run(spark: SparkSession, dir: String, name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def canon(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  /** Order-insensitive fingerprint of collected rows: the row count and
    * the wrapping sum of a 64-bit hash of each row's canonical text. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    import scala.util.hashing.MurmurHash3.stringHash
    val sum = rows.iterator.map { r =>
      val s = canon(r)
      (stringHash(s, 0x9747b28c).toLong << 32) ^ (stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    }.foldLeft(0L)(_ + _)
    (rows.length.toLong, java.lang.Long.toUnsignedString(sum))
  }
}

/** One analytics run: timed passes, each output checked against its
  * stored fingerprint. */
final class Mix(spark: SparkSession, dir: String, tracer: Tracer, probes: Option[Probes], seed: Long,
                stored: Map[String, (Long, String)]) {
  import Analytics._

  val samples = ArrayBuffer.empty[(String, Double)]
  val passTotals = ArrayBuffer.empty[Double]
  /** Wall time of all passes, output checks included. */
  var windowS = 0.0
  var attempted = 0L
  var failed = 0L
  val notes = ArrayBuffer.empty[String]

  private def check(q: String, rows: Array[Row]): Unit = {
    val fp = fingerprint(rows)
    stored.get(q) match {
      case Some(s) if s == fp => ()
      case Some(s) => failed += 1; notes += s"$q fingerprint $fp, stored $s"
      case None => failed += 1; notes += s"$q has no stored fingerprint (got $fp)"
    }
  }

  def timedPasses(seconds: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    while (passTotals.size < MinPasses || System.nanoTime() < deadline) {
      var total = 0.0
      rng.shuffle(Queries).foreach { q =>
        attempted += 1
        try {
          val t0 = System.nanoTime()
          val rows = Probes.bracket(probes, s"query.$q")(tracer.span(s"query.$q")(_ => run(spark, dir, q).collect()))
          val s = (System.nanoTime() - t0) / 1e9
          samples += q -> s
          total += s
          check(q, rows)
        } catch {
          case scala.util.control.NonFatal(e) => failed += 1; notes += s"$q failed: $e"
        }
      }
      passTotals += total
    }
    windowS = (System.nanoTime() - start) / 1e9
  }
}
