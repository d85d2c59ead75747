package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends AnyFunSuite {

  /** The spark-submit user's path is `spark.sql.extensions=graft.
    * GraftExtensions` — a STATIC conf: Spark instantiates the named
    * class and applies it at SparkContext/first-session creation, so a
    * suite sharing one SparkContext cannot exercise the conf string
    * end-to-end (the context predates the conf). What CAN be proven
    * in-JVM, and together covers that path:
    *   1. the class applied to a session exposes ALL FIVE natives in
    *      SQL (the `withExtensions` test below — same apply() Spark's
    *      conf path calls);
    *   2. the class is instantiable by reflection with a no-arg
    *      constructor, which is the only contract the conf string adds
    *      beyond apply() (this test).
    */
  test("GraftExtensions is conf-string instantiable (reflective no-arg construction)") {
    val cls = Class.forName(classOf[GraftExtensions].getName)
    val inst = cls.getConstructor().newInstance()
    assert(inst.isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("withExtensions exposes all five native functions in SQL, no registerAll") {
    // getOrCreate returns any live session untouched — which in the
    // shared-context suite would be the GraftSession whose registerAll
    // already exposed these names, making the test vacuous. Clear the
    // handles so a genuinely FRESH session (new sessionState, only the
    // injected functions) is built on the shared context. Build the
    // suite's GraftSession first, so the shared context is GraftSession's
    // whichever suite runs first: one built here lacks its settings.
    SparkSpec.spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val cos = spark.sql(
        "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
        .head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)

      // Same input hashed through SQL and through direct expression
      // eval must agree (value equality, not just resolution).
      val viaSql = spark.sql("SELECT rolling_hash('the quick brown fox') AS h").head().get(0)
      val viaEval = functions.RollingHash(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("the quick brown fox"))).eval(null)
      assert(viaSql == viaEval)

      val vocab = functions.BpeVocab(IndexedSeq(("l", "o"), ("lo", "w")))
      val toks = spark.sql(
        s"SELECT bpe_tokens('low lower', '${vocab.encoded.replace("\n", "\\n")}') AS t")
        .head().getSeq[String](0)
      assert(toks == Seq("low", "low", "e", "r"))
      val n = spark.sql(
        s"SELECT bpe_count('low lower', '${vocab.encoded.replace("\n", "\\n")}') AS n")
        .head().getInt(0)
      assert(n == 4)

      val jw = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS j")
        .head().getDouble(0)
      assert(jw == 0.9611111111111111) // the textbook value, bit-exact
    } finally {
      // shared context: do not stop; restore the suite's session handles
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
