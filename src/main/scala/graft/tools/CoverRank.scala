package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Test-coverage ranking + threshold gate — the engine's analog of the
  * reference's coverage tooling (reference tools/coverrank/main.go:
  * parse profile → ignore rules → rank files worst-first → markdown/
  * json output; gated in CI by .github/workflows/develop.yml:36-110).
  *
  * The reference ranks STATEMENT coverage from `go test -coverprofile`.
  * This container has no JVM coverage instrumentation available
  * (no scoverage/jacoco jars, offline resolver), so the measurable
  * analog is SPEC-REFERENCE density: for every main source file, how
  * many test files exercise any of its declared types. Test files that
  * declare a `main` entry point (hand-run probes and generators) are not
  * counted: no test run executes them. A file nobody
  * references is provably untested; the rank surfaces the least-covered
  * files first exactly like coverrank's worst-first listing. The gate —
  * every non-ignored file must be referenced by at least one spec — is
  * enforced by `CoverRankSpec` on every `sbt test`, the CI-shaped
  * enforcement the reference runs per PR.
  *
  * `.covignore` (reference ignore-file analog): one path-substring rule
  * per line, `#` comments; matching files are excluded from rank and
  * gate, with the justification kept next to the rule.
  */
object CoverRank {

  final case class FileStat(file: String, types: Seq[String], specRefs: Seq[String]) {
    def covered: Boolean = specRefs.nonEmpty
  }

  private val TypeDecl = """(?m)^\s*(?:final\s+|abstract\s+|sealed\s+|private[\[\]\w]*\s+)*(?:case\s+)?(?:class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  /** A `main` entry point declared at the start of a line, so a string
    * literal that merely spells one out does not match. */
  private val MainEntry =
    """(?m)^\s*(?:override\s+)?def\s+main\s*\(|^\s*(?:case\s+)?object\s+\w+\s+extends\s+App\b""".r
  private val PackageObjectDecl = """(?m)^\s*package\s+object\s""".r
  private val PackageObjectDef = """(?m)^\s*(?:@\w+\s+)?def\s+([a-z_][A-Za-z0-9_]*)""".r

  /** CosineSimilarity -> cosine_similarity: the DSL convention for
    * column functions, so a spec calling the function counts as
    * referencing the expression's file. */
  private def snake(name: String): String =
    name.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase

  def loadIgnore(root: Path): Seq[String] = {
    val f = root.resolve(".covignore")
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** Scan main + test sources under `root` (a repo checkout). */
  def scan(root: Path): Seq[FileStat] = {
    def walk(dir: Path): Seq[Path] =
      if (!Files.exists(dir)) Nil
      else {
        val stream = Files.walk(dir)
        try stream.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
        finally stream.close() // Files.walk holds open directory handles
      }
    val ignore = loadIgnore(root)
    val mainFiles = walk(root.resolve("src/main/scala"))
      .filterNot(p => ignore.exists(rule => p.toString.contains(rule)))
    // A standalone `main` under the test root runs only by hand, never in
    // a test run, so naming a type there covers nothing.
    val testFiles = walk(root.resolve("src/test/scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .filterNot { case (_, src) => MainEntry.findFirstIn(src).isDefined }
    mainFiles.map { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      val types = TypeDecl.findAllMatchIn(src).map(_.group(1)).distinct.toSeq
      // package objects declare no rankable type; their surface is the
      // top-level defs (round4, shingles, ...), which specs call by name
      val defNames =
        if (PackageObjectDecl.findFirstIn(src).isDefined)
          PackageObjectDef.findAllMatchIn(src).map(_.group(1)).distinct.toSeq
            .filterNot(Set("apply", "main", "unapply"))
        else Nil
      // Snake-cased names exist to catch the DSL column-function
      // convention (GeometricMean -> geometric_mean); a SINGLE-word
      // type's snake form (Tables -> "tables") is an ordinary English
      // word that matches prose in unrelated specs and would mark the
      // file covered incidentally (ADVICE r7), so only multi-word
      // snake forms count — single-word types must match by their
      // original CamelCase name.
      val names =
        (types ++ types.map(snake).filter(_.contains("_")) ++ defNames).distinct
      // one compiled pattern per main file, reused across all test files
      // (per-(name, test-file) compilation would recompile the same
      // regex thousands of times per scan)
      val namePattern = if (names.isEmpty) None
        else Some(("""\b(?:""" +
          names.map(java.util.regex.Pattern.quote).mkString("|") + """)\b""").r)
      val base = p.getFileName.toString.stripSuffix(".scala")
      val refs = testFiles.collect {
        // the <Base>Spec.scala convention pairs a spec with its subject
        // even when the subject is wired indirectly (session extensions)
        case (tp, tsrc) if tp.getFileName.toString == s"${base}Spec.scala" ||
          namePattern.exists(_.findFirstIn(tsrc).isDefined) =>
          root.relativize(tp).toString
      }
      FileStat(root.relativize(p).toString, types, refs)
    }.sortBy(s => (s.specRefs.size, s.file)) // worst first, like coverrank
  }

  def overallPct(stats: Seq[FileStat]): Double =
    if (stats.isEmpty) 100.0 else stats.count(_.covered) * 100.0 / stats.size

  /** CLI: [--markdown|--json] [--top=N] [root]. Exit 1 when any ranked
    * file has zero referencing specs (the threshold gate). */
  def main(args: Array[String]): Unit = {
    val markdown = args.contains("--markdown")
    val json = args.contains("--json")
    val top = args.collectFirst { case a if a.startsWith("--top=") => a.drop(6).toInt }
      .getOrElse(30)
    val root = Paths.get(args.filterNot(_.startsWith("--")).headOption.getOrElse("."))
    val stats = scan(root)
    val overall = overallPct(stats)
    if (json) { println(f"""{"coverage":$overall%.2f}"""); return }
    if (markdown) {
      println("## Spec-reference Ranking\n")
      println("| Specs | File | Types |")
      println("|---|---|---|")
      stats.take(top).foreach(s =>
        println(s"| ${s.specRefs.size} | ${s.file} | ${s.types.take(4).mkString(", ")} |"))
    } else {
      println("=== Least spec-referenced files ===")
      stats.take(top).foreach(s => println(f"${s.specRefs.size}%6d  ${s.file}"))
    }
    println(f"%nOverall (filtered): $overall%.2f%% of files referenced by at least one spec")
    if (stats.exists(!_.covered)) sys.exit(1)
  }
}
