package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The coverage threshold gate, CI-shaped: the reference fails a PR
  * when per-file coverage drops (tools/coverrank +
  * .github/workflows/develop.yml:36-110); here every `sbt test` fails
  * when a non-ignored main source file loses its last referencing
  * spec. sbt runs tests from the project root, which is the scan root.
  */
class CoverRankSpec extends AnyFunSuite {

  private lazy val stats = CoverRank.scan(Paths.get("."))

  test("gate: every non-ignored main source file is referenced by at least one spec") {
    val uncovered = stats.filterNot(_.covered).map(_.file)
    assert(uncovered.isEmpty,
      s"files with no referencing spec (add a spec or a justified .covignore rule): $uncovered")
  }

  test("ranking is worst-first and the scan sees the real tree") {
    assert(stats.size > 40, s"scan must see the main tree, got ${stats.size} files")
    assert(stats.map(_.specRefs.size) == stats.map(_.specRefs.size).sorted,
      "rank ascending by reference count, least-covered first")
    assert(CoverRank.overallPct(stats) == 100.0,
      "with the gate green, overall filtered coverage is 100%")
    // ignore rules load and exclude (Bench is driver-gated, not spec-gated)
    assert(CoverRank.loadIgnore(Paths.get(".")).nonEmpty)
    assert(!stats.exists(_.file.endsWith("Bench.scala")))
  }

  test("test-root mains and a comment naming a package object cover nothing; a spec does") {
    val root = Files.createTempDirectory("coverrank")
    def write(rel: String, src: String): Path = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, src.getBytes("UTF-8"))
    }
    // Only a declared package object ranks its defs; one named in a
    // comment leaves `scan` to the type names.
    write("src/main/scala/a/Thing.scala",
      "package a\n// not a package object\nclass Thing {\n  def scan(): Unit = ()\n}\n")
    write("src/test/scala/ScanSpec.scala", "class ScanSpec { /* scan the tree */ }\n")
    write("src/test/scala/Probe.scala",
      "object Probe {\n  def main(args: Array[String]): Unit = println(new a.Thing)\n}\n")
    write("src/test/scala/Runner.scala", "object Runner extends App { new a.Thing }\n")
    assert(CoverRank.scan(root).map(s => s.file -> s.specRefs) ==
      Seq("src/main/scala/a/Thing.scala" -> Nil))
    // A spec that only spells a main out in a string literal, as this one
    // does, still counts.
    write("src/test/scala/a/UsesThingSpec.scala",
      "class UsesThingSpec {\n  val probe = \"object P { def main(a: Array[String]) = () }\"\n  new a.Thing\n}\n")
    assert(CoverRank.scan(root).map(s => s.file -> s.specRefs) ==
      Seq("src/main/scala/a/Thing.scala" -> Seq("src/test/scala/a/UsesThingSpec.scala")))
  }
}
