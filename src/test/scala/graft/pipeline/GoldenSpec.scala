package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Frozen-golden contract (FIXTURES.md §2): extraction output must be
  * byte-identical per url against the checked-in fixtures — the text
  * hash and headline columns, and a digest over every column. A mismatch means
  * extraction semantics changed — regenerate via `runMain
  * graft.jobs.GoldenGen` ONLY with an intentional extractor_version bump.
  */
class GoldenSpec extends AnyFunSuite {

  private def check(file: String, line: Long => String): Unit = {
    val path = java.nio.file.Paths.get("src/test/resources", file)
    assert(java.nio.file.Files.exists(path), s"missing golden fixture $path")
    val lines = java.nio.file.Files.readAllLines(path).asScala
      .filterNot(l => l.startsWith("#") || l.isEmpty)
    assert(lines.size == graft.jobs.GoldenGen.Rows)
    var i = 0L
    var mismatches = List.empty[String]
    lines.foreach { expected =>
      val actual = line(i)
      if (actual != expected)
        mismatches ::= s"row $i:\n  expected: $expected\n  actual:   $actual"
      i += 1
    }
    assert(mismatches.isEmpty,
      s"${mismatches.size} golden mismatches; first: ${mismatches.lastOption.getOrElse("")}")
  }

  test("extraction matches frozen golden fixture byte-for-byte") {
    check("golden_extracted.tsv", graft.jobs.GoldenGen.line)
  }

  test("every output column matches the whole-row golden fixture") {
    check("golden_rows.tsv", graft.jobs.GoldenGen.rowLine)
  }
}
