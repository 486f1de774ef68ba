package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: the per-position gram spelling
  * `transform(sequence(1, len-n+1), i -> substr(t, i, n))` runs
  * interpreted and re-walks the UTF-8 bytes for every position — O(len²)
  * per document. Every char-gram extraction in the engine goes through
  * the native one-pass `graft_shingles` kernel
  * ([[graft.functions.Shingles]]) instead. The oracle package is exempt:
  * its texts are DuckDB SQL, run by the DuckDB gate, never by Spark.
  */
class GramLintSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")
  private val hof = """\w+\s*->\s*substr(?:ing)?\s*\(""".r

  /** The source with block and line comments removed (the docs may name
    * the spelling they forbid).
    */
  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("no per-position substr lambda builds grams in src/main/scala") {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.startsWith(root.resolve(Paths.get("graft", "oracle"))))
      .toSeq
    assert(files.nonEmpty)
    val offenders = files.filter(p => hof.findFirstIn(code(p)).nonEmpty)
    assert(offenders.isEmpty,
      s"per-position `i -> substr(...)` gram spelling in ${offenders.mkString(", ")} — " +
        "it is O(len²) per document; use the native graft_shingles kernel " +
        "(graft.functions.Shingles) instead")
  }
}
