package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards against code that nothing reaches growing back: every src/main
  * file must declare a top-level name that another src/main file or a
  * perfbench source mentions in code. Comments do not count, so a scaladoc
  * link or a "see X" note cannot keep a dead file alive. The run mains are
  * the roots and are exempt; entries leave `RunMains` when their main is
  * deleted, and none are added. */
class UnreachedCodeSpec extends AnyFunSuite {

  private val RunMains = Set("Bench", "BenchOne", "Verify", "DumpOracle", "PlanAudit",
    "ScaleProbe", "SparkEntry")

  private def sources(root: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(root)))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString))

  private val mainFiles = sources("src/main/scala")
  private val code: Map[Path, String] = (mainFiles ++ sources("perfbench/src/main/scala"))
    .map(p => p -> UnreachedCodeSpec.stripComments(new String(Files.readAllBytes(p), "UTF-8")))
    .toMap

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val TopLevelDecl =
    """\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** Names of the objects, classes and traits declared outside any braces. */
  private def topLevelNames(src: String): Set[String] = {
    val atDepth0 = new StringBuilder
    var depth = 0
    UnreachedCodeSpec.stripComments(src, blankStrings = true).foreach { c =>
      if (c == '{') depth += 1
      else if (c == '}') depth -= 1
      else if (depth == 0) atDepth0 += c
    }
    TopLevelDecl.findAllMatchIn(atDepth0.toString).map(_.group(1)).toSet
  }

  private val mentions: Map[Path, Set[String]] =
    code.map { case (p, s) => p -> Ident.findAllIn(s).toSet }

  test("comment stripping keeps code and string literals, drops line and nested block comments") {
    val src = "val a = \"// not a comment\" // Gone1\n/* Gone2 /* Gone3 */ Gone4 */ val b = '\"'\n" +
      "val c = \"\"\"/* kept */\"\"\" /** Gone5 */"
    val out = UnreachedCodeSpec.stripComments(src)
    assert(Seq("\"// not a comment\"", "val b = '\"'", "\"\"\"/* kept */\"\"\"").forall(out.contains), out)
    assert(!"Gone[1-5]".r.findFirstIn(out).isDefined, out)
    assert(UnreachedCodeSpec.stripComments(src, blankStrings = true).trim.split("\\s+")
      .mkString(" ") == "val a = val b = val c =")
  }

  test("every src/main file declares a name that other code mentions, outside comments") {
    val names = mainFiles.map(p => p -> topLevelNames(code(p))).toMap
    val stale = RunMains -- names.valuesIterator.flatten.toSet
    assert(stale.isEmpty, s"RunMains lists mains that no longer exist: $stale")
    val unreached = mainFiles.filter { p =>
      val own = names(p)
      own.intersect(RunMains).isEmpty &&
        !code.keysIterator.exists(o => o != p && mentions(o).exists(own))
    }
    assert(unreached.isEmpty,
      "no other src/main or perfbench code mentions these files' top-level names: " +
        unreached.mkString(", "))
  }
}

object UnreachedCodeSpec {
  /** `src` with every line and (nested) block comment replaced by a space.
    * String and character literals pass through, or become a space under
    * `blankStrings`. */
  def stripComments(src: String, blankStrings: Boolean = false): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
        out += ' '
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < n)
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out ++= (if (blankStrings) " " else src.substring(i, stop)); i = stop
      } else if (src(i) == '"' || (src(i) == '\'' && (at("'\\") || src.startsWith("'", i + 2)))) {
        val q = src(i)
        val start = i
        i += 1
        while (i < n && src(i) != q && src(i) != '\n') i += (if (src(i) == '\\') 2 else 1)
        i = math.min(i + 1, n)
        out ++= (if (blankStrings) " " else src.substring(start, i))
      } else {
        out += src(i); i += 1
      }
    }
    out.toString
  }
}
