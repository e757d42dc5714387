package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Reach it or delete it: every public member of a top-level object in
  * `src/main/scala` must be named somewhere in the program's code other
  * than its own declaration — in `src/main` or in the benchmark harness
  * that drives it. A member only a spec calls has no CLI verb, contract
  * query or main behind it, and is deleted rather than kept for its spec.
  *
  * The scan is by name, not by symbol: comments are stripped, string
  * literals kept, and any same-named identifier counts. So it can miss
  * dead code (a name shared with a live one) but never fails on a member
  * the program calls; one called only from outside the repo needs an
  * allowlist entry. `override`s and `main` are skipped; members of
  * nested objects and classes are out of scope.
  */
class ReachSpec extends AnyFunSuite {

  // Members kept although no code names them. An entry that stops
  // firing fails the spec (stale allowlists hide regressions); an
  // unlisted hit fails it too.
  private val reachAllow: Map[String, String] = Map(
    "entry" -> "SparkEntry.entry: the flagship-query entry point that external harnesses smoke-check; nothing in the repo calls it",
    "hashAlias" -> "Anonymizer.hashAlias: the reference implementation AnonPropertySpec compares hashAliasCol against"
  )

  private val sourceRoots = Seq("src/main/scala", "perfbench/harness/src/main/scala")

  private def scalaFiles(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector.sorted
      finally s.close()
    }
  }

  /** `src` with its comments blanked (newlines kept, so line numbers
    * hold); string and character literals are kept verbatim. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        out.append(src.substring(i, j)); i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(src.substring(i, j)); i = j
      } else if (src.charAt(i) == '\'' && i + 2 < n &&
          (src.charAt(i + 2) == '\'' ||
            (src.charAt(i + 1) == '\\' && i + 3 < n && src.charAt(i + 3) == '\''))) {
        val j = if (src.charAt(i + 2) == '\'') i + 3 else i + 4
        out.append(src.substring(i, j)); i = j
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var j = i
        var open = true
        while (j < n && open) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2; open = depth > 0 }
          else { if (src.charAt(j) == '\n') out.append('\n'); j += 1 }
        }
        i = j
      } else { out.append(src.charAt(i)); i += 1 }
    }
    out.toString
  }

  private val TopObject = """^(?:(?:final|case)\s+)*object\s+\w+.*""".r
  private val Member =
    """^  (?:(?:final|implicit|lazy|sealed|abstract|case)\s+)*(?:def|val|var|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*).*""".r

  private case class Decl(file: Path, line: Int, name: String)

  /** Public members of the top-level objects in `lines` (the object body
    * at two-space indent; `private`, `protected` and `override` members
    * do not match). */
  private def decls(file: Path, lines: Array[String]): Seq[Decl] = {
    var inObject = false
    lines.indices.flatMap { i =>
      val l = lines(i)
      if (l.nonEmpty && !l.head.isWhitespace) {
        inObject = TopObject.matches(l)
        None
      } else if (!inObject) None
      else l match {
        case Member(name) if name != "main" => Some(Decl(file, i, name))
        case _ => None
      }
    }
  }

  test("every public top-level object member is named outside its own declaration") {
    val files = sourceRoots.flatMap(scalaFiles)
    assert(files.exists(_.startsWith("src/main/scala")), "run from the repository root")
    val text: Map[Path, Array[String]] =
      files.map(f => f -> stripComments(Files.readString(f)).split("\n", -1)).toMap
    // every identifier-shaped word of the program, counted once per use
    val Word = "[A-Za-z_][A-Za-z0-9_]*".r
    val uses: Map[String, Int] = text.values.iterator.flatMap(_.iterator)
      .flatMap(l => Word.findAllIn(l)).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val declared = files.filter(_.startsWith("src/main/scala")).flatMap(f => decls(f, text(f)))
    // its own declaration is one use of the name
    val unreached = declared.filter(d => uses.getOrElse(d.name, 0) <= 1)
    val offenders = unreached.filterNot(d => reachAllow.contains(d.name))
      .map(d => s"${d.file}:${d.line + 1} ${d.name}")
    assert(offenders.isEmpty,
      s"public members no program code names (delete them, or wire them " +
        s"into a verb, query or main):\n  ${offenders.mkString("\n  ")}")
    val stale = reachAllow.keySet -- unreached.map(_.name)
    assert(stale.isEmpty,
      s"allowlist entries that program code now reaches (remove them): ${stale.mkString(", ")}")
  }
}
