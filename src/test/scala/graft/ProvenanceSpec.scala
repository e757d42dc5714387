package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** An artifact's sha names the tree it measured: a run from a tree whose
  * sources differ from HEAD carries `-dirty`, and the artifacts a run
  * writes next to the sources do not count as a difference. */
class ProvenanceSpec extends AnyFunSuite {

  test("label appends -dirty exactly when the source status lists a file") {
    assert(Provenance.label("abc123", "") == "abc123")
    assert(Provenance.label("abc123", "\n") == "abc123")
    assert(Provenance.label("abc123", " M src/main/scala/A.scala") == "abc123-dirty")
    assert(Provenance.label("abc123", "?? src/main/scala/B.scala") == "abc123-dirty")
  }

  test("shaOf: artifacts leave the tree clean; an edited or new source file makes it dirty") {
    val dir = Files.createTempDirectory("provenance_repo")
    def git(args: String*): String =
      scala.sys.process.Process(
        Seq("git", "-c", "user.name=t", "-c", "user.email=t@t") ++ args, dir.toFile).!!.trim
    def write(rel: String, text: String): Path = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    git("init", "-q")
    write("src/main/scala/A.scala", "object A")
    write("build.sbt", "")
    git("add", "-A")
    git("commit", "-q", "-m", "init")
    val head = git("rev-parse", "HEAD")
    assert(Provenance.shaOf(dir.toFile) == head)
    // what a run writes: bench_result.json and perfbench outputs
    write("bench_result.json", "{}")
    write("perfbench/out.json", "{}")
    assert(Provenance.shaOf(dir.toFile) == head)
    write("src/main/scala/A.scala", "object A { val x = 1 }")
    assert(Provenance.shaOf(dir.toFile) == s"$head-dirty")
    git("checkout", "-q", "--", "src")
    assert(Provenance.shaOf(dir.toFile) == head)
    write("src/main/scala/B.scala", "object B")
    assert(Provenance.shaOf(dir.toFile) == s"$head-dirty")
  }

  test("shaOf outside a git work tree is unknown") {
    assert(Provenance.shaOf(Files.createTempDirectory("provenance_none").toFile) == "unknown")
  }
}
