package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The n-gram LM family tokenises and shingles through one gram builder
  * (`TextOps.gramStream`): a per-order copy of that pass elsewhere in
  * `TextOps` fails here. */
class GramBuilderSpec extends AnyFunSuite {

  test("NearDup.shinglesOf is called in TextOps only by gramStream and repetition") {
    val lines = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/ops/TextOps.scala")), "UTF-8").split("\n")
    // members of `object TextOps` sit at two-space indentation; nested
    // helpers belong to the member that encloses them
    val member = "^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val callers = lines.scanLeft(("", "")) { case ((owner, _), line) =>
      (member.findFirstMatchIn(line).map(_.group(1)).getOrElse(owner), line)
    }.collect { case (owner, line) if line.contains("shinglesOf(") &&
      !line.trim.startsWith("*") && !line.trim.startsWith("//") => owner }.toSet
    // the scan must see the builder's own call, or it proves nothing
    assert(callers.contains("gramStream"), "the scan no longer finds gramStream's call")
    assert(callers == Set("gramStream", "repetition"),
      s"shingle through TextOps.gramStream, not: ${(callers - "gramStream" - "repetition").mkString(", ")}")
  }
}
