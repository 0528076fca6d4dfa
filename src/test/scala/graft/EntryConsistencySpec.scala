package graft

import graft.gates.Gates
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The driver contract's internal consistency: every oracle names a
  * registered query, and every registered query carries an oracle (the
  * rows-only fallback is weaker — any intentional omission must be
  * listed here, not silent). */
class EntryConsistencySpec extends AnyFunSuite {

  test("every oracle key is a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("every registered query has a DuckDB oracle (no silent rows-only fallbacks)") {
    val allowedRowsOnly: Set[String] = Set.empty
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet --
      allowedRowsOnly
    assert(missing.isEmpty, s"queries without an oracle: $missing")
  }

  test("gate names are unique, so the name-keyed views keep every gate") {
    val names = Gates.all.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"gate names registered twice: $dups")
    assert(SparkEntry.queries.size == Gates.all.size)
    assert(SparkEntry.oracleSql.size == Gates.all.size)
  }

  test("each gate name is a string literal in exactly one src/main file") {
    // a gate is defined in one place: no parallel name-keyed list elsewhere
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val texts = files.map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    val spread = Gates.all.map(_.name).flatMap { n =>
      val in = texts.collect { case (f, t) if t.contains("\"" + n + "\"") => f.getFileName.toString }
      if (in.size == 1) None else Some(n -> in)
    }
    assert(spread.isEmpty, s"gate names quoted in zero or several files: $spread")
  }

  test("README/SURVEY/PERF quote the registry's one query count (no stale docs)") {
    // the r13 verdict caught README quoting a two-round-old count while
    // SURVEY/PERF/the correctness JSON agreed — this pins all three
    // prose sources to SparkEntry.queries.size, so a gate added without
    // updating the docs fails the suite in the same commit
    val n = SparkEntry.queries.size
    // whitespace-normalized so markdown line wraps can't hide a match
    def text(p: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
      .replaceAll("\\s+", " ")
    assert(text("README.md").contains(s"all $n registered queries"),
      s"README.md must quote 'all $n registered queries'")
    assert(text("SURVEY.md").contains(s"$n gated queries"),
      s"SURVEY.md must quote '$n gated queries'")
    val gateCounts = "count (\\d+) gates".r
      .findAllMatchIn(text("PERF.md")).toSeq
    assert(gateCounts.nonEmpty && gateCounts.last.group(1).toInt == n,
      s"PERF.md's latest close section must quote 'count $n gates' " +
        s"(found: ${gateCounts.map(_.group(1)).mkString(", ")})")
  }

  test("oracles are non-empty SQL and reference only driver-provided tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // (?<!distinct ) keeps "x IS DISTINCT FROM y" from reading as a scan
    val tableRe = "(?i)\\b(?:(?<!distinct )from|join)\\s+([a-z_][a-z0-9_]*)".r
    SparkEntry.oracleSql.foreach { case (k, rawSql) =>
      assert(rawSql.trim.nonEmpty, s"$k has an empty oracle")
      // strip `--` line comments BEFORE scanning: a commented oracle
      // (good practice) otherwise hides CTE declarations from cteRe
      // (comment between the comma and the name) and leaks false table
      // refs from prose ("half away from zero" reads as FROM zero)
      val sql = rawSql.replaceAll("(?m)--.*$", "")
      val refs = tableRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      // CTE names are declared in the same statement — subtract them
      val cteRe = "(?i)(?:with(?:\\s+recursive)?|,)\\s*([a-z_][a-z0-9_]*)\\s+as\\s*(?:(?:not\\s+)?materialized\\s+)?\\(".r
      val sub = "(?i)\\(\\s*select".r
      val ctes = cteRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      // DuckDB table functions are relations too
      val tableFns = Set("range", "unnest", "values", "generate_series")
      val unknown = refs -- ctes -- tables -- tableFns -- Set("select")
      // alias-only refs (e.g. "JOIN r ON" in recursive CTEs) resolve to
      // declared CTEs; anything else must be a driver table
      assert(unknown.isEmpty,
        s"$k references unknown relations: $unknown\n$sql")
    }
  }
}
