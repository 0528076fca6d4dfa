package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** One session factory: every SparkSession in the repository comes from
  * [[GraftSession]], and the shared test session still carries the
  * settings the suites were written against. */
class SessionFactorySpec extends SparkSpec {

  // the generated pipeline-script templates and the assertion on them
  private val allowed = Set(
    "src/main/scala/graft/GraftSession.scala",
    "src/main/scala/graft/service/SetupBundle.scala",
    "src/test/scala/graft/service/SetupBundleSpec.scala")

  private val builderCall = "SparkSession\\s*\\.\\s*builder\\b".r

  private def sources: Seq[Path] = Seq("src/main", "src/test").flatMap { root =>
    Using.resource(Files.walk(Paths.get(root)))(_.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)
  }

  test("no SparkSession builder outside GraftSession") {
    val calls = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if builderCall.findFirstIn(line).isDefined => (p.toString, i + 1)
      }
    }
    // the pattern must see the factory's own call, or the scan proves nothing
    assert(calls.exists(_._1 == "src/main/scala/graft/GraftSession.scala"),
      "the builder pattern no longer matches GraftSession's call")
    val stray = calls.filterNot(c => allowed(c._1))
    assert(stray.isEmpty, "build sessions with GraftSession.builder/local, not: " +
      stray.map { case (f, l) => s"$f:$l" }.mkString(", "))
  }

  test("the shared TestSpark session carries the factory settings") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
