package graft
import graft.gates.Gates
import java.nio.file.{Files, Paths}
/** Correctness dump: each gate's result (in registry order) → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing query names: dev-loop filter (driver passes none)
    val only = args.drop(2).toSet
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Gates.all.filter(g => only.isEmpty || only(g.name)).foreach { g =>
      try g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = Gates.all
      .map(g => s"${q(g.name)}: ${q(g.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
