package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The query profiler over [[SparkEntry.queries]], read from
  * `SPARK_GRAFT_SF_DIR` (default `~/testdata/sf0.1`) on a
  * `GraftSession.local` session of [[Bench.cpus]] cores:
  *
  * - `runMain graft.Profile <query>...`: one untimed warm-up, then
  *   `SPARK_GRAFT_ITERS` (default 3) timed noop-sink runs; prints their
  *   min (the number the `Bench.pinnedSecs` re-base policy asks for) and
  *   median.
  * - `--plan [query...]`: each query's formatted physical plan; every
  *   registered query's when none is named.
  * - `--ab key=value <query>...`: runs alternate with the conf unset and
  *   set inside one JVM (both shapes warmed first), so drift between JVMs
  *   cannot swamp the delta, e.g. `--ab graft.fan.maxInputBytes=0`.
  */
object Profile {

  sealed trait Mode
  case object Time extends Mode
  case object Plan extends Mode
  final case class AB(key: String, value: String) extends Mode
  final case class Request(mode: Mode, queries: Seq[String])

  private val Usage = "usage: Profile [--plan | --ab key=value] <query>... " +
    "(--plan with no query plans every registered query)"

  /** Checks the arguments before any session starts: rejects unknown
    * options, an `--ab` argument that is not `key=value`, unknown query
    * names (all listed) and a timing mode with no query. */
  def parse(args: Seq[String], registered: collection.Set[String]): Either[String, Request] = {
    val (mode, rest) = args match {
      case "--plan" +: tail => (Right(Plan), tail)
      case "--ab" +: kv +: tail => kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty && v.nonEmpty => (Right(AB(k, v)), tail)
        case _ => (Left(s"--ab expects key=value, got '$kv'"), tail)
      }
      case Seq("--ab") => (Left("--ab expects key=value"), Nil)
      case _ => (Right(Time), args)
    }
    val (options, names) = rest.partition(_.startsWith("--"))
    val unknown = names.filterNot(registered)
    mode.flatMap { m =>
      if (options.nonEmpty) Left(s"unexpected option(s): ${options.mkString(", ")}; $Usage")
      else if (unknown.nonEmpty) Left(s"unknown query name(s): ${unknown.mkString(", ")}")
      else if (names.isEmpty && m != Plan) Left(Usage)
      else Right(Request(m, if (names.isEmpty) registered.toSeq.sorted else names))
    }
  }

  /** Seconds for one noop-sink run of registry query `name`, construction
    * included: the unit of every Bench and Profile timing. */
  def timeQuery(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def minMed(ts: Seq[Double]): String = {
    val s = ts.sorted
    f"min=${s.head}%.3f med=${s(s.size / 2)}%.3f"
  }

  def main(args: Array[String]): Unit = {
    val req = parse(args.toSeq, SparkEntry.queries.keySet)
      .fold(err => { System.err.println(s"[profile] $err"); sys.exit(2) }, identity)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    require(iters >= 1, "SPARK_GRAFT_ITERS must be >= 1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${sys.props("user.home")}/testdata/sf0.1")
    val spark = GraftSession.local(Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def once(name: String): Double = timeQuery(spark, sfDir, name)
    for (name <- req.queries) req.mode match {
      case Plan =>
        println(s"==== $name ====")
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
      case Time =>
        once(name)
        val ts = Seq.fill(iters)(once(name))
        println(s"[profile] $name ${minMed(ts)} (iters=$iters, $sfDir)")
      case AB(key, value) =>
        def side(set: Boolean): Double = {
          if (set) spark.conf.set(key, value) else spark.conf.unset(key)
          once(name)
        }
        side(false); side(true)
        val (unset, set) = Seq.fill(iters)((side(false), side(true))).unzip
        spark.conf.unset(key)
        println(s"[profile] $name unset ${minMed(unset)} | $key=$value ${minMed(set)} " +
          s"(iters=$iters, $sfDir)")
    }
    spark.stop()
  }
}
