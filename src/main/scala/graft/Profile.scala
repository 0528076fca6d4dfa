package graft

import graft.gates.Gates
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The query profiler over the gate registry ([[graft.gates.Gates]]), read from
  * `SPARK_GRAFT_SF_DIR` (default `~/testdata/sf0.1`) on a
  * `GraftSession.local` session of [[Bench.cpus]] cores:
  *
  * - `runMain graft.Profile <query>...`: one untimed warm-up, then
  *   `SPARK_GRAFT_ITERS` (default 3) timed noop-sink runs; prints their
  *   min (the number the `Bench.pinnedSecs` re-base policy asks for),
  *   median and Spark jobs per run (with the warm-up's jobs beside them).
  * - `--plan [query...]`: each query's formatted physical plan; every
  *   registered query's, in registry order, when none is named.
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
  def parse(args: Seq[String], registered: Iterable[String]): Either[String, Request] = {
    val known = registered.toSet
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
    val unknown = names.filterNot(known)
    mode.flatMap { m =>
      if (options.nonEmpty) Left(s"unexpected option(s): ${options.mkString(", ")}; $Usage")
      else if (unknown.nonEmpty) Left(s"unknown query name(s): ${unknown.mkString(", ")}")
      else if (names.isEmpty && m != Plan) Left(Usage)
      else Right(Request(m, if (names.isEmpty) registered.toSeq else names))
    }
  }

  /** Seconds for one noop-sink run of registry query `name`, construction
    * included: the unit of every Bench and Profile timing. */
  def timeQuery(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** `body`'s result and the number of Spark jobs it ran, counted by a
    * listener on the job group `body` runs under. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val listener = new GroupJobs(s"jobs-$id", s"flush-$id")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"jobs-$id", "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"flush-$id", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      if (!listener.flushed.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not flush")
      (result, listener.jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Min and median seconds, and jobs per run (one number when every run
    * ran the same). */
  private def summary(runs: Seq[(Double, Int)]): String = {
    val s = runs.map(_._1).sorted
    val jobs = runs.map(_._2).distinct
    f"min=${s.head}%.3f med=${s(s.size / 2)}%.3f jobs=${jobs.mkString("/")}"
  }

  def main(args: Array[String]): Unit = {
    val req = parse(args.toSeq, Gates.all.map(_.name))
      .fold(err => { System.err.println(s"[profile] $err"); sys.exit(2) }, identity)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    require(iters >= 1, "SPARK_GRAFT_ITERS must be >= 1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${sys.props("user.home")}/testdata/sf0.1")
    val spark = GraftSession.local(Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def once(name: String): (Double, Int) = jobsOf(spark)(timeQuery(spark, sfDir, name))
    for (name <- req.queries) req.mode match {
      case Plan =>
        println(s"==== $name ====")
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
      case Time =>
        val warmupJobs = once(name)._2
        val runs = Seq.fill(iters)(once(name))
        println(s"[profile] $name ${summary(runs)} (warm-up jobs=$warmupJobs, iters=$iters, $sfDir)")
      case AB(key, value) =>
        def side(set: Boolean): (Double, Int) = {
          if (set) spark.conf.set(key, value) else spark.conf.unset(key)
          once(name)
        }
        side(false); side(true)
        val (unset, set) = Seq.fill(iters)((side(false), side(true))).unzip
        spark.conf.unset(key)
        println(s"[profile] $name unset ${summary(unset)} | $key=$value ${summary(set)} " +
          s"(iters=$iters, $sfDir)")
    }
    spark.stop()
  }
}

/** Counts the jobs of `group`; releases `flushed` when a job of `marker`
  * ends — the listener bus delivers in order, so every earlier event has
  * been seen by then. */
private final class GroupJobs(group: String, marker: String) extends SparkListener {
  val jobs = new AtomicInteger
  val flushed = new CountDownLatch(1)
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    if (g == group) jobs.incrementAndGet()
    else if (g == marker) markerJobs.add(e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) flushed.countDown()
}
