package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main and turns the raw record it writes into metrics:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --lake <dir> --sf <dir> --queries <q,..> --out <file>
  * }}}
  *
  * One client drives one `local[4]` session in a closed loop: the next op
  * starts when the previous one has returned. The record holds when the
  * timed loop started and how long it ran, every op, the observations the
  * output checks need and, in a traced run, per-op layer numbers and the
  * spans.
  */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Storage memory the block manager holds (cached blocks, broadcasts).
    * An op's `retained_mb` is this after it returns minus this before it
    * started: what it leaves held, whatever earlier ops left. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / (1024.0 * 1024.0)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` with its Spark jobs filed under `group`. */
  def grouped[T](spark: SparkSession, group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Runs the timed loop `body` with a listener that counts the Spark jobs
    * of every job group; returns its record with the counts under `jobs`. */
  def counted(spark: SparkSession)(body: => Map[String, Any]): Map[String, Any] = {
    val jobs = new JobCollector
    spark.sparkContext.addSparkListener(jobs)
    val record = try body finally jobs.drain()
    spark.sparkContext.removeSparkListener(jobs)
    record + ("jobs" -> jobs.jobCounts)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val record: Map[String, Any] = workload match {
      case "write_flag" | "pipeline_split" =>
        new Governed(workload, seconds, traced, work, a("lake")).run()
      case "analytics_cold" =>
        new Cold(a("queries").split(",").toSeq, seed, seconds, traced, work, a("sf")).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    Files.writeString(Paths.get(a("out")), Json(record))
  }
}

/** Minimal JSON encoder for the raw record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
