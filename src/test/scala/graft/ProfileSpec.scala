package graft

import graft.Profile._
import org.scalatest.funsuite.AnyFunSuite

/** `Profile.parse` turns bad arguments away before any session starts. */
class ProfileSpec extends AnyFunSuite {
  private val registered = Set("q_a", "q_b")

  test("an unknown query name is rejected, and every unknown name is listed") {
    for (mode <- Seq(Nil, Seq("--plan"), Seq("--ab", "k=v"))) {
      val r = parse(mode ++ Seq("q_a", "q_nope", "q_gone"), registered)
      assert(r.left.exists(e => e.contains("q_nope") && e.contains("q_gone")), s"$mode: $r")
    }
  }

  test("an --ab argument that is not key=value is rejected") {
    for (bad <- Seq("k", "=v", "k=", "")) {
      val r = parse(Seq("--ab", bad, "q_a"), registered)
      assert(r.left.exists(_.contains("key=value")), s"'$bad': $r")
    }
    assert(parse(Seq("--ab"), registered).left.exists(_.contains("key=value")))
  }

  test("valid arguments parse to their mode; --plan alone plans the registry") {
    assert(parse(Seq("q_b", "q_a"), registered) == Right(Request(Time, Seq("q_b", "q_a"))))
    assert(parse(Seq("--plan"), registered) == Right(Request(Plan, Seq("q_a", "q_b"))))
    assert(parse(Seq("--ab", "spark.sql.shuffle.partitions=8", "q_a"), registered) ==
      Right(Request(AB("spark.sql.shuffle.partitions", "8"), Seq("q_a"))))
    assert(parse(Seq("--ab", "k=a=b", "q_a"), registered) ==
      Right(Request(AB("k", "a=b"), Seq("q_a"))))
    assert(parse(Nil, registered).isLeft, "timing needs a query")
    assert(parse(Seq("--iters", "q_a"), registered).isLeft, "unknown option")
    assert(parse(Seq("--plan"), SparkEntry.queries.keySet).map(_.queries.size) ==
      Right(SparkEntry.queries.size))
  }
}
