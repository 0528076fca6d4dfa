package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference fixed-point PageRank, independent spelling (plain Scala
    * maps) of the documented arithmetic. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
                        scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size.toLong
    val base = (scale - (85L * scale) / 100L) / n
    var pr = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val s = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => pr(e._1) / deg(e._1)).sum
      }
      pr = nodes.map(v => v -> (base + (85L * s.getOrElse(v, 0L)) / 100L)).toMap
    }
    pr
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  test("matches an independent fixed-point reference on an asymmetric graph") {
    // 1, 2 and 4 all point at 3; 3 splits its mass between 1 and 4,
    // so after a few iterations 3 dominates, 1 and 4 tie (each gets
    // half of 3), and source-only 2 sits at the teleport floor
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L))
    for (iters <- Seq(0, 1, 5)) {
      assert(run(edges, iters) == reference(edges, iters), s"iters=$iters")
    }
    val r = run(edges, 5)
    assert(r(3L) > r(1L) && r(1L) == r(4L) && r(4L) > r(2L),
      s"authority ordering wrong: $r")
  }

  test("a symmetric cycle stays uniform at the initial mass") {
    // every node has in-degree = out-degree = 1 and equal start: each
    // iteration maps rank -> base + 85% rank, a fixpoint-converging
    // uniform value — all nodes identical at every step
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val r = run(cyc, 4)
    assert(r.values.toSet.size == 1, s"cycle ranks diverged: $r")
  }

  test("mass stays conserved up to truncation on a symmetrised graph") {
    val pairs = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (4L, 12L))
    val edges = pairs ++ pairs.map(_.swap)
    val r = run(edges, 5)
    val total = r.values.sum
    val scale = 1000000000000L
    // each iteration truncates < (deg) units per node at two division
    // sites; with 7 nodes and 5 iterations the loss is microscopic
    assert(total <= scale && total > scale - 1000L,
      s"mass off: $total vs $scale")
  }

  /** Reference personalized variant: teleport and initial mass only on
    * seeds. */
  private def referenceSeeded(edges: Seq[(Long, Long)], seeds: Set[Long],
                              iters: Int,
                              scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val in = seeds.intersect(nodes.toSet)
    val s = in.size.toLong
    val base = nodes.map(v =>
      v -> (if (in(v)) (scale - (85L * scale) / 100L) / s else 0L)).toMap
    var pr = nodes.map(v => v -> (if (in(v)) scale / s else 0L)).toMap
    for (_ <- 1 to iters) {
      val acc = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => pr(e._1) / deg(e._1)).sum
      }
      pr = nodes.map(v => v -> (base(v) + (85L * acc.getOrElse(v, 0L)) / 100L)).toMap
    }
    pr
  }

  test("personalizedPageRank matches its reference; unreachable nodes stay 0") {
    // two components: {1,2,3} cyclic, {8,9} mutual. Seeding in the
    // first component must leave the second at exactly 0, and seeds
    // outside the graph (99) must be ignored, not counted in |S|
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (8L, 9L), (9L, 8L))
    val seeds = Set(1L, 99L)
    val out = Graph.personalizedPageRank(
      edges.toDF("src", "dst"), Seq(1L, 99L).toDF("node"), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(out == referenceSeeded(edges, seeds, 4))
    assert(out(8L) == 0L && out(9L) == 0L,
      s"unreachable component gained trust: $out")
    assert(out(1L) > 0L && out(2L) > 0L && out(3L) > 0L)
  }

  test("personalizedPageRank with all nodes seeded equals uniform pageRank") {
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L))
    val allNodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // |V| = 4 divides the scale's 10^12 evenly enough that seeded and
    // uniform spell the same initial/base values
    val seeded = Graph.personalizedPageRank(
      edges.toDF("src", "dst"), allNodes.toDF("node"), iters = 3)
      .as[(Long, Long)].collect().toMap
    val uniform = run(edges, 3)
    assert(seeded == uniform)
  }

  /** Reference synchronous LPA: plurality of in-neighbor labels, ties
    * to the smallest label, keep the old label with no in-edges. */
  private def referenceLpa(edges: Seq[(Long, Long)],
                           iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      val win = edges.groupBy(_._2).map { case (v, es) =>
        val votes = es.groupBy(e => lab(e._1)).map { case (l, g) => l -> g.size }
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      lab = nodes.map(v => v -> win.getOrElse(v, lab(v))).toMap
    }
    lab
  }

  private def runLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation matches its reference; communities separate") {
    // two triangles bridged by one directed edge: labels must pool to
    // each triangle's minimum id, and the one-way bridge must not merge
    // the communities (6 gets a plurality of in-votes from its own
    // triangle once labels have pooled)
    val tri1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
    val tri2 = Seq((6L, 7L), (7L, 8L), (8L, 6L), (7L, 6L), (8L, 7L), (6L, 8L))
    val edges = tri1 ++ tri2 ++ Seq((3L, 6L))
    for (iters <- Seq(0, 1, 2, 5))
      assert(runLpa(edges, iters) == referenceLpa(edges, iters), s"iters=$iters")
    val r = runLpa(edges, 5)
    assert(Set(r(1L), r(2L), r(3L)).size == 1, s"triangle 1 split: $r")
    assert(Set(r(6L), r(7L), r(8L)).size == 1, s"triangle 2 split: $r")
    assert(r(1L) != r(6L), s"bridge merged the communities: $r")
  }

  test("labelPropagation tie-break and no-in-edge semantics") {
    // 5 has two in-neighbors with distinct labels (1 and 2): the tie
    // must break to the SMALLER label. 1 and 2 have no in-edges and
    // must keep their own labels every round.
    val edges = Seq((1L, 5L), (2L, 5L))
    val r = runLpa(edges, 3)
    assert(r(5L) == 1L, s"tie broke upward: $r")
    assert(r(1L) == 1L && r(2L) == 2L, s"source-only labels moved: $r")
  }

  test("persisted RDDs are bounded by the checkpoint window, not the iteration count") {
    // 24 rounds cross three 8-round windows; each checkpoint releases the
    // rounds it supersedes, so the long run leaves no more persisted RDDs
    // than the 4-round run. Each run gets its own node ids, so neither
    // reuses the other's operator-internal caches. Counted as the ids
    // that are new after the call: the context holds persisted RDDs
    // weakly, so the map's size can also shrink whenever the JVM collects.
    val sc = spark.sparkContext
    var base = 0L
    def persistedBy(op: (DataFrame, Int) => DataFrame, iters: Int): Int = {
      base += 1000L
      val ring = (0L until 12L).map(i => (base + i, base + (i + 1) % 12))
      val edges = (ring ++ ring.map(_.swap) :+ ((base, base + 6L))).toDF("src", "dst")
      val before = sc.getPersistentRDDs.keySet.toSet
      op(edges, iters).count()
      sc.getPersistentRDDs.keys.count(!before(_))
    }
    for ((name, op) <- Seq[(String, (DataFrame, Int) => DataFrame)](
        "labelPropagation" -> ((e, n) => Graph.labelPropagation(e, n)),
        "pageRank" -> ((e, n) => Graph.pageRank(e, n)))) {
      val short = persistedBy(op, 4)
      val long = persistedBy(op, 24)
      assert(long <= short, s"$name left $long persisted RDDs at 24 rounds, $short at 4")
    }
  }

  test("connectedComponents: exact reachability where labelprop sees communities") {
    // two triangles + a bridge: ONE component (reachability), but TWO
    // LPA communities — the operators must disagree here by design
    val tri1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
    val tri2 = Seq((6L, 7L), (7L, 8L), (8L, 6L), (7L, 6L), (8L, 7L), (6L, 8L))
    val edges = tri1 ++ tri2 ++ Seq((3L, 6L))
    val cc = Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L), s"bridge did not merge components: $cc")
    assert(cc.keySet == Set(1L, 2L, 3L, 6L, 7L, 8L))
    // a long chain converges (pointer jumping, not bounded local rounds)
    val chain = (0L until 40L).map(i => (i, i + 1))
    val ccChain = Graph.connectedComponents(chain.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(ccChain.values.toSet == Set(0L), s"chain split: ${ccChain.values.toSet}")
    // disjoint components keep distinct minima; null endpoints drop
    val two = Seq((Some(1L), Some(2L)), (Some(5L), Some(6L)),
      (None: Option[Long], Some(9L)))
    val ccTwo = Graph.connectedComponents(two.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(ccTwo == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L), s"$ccTwo")
  }

  test("null endpoints drop; plan has no cartesian product") {
    val df = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (None: Option[Long], Some(9L)), (Some(9L), None: Option[Long]))
      .toDF("src", "dst")
    val out = Graph.pageRank(df, 2)
    val nodes = out.select("node").as[Long].collect().toSet
    assert(nodes == Set(1L, 2L), s"null-endpoint rows leaked nodes: $nodes")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pageRank planned a cartesian product:\n$plan")
  }

  test("triangleCounts: K4 counts, cycles and stars are triangle-free, dirty edges drop") {
    // K4 on {1,2,3,4}: C(4,3) = 4 triangles, each node in exactly 3 —
    // fed with duplicates, reversals and a self-loop to pin cleaning
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), (4L, 4L), (1L, 2L))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"$out")
    // 4-cycle: wedges exist but never close
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(Graph.triangleCounts(square).count() == 0)
    // star hub: the degree-ordered orientation gives the hub zero
    // out-wedges (all edges point AT it) — and correctly zero triangles
    val star = (1L to 20L).map(i => (100L, i)).toDF("src", "dst")
    assert(Graph.triangleCounts(star).count() == 0)
    // triangle + pendant edge: pendant node reports nothing
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)).toDF("src", "dst")
    val t3 = Graph.triangleCounts(tri).as[(Long, Long)].collect().toMap
    assert(t3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"$t3")
  }
}
