package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** PageRank invariants: probability-mass conservation (the graph has no
  * dangling nodes when callers add reverse edges), centrality ordering on
  * a known topology, and bit-determinism across partitionings (the 2^40
  * fixed-point contribution sums).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // star graph, both directions: center 0 <-> leaves 1..8
  private def star = {
    val fwd = (1L to 8L).map(i => (0L, i))
    (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
  }

  test("rank mass is conserved and the hub outranks every leaf") {
    val ranks = Graph.pageRank(star, iters = 3)
      .as[(Long, Double)].collect().toMap
    // no dangling nodes -> total mass stays 1 (up to the 2^40 grid snap)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    val leaves = (1L to 8L).map(ranks)
    assert(leaves.forall(_ < ranks(0L)), "the center must dominate")
    assert(leaves.distinct.size === 1, "symmetric leaves must tie exactly")
  }

  test("ranks are bit-identical across partitionings") {
    val a = Graph.pageRank(star, iters = 3).as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(star.repartition(7), iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(a === b) // exact == on doubles: fixed-point sums, not float order
  }

  test("durable checkpoint path (dir configured) is bit-identical to local") {
    val local = Graph.pageRank(star, iters = 3).as[(Long, Double)].collect().toMap
    val durable = SparkSpec.withCheckpointDir { dir =>
      val r = Graph.pageRank(star, iters = 3).as[(Long, Double)].collect().toMap
      // prove the reliable branch actually ran: RDD checkpoint files exist
      assert(new java.io.File(dir).listFiles.nonEmpty,
        "reliable checkpoint must write under the configured dir")
      r
    }
    assert(durable === local)
  }

  test("dangling redistribution conserves mass on a sink-heavy graph") {
    // 0 -> 1..4: four sinks; without redistribution 0.875 * (mass at
    // sinks) leaks every iteration, with it the total stays 1
    val fan = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val leaky = Graph.pageRank(fan, iters = 3)
      .agg(sum($"rank")).as[Double].collect()(0)
    val kept = Graph.pageRank(fan, iters = 3, redistributeDangling = true)
      .agg(sum($"rank")).as[Double].collect()(0)
    assert(leaky < 0.7, s"mass must leak without redistribution: $leaky")
    assert(math.abs(kept - 1.0) < 1e-9, s"mass must be conserved: $kept")
    // determinism across partitionings holds for the dangling scalar too
    val a = Graph.pageRank(fan, iters = 3, redistributeDangling = true)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(fan.repartition(5), iters = 3, redistributeDangling = true)
      .as[(Long, Double)].collect().toMap
    assert(a === b)
  }

  test("uniform cycle stays uniform") {
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    val ranks = Graph.pageRank(cycle, iters = 4).as[(Long, Double)].collect()
    assert(ranks.map(_._2).distinct.length === 1,
      "a regular cycle is already the stationary distribution")
  }

  test("personalized pagerank concentrates mass on and around the seed set") {
    // path 0 <-> 1 <-> 2 <-> 3, seed = {0}: rank decays with distance
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val r = Graph.personalizedPageRank(path, seeds, iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(r(0L) > r(1L) && r(1L) > r(3L),
      s"rank must decay away from the seed: $r")
    // uniform pagerank has no such decay on a symmetric path interior
    val u = Graph.pageRank(path, iters = 4).as[(Long, Double)].collect().toMap
    assert(u(1L) === u(2L), "sanity: uniform treats the interior symmetrically")
    // partition invariance (fixed-point sums, seed weight is static)
    val r2 = Graph.personalizedPageRank(path.repartition(5), seeds, iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(r === r2)
  }

  test("HITS separates hubs from authorities and is partition-independent") {
    // bipartite: 0 and 2 point at {1, 3}; 0 also at 5. Pure hubs have
    // auth 0, pure authorities hub 0; the node with more in-links from
    // the stronger hub dominates authority
    val g = Seq((0L, 1L), (0L, 3L), (0L, 5L), (2L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val r = Graph.hits(g, iters = 2).as[(Long, Double, Double)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap
    for (hubNode <- Seq(0L, 2L)) assert(r(hubNode)._2 === 0.0, s"$hubNode is a pure hub")
    for (authNode <- Seq(1L, 3L, 5L)) assert(r(authNode)._1 === 0.0, s"$authNode is a pure authority")
    // 1 and 3 share both hubs; 5 only the weaker-normalized hub 0
    assert(r(1L)._2 === r(3L)._2)
    assert(r(1L)._2 > r(5L)._2)
    // L1 norms: hubs sum to 1, authorities sum to 1 (snap tolerance)
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-9)
    val r2 = Graph.hits(g.repartition(5), iters = 2)
      .as[(Long, Double, Double)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap
    assert(r === r2, "snapped sums must make scores layout-independent")
  }

  test("HITS with AQE off matches AQE on and keeps one round's raw tables") {
    // two hubs sharing authorities, a chain and a cycle: every node is
    // both a source and a target somewhere, so each round moves scores
    val g = Seq((0L, 1L), (0L, 3L), (0L, 5L), (2L, 1L), (2L, 3L), (3L, 4L),
      (4L, 6L), (6L, 3L), (5L, 7L), (7L, 0L)).toDF("src", "dst")
    def run() = Graph.hits(g, iters = 3).as[(Long, Double, Double)].collect().toSet
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(key)
    graft.util.Checkpoints.releaseAll(spark)
    try {
      spark.conf.set(key, "true")
      val on = run()
      graft.util.Checkpoints.releaseAll(spark)
      spark.conf.set(key, "false")
      val off = run()
      assert(off === on)
      // the edge table, the node table and ONE round's aRaw/hRaw — a loop
      // that kept every round would hold two more per round
      val held = spark.sparkContext.getPersistentRDDs.size
      assert(held <= 4, s"HITS left $held persisted RDDs")
    } finally {
      spark.conf.set(key, prior)
      graft.util.Checkpoints.releaseAll(spark)
    }
  }

  test("triangleCounts on K4 plus a pendant edge") {
    // K4 on 1..4 (4 triangles, every node in 3 of them); node 5 hangs off
    // node 1 and is in none. Duplicate + reversed + self edges must be
    // tolerated (canonicalized away).
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((1L, 5L), (5L, 1L), (2L, 1L), (3L, 3L)))
      .toDF("a", "b")
    val r = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // total triangle count = Σ per-node / 3
    assert(r.values.sum / 3 === 4L)
  }

  test("triangleCounts matches brute-force triple enumeration on random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 18
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.3
      } yield (a, b)).toSeq
      val got = Graph.triangleCounts(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      val eset = edges.toSet
      def adj(x: Long, y: Long) = eset.contains((math.min(x, y), math.max(x, y)))
      val want = (for {
        x <- 0L until n; y <- (x + 1) until n; z <- (y + 1) until n
        if adj(x, y) && adj(x, z) && adj(y, z)
      } yield Seq(x, y, z)).flatten
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got === want, s"trial $trial: degree orientation miscounted")
    }
  }

  test("triangleCounts is invariant to partitioning and zero on a tree") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("a", "b")
    val a = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    val b = Graph.triangleCounts(k4.repartition(7)).as[(Long, Long)].collect().toMap
    assert(a === b)
    val tree = Seq((1L, 2L), (1L, 3L), (3L, 4L), (3L, 5L)).toDF("a", "b")
    assert(Graph.triangleCounts(tree).count() === 0L)
  }

  test("label propagation recovers bridged cliques and is partition-invariant") {
    // two K4 cliques joined by one bridge edge: LPA must give each clique
    // one label, and the two labels must differ (CC would merge them)
    def k4(off: Long) =
      for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a + off, b + off)
    val edges = (k4(0) ++ k4(10) :+ (3L, 10L)).toDF("a", "b")
    val l = Graph.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    val cliqueA = (0L to 3L).map(l).distinct
    val cliqueB = (10L to 13L).map(l).distinct
    assert(cliqueA.size === 1, s"clique A split: $cliqueA")
    assert(cliqueB.size === 1, s"clique B split: $cliqueB")
    assert(cliqueA.head !== cliqueB.head, "bridge merged the communities")
    val rep = Graph.labelPropagation(edges.repartition(7), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(l === rep) // counts are longs, argmax is min_by — no float order
  }

  test("linkPredictJaccard: square graph, existing-edge exclusion, hub cap") {
    import org.apache.spark.sql.functions.col
    // square 1-2-4-3-1: the two diagonals (2,3) and (1,4) are the only
    // distance-2 pairs; each has 2 common neighbours, all degrees 2
    // -> jaccard = 2/(2+2-2) = 1.0
    val sq = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.linkPredictJaccard(sq, maxCenterDegree = 10L, minCommon = 2L)
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2))
    assert(r.toList === List((1L, 4L, 2L, 2L, 2L, 1.0), (2L, 3L, 2L, 2L, 2L, 1.0)))
    // an existing edge never surfaces as a prediction: close the (2,3)
    // diagonal and only (1,4) remains (now with cn=2 still, deg 3)
    val closed = sq.union(Seq((2L, 3L)).toDF("src", "dst"))
    val rc = Graph.linkPredictJaccard(closed, maxCenterDegree = 10L, minCommon = 2L)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rc.map(t => (t._1, t._2)).toSet === Set((1L, 4L)))
    // hub cap: a center above maxCenterDegree emits no wedges, but still
    // counts in the degree denominator of pairs witnessed elsewhere
    val hub = sq.union((1L to 6L).map(i => (100L, i * 10L + 1000L))
      .toDF("src", "dst"))
    val rh = Graph.linkPredictJaccard(hub, maxCenterDegree = 5L, minCommon = 2L)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // hub 100 (degree 6) is not a center -> its leaf pairs never appear
    assert(rh.forall(t => t._1 < 1000L && t._2 < 1000L))
  }

  test("richClub: triangle-with-pendant gives phi=1 among the club, drops k with <2 rich nodes") {
    // triangle {1,2,3} + pendant 4-1: degrees 1:3, 2:2, 3:2, 4:1
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = Graph.richClub(e, Seq(1, 2))
      .as[(Long, Long, Long, Double)].collect().toList
    // k=1: club {1,2,3}, all 3 undirected edges present -> phi = 6/(3*2) = 1
    // k=2: only node 1 qualifies -> dropped (phi undefined below 2 nodes)
    assert(r === List((1L, 3L, 6L, 1.0)))
    // partition invariance: histogram collapse is the corpus boundary
    val big = (1L to 2000L).map(i => (i % 97, (i * 31) % 89 + 100))
      .toDF("src", "dst")
    val x1 = Graph.richClub(big.repartition(1), Seq(2, 8, 32))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    val x17 = Graph.richClub(big.repartition(17), Seq(2, 8, 32))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(x1 === x17 && x1.nonEmpty)
  }

  test("landmarkCloseness: exact lcm-scaled reciprocals on a path graph") {
    // path 1-2-3-4-5, landmark {1}, 3 rounds: node 5 is out of reach
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val lm = Seq(Tuple1(1L)).toDF("lm")
    val r = Graph.landmarkCloseness(e, lm, rounds = 3)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r.keySet === Set(2L, 3L, 4L))
    assert(r(2L) === ((2L, 1L, 6L, 1.0)))
    assert(r(3L) === ((3L, 1L, 3L, 0.5)))
    assert(r(4L) === ((4L, 1L, 2L, 2.0 / 6.0)))
    // two landmarks: contributions sum; shortest distance wins per pair
    val lm2 = Seq(Tuple1(1L), Tuple1(5L)).toDF("lm")
    val r2 = Graph.landmarkCloseness(e, lm2, rounds = 3)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    // node 3: d=2 from both ends -> 3+3 = 6; node 2: 6 (from 1) + 2 (from 5)
    assert(r2(3L) === ((3L, 2L, 6L, 1.0)))
    assert(r2(2L) === ((2L, 2L, 8L, 8.0 / 6.0)))
  }

  test("bipartiteCheck: clean on an even cycle, odd-cycle witnesses on a triangle") {
    // C4: parity coloring works -> zero conflicts within the ball
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r4 = Graph.bipartiteCheck(c4, sourceNode = 1L, rounds = 3)
      .as[(Long, Long, Long, Boolean)].head()
    assert(r4 === ((4L, 8L, 0L, true)))
    // triangle: depths 0,1,1 -> the (2,3) edge shares parity, both ways
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val rt = Graph.bipartiteCheck(tri, sourceNode = 1L, rounds = 3)
      .as[(Long, Long, Long, Boolean)].head()
    assert(rt === ((3L, 6L, 2L, false)))
  }

  test("transitivity: 1 on a clique, 0 on a path, exact wedge accounting") {
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)).toDF("a","b")
    val r = Graph.transitivity(k4).as[(Long, Long, Double)].head()
    // K4: 4 triangles, every node degree 3 -> wedges_x2 = 24, phi = 1
    assert(r === ((4L, 24L, 1.0)))
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(Graph.transitivity(path).as[(Long, Long, Double)].head()
      === ((0L, 2L, 0.0)))
  }
}
