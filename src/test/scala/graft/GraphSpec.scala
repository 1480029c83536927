package graft

import graft.operators.Graph

/** Unit tests for the graph family beyond connected components:
  * PageRank's recurrence against hand computation, mass conservation on
  * dangling-free graphs, and the documented dangling-node leak. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("Loops.partitionsFor: at least 4, at most the session's shuffle partitions") {
    import graft.engine.Loops
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val r = Loops.RowsPerPartition
    try {
      spark.conf.set(key, "64")
      assert(Loops.partitionsFor(spark, 0L) === 4)
      assert(Loops.partitionsFor(spark, 4 * r) === 4)
      // ceiling division in between
      assert(Loops.partitionsFor(spark, 5 * r) === 5)
      assert(Loops.partitionsFor(spark, 5 * r + 1) === 6)
      assert(Loops.partitionsFor(spark, 1000 * r) === 64)
      // the session's partition count wins over the floor of 4
      spark.conf.set(key, "2")
      assert(Loops.partitionsFor(spark, 0L) === 2)
      assert(Loops.partitionsFor(spark, 1000 * r) === 2)
    } finally spark.conf.set(key, prev)
  }

  test("pageRank matches the hand-computed recurrence after one iteration") {
    // 1->2, 1->3, 2->3, 3->1; N=3, r0 = 1/3 each, deg(1)=2, deg(2)=deg(3)=1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r1 = Graph.pageRank(edges, "src", "dst", iterations = 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r1(1L) - (0.05 + 0.85 / 3)) < 1e-12) // mass from 3
    assert(math.abs(r1(2L) - (0.05 + 0.85 / 6)) < 1e-12) // half of 1's rank
    assert(math.abs(r1(3L) - (0.05 + 0.85 * 0.5)) < 1e-12) // 1's half + all of 2
    // dangling-free graph: total mass conserved at any horizon. Node 2
    // (one in-edge carrying HALF of 1's rank) stays lightest; 1 and 3
    // trade the lead through the 3->1 cycle (1 holds it at depth 5:
    // ~0.395 vs ~0.387).
    val r5 = Graph.pageRank(edges, "src", "dst", iterations = 5)
      .as[(Long, Double)].collect()
    assert(math.abs(r5.map(_._2).sum - 1.0) < 1e-9)
    val m = r5.toMap
    assert(m(1L) > m(2L) && m(3L) > m(2L))
  }

  test("pageRank collapses non-long keys BEFORE distinct (unit edges stay unit)") {
    // "1" and "1.0"-style inputs that equal only after the long cast
    // must collapse to ONE unit edge; casting after distinct would let
    // both survive and double the edge weight downstream (r8 advice)
    val stringEdges = Seq(("1", "2"), ("01", "2"), ("2", "1"))
      .toDF("src", "dst")
    val longEdges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = Graph.pageRank(stringEdges, "src", "dst", iterations = 3)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(longEdges, "src", "dst", iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(a === b)
  }

  test("dangling nodes leak mass by documented design") {
    // node 2 has no out-edges: its rank mass is dropped, not redistributed
    // (the operator doc states the trade and the normalized alternative)
    val r = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r(1L) - 0.075) < 1e-12)
    assert(math.abs(r(2L) - (0.075 + 0.85 * 0.5)) < 1e-12)
  }

  test("triangleCount: K4 has 4, a taped square has 2, noise ignored") {
    def count(edges: Seq[(Long, Long)]): Long =
      Graph.triangleCount(edges.toDF("src", "dst"), "src", "dst")
        .as[Long].head()
    // K4: every 3-subset is a triangle
    val k4 = for { i <- 0L to 3L; j <- 0L to 3L if i < j } yield (i, j)
    assert(count(k4) === 4L)
    // square + one diagonal = two triangles; reversed duplicates,
    // self-loops and a dangling pendant must not change the count
    val taped = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (3L, 1L), (2L, 1L), (2L, 2L), (4L, 9L))
    assert(count(taped) === 2L)
    // triangle-free: a star and a path
    assert(count(Seq((0L, 1L), (0L, 2L), (0L, 3L), (5L, 6L), (6L, 7L))) === 0L)
  }

  test("bfsHops: min hops, direction respected, depth cap, early stop, multi-seed") {
    // 1→2→3→4→5 (chain), 1→3 (shortcut), 9→1 (INTO the seed: must not
    // be followed backwards), 7→8 disconnected
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L),
      (9L, 1L), (7L, 8L)).toDF("src", "dst")
    def run(seeds: Seq[Long], cap: Int): Map[Long, Int] = {
      val out = Graph.bfsHops(edges, "src", "dst",
        seeds.toDF("seed"), "seed", cap)
        .as[(Long, Int)].collect().toMap
      graft.engine.Caches.releaseAll()
      out
    }
    // shortcut wins: 3 is at hop 1, not 2; 9 unreachable (wrong direction)
    assert(run(Seq(1L), 6) ===
      Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // depth cap truncates the frontier expansion
    assert(run(Seq(1L), 1) === Map(1L -> 0, 2L -> 1, 3L -> 1))
    // multi-seed: labels are the min over seeds; disconnected seed keeps
    // its own island
    assert(run(Seq(1L, 7L), 6) ===
      Map(1L -> 0, 7L -> 0, 2L -> 1, 3L -> 1, 8L -> 1, 4L -> 2, 5L -> 3))
    // seedless node set: a seed absent from the edge list is still hop 0
    assert(run(Seq(42L), 3) === Map(42L -> 0))
  }

  test("topoLayers: longest path wins on diamonds, sources at 0, cycle rejects") {
    // diamond 1→2→4, 1→3→4 plus a long arm 1→5→6→4: layer(4) must be
    // the LONGEST path (3 via the arm), not the shortest (2); 7→4 adds
    // a second source at layer 0
    val edges = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L),
      (1L, 5L), (5L, 6L), (6L, 4L), (7L, 4L)).toDF("src", "dst")
    val out = Graph.topoLayers(edges, "src", "dst")
      .as[(Long, Int)].collect().toMap
    graft.engine.Caches.releaseAll()
    assert(out === Map(1L -> 0, 7L -> 0, 2L -> 1, 3L -> 1, 5L -> 1,
      6L -> 2, 4L -> 3))
    // a cycle can never converge — bounded rounds throw instead of spin
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.topoLayers(cyc, "src", "dst", maxDepth = 10)
    }
    assert(e.getMessage.contains("cycle"))
    graft.engine.Caches.releaseAll()
  }

  test("labelPropagation separates bridged communities that CC merges") {
    // two triangles joined by ONE bridge edge: CC sees one component,
    // LPA keeps two communities — the property that matters when
    // near-dup clusters are bridged by a boilerplate false positive
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L)).toDF("src", "dst")
    val lp = Graph.labelPropagation(edges, "src", "dst", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(lp(0L) === lp(1L) && lp(1L) === lp(2L))
    assert(lp(3L) === lp(4L) && lp(4L) === lp(5L))
    assert(lp(0L) !== lp(3L), s"bridge must not merge communities: $lp")
    val cc = graft.operators.Dedup
      .connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size === 1, "CC merges across the bridge")
  }

  test("labelPropagation: cliques >=3 converge to min id, pairs resolve to self on an even budget") {
    val clique = Seq((10L, 11L), (10L, 12L), (11L, 12L), // triangle
      (20L, 21L)).toDF("src", "dst")                     // pair
    val lp = Graph.labelPropagation(clique, "src", "dst", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(lp(10L) === 10L && lp(11L) === 10L && lp(12L) === 10L)
    assert(lp(20L) === 20L && lp(21L) === 21L)
    // odd budgets are rejected: the 2-cycle would make results depend on parity
    intercept[IllegalArgumentException](
      Graph.labelPropagation(clique, "src", "dst", iterations = 3))
  }

  test("hits: star separates roles exactly; scores L1-normalize; converges on bipartite") {
    // star 0 -> {1,2,3}: node 0 is a pure hub, leaves pure authorities.
    // One iteration: auth = 1/3 each leaf (normalized), hub(0) = 1.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val one = Graph.hits(star, "src", "dst", iterations = 1)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(math.abs(one(0L)._1 - 1.0) < 1e-12 && one(0L)._2 === 0.0)
    Seq(1L, 2L, 3L).foreach { v =>
      assert(one(v)._1 === 0.0)
      assert(math.abs(one(v)._2 - 1.0 / 3) < 1e-12)
    }
    // L1 normalization: hubs and authorities each sum to 1
    val vals = Graph.hits(star, "src", "dst", iterations = 3)
      .as[(Long, Double, Double)].collect()
    assert(math.abs(vals.map(_._2).sum - 1.0) < 1e-9)
    assert(math.abs(vals.map(_._3).sum - 1.0) < 1e-9)
  }

  test("personalizedPageRank: rank concentrates at seeds; edge-less seed still teleports") {
    // two disconnected triangles; seeding one of them leaves the other
    // at EXACTLY zero (teleport never reaches it, unlike global PR)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val ppr = Graph.personalizedPageRank(edges, "src", "dst",
        Seq(0L).toDF("seed"), "seed", iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(ppr(0L) > 0 && ppr(1L) > 0)
    Seq(10L, 11L, 12L).foreach(v => assert(ppr(v) === 0.0))
    // hand-check one iteration: r0 = (1,0,0); r1(0) = 0.15,
    // r1(1) = 0.85 * (1/1) = 0.85 (0's single out-edge), r1(2) = 0
    val one = Graph.personalizedPageRank(
        Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"), "src", "dst",
        Seq(0L).toDF("seed"), "seed", iterations = 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(one(0L) - 0.15) < 1e-12)
    assert(math.abs(one(1L) - 0.85) < 1e-12)
    assert(one(2L) === 0.0)
    // a seed with no edges joins the node set and keeps teleport mass
    val lone = Graph.personalizedPageRank(
        Seq((5L, 6L)).toDF("src", "dst"), "src", "dst",
        Seq(99L).toDF("seed"), "seed", iterations = 2)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(lone(99L) - 0.15) < 1e-12 && lone(5L) === 0.0)
  }

  test("shortestPaths: min weight beats min hops; parallel-edge min; hop bound; reject negatives") {
    // 0 -> 1 -> 2 cheap (1+1), 0 -> 2 direct expensive (5):
    // weighted answer is 2 even though hops prefer the direct edge
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 5L),
      (0L, 2L, 7L),                      // parallel edge: min wins
      (2L, 3L, 1L), (9L, 9L, 1L))        // 9 unreachable from 0
      .toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("seed")
    val d = Graph.shortestPaths(edges, "src", "dst", "w", seeds, "seed", 6)
      .as[(Long, Long)].collect().toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // a hop bound of 1 can only afford the direct (parallel-min) edge
    val d1 = Graph.shortestPaths(edges, "src", "dst", "w", seeds, "seed", 1)
      .as[(Long, Long)].collect().toMap
    assert(d1 === Map(0L -> 0L, 1L -> 1L, 2L -> 5L))
    intercept[IllegalArgumentException](Graph.shortestPaths(
      Seq((0L, 1L, -1L)).toDF("src", "dst", "w"),
      "src", "dst", "w", seeds, "seed", 2))
    // hop bound 0: seeds only, at distance 0
    val d0 = Graph.shortestPaths(edges, "src", "dst", "w", seeds, "seed", 0)
      .as[(Long, Long)].collect().toMap
    assert(d0 === Map(0L -> 0L))
    // a seed absent from the edge list still reports distance 0
    val lone = Graph.shortestPaths(edges, "src", "dst", "w",
        Seq(42L).toDF("seed"), "seed", 3)
      .as[(Long, Long)].collect().toMap
    assert(lone === Map(42L -> 0L))
  }

  test("shortestPaths weight typing: scale-0 decimals accepted, fractional rejected") {
    val seeds = Seq(0L).toDF("seed")
    // DECIMAL(10,0) weights are exact integers (aggregate-derived
    // weights often arrive as decimals) — accepted, same distances
    val dec = Seq((0L, 1L, "2"), (1L, 2L, "3")).toDF("src", "dst", "s")
      .withColumn("w", org.apache.spark.sql.functions.col("s").cast("decimal(10,0)")).drop("s")
    val d = Graph.shortestPaths(dec, "src", "dst", "w", seeds, "seed", 3)
      .as[(Long, Long)].collect().toMap
    assert(d === Map(0L -> 0L, 1L -> 2L, 2L -> 5L))
    // fractional carriers are rejected (silent truncation would return
    // wrong distances), whatever the values
    val dbl = Seq((0L, 1L, 2.0)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException](
      Graph.shortestPaths(dbl, "src", "dst", "w", seeds, "seed", 2))
    val dec1 = Seq((0L, 1L, "2.5")).toDF("src", "dst", "s")
      .withColumn("w", org.apache.spark.sql.functions.col("s").cast("decimal(10,1)")).drop("s")
    intercept[IllegalArgumentException](
      Graph.shortestPaths(dec1, "src", "dst", "w", seeds, "seed", 2))
  }

  test("coreness: path 1, cycle 2, clique n-1; star collapses to 1") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graph.coreness(path, "src", "dst")
      .as[(Long, Int)].collect().toMap.values.toSet === Set(1))
    val cycle = (0L to 4L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
    assert(Graph.coreness(cycle, "src", "dst")
      .as[(Long, Int)].collect().toMap.values.toSet === Set(2))
    val k4 = (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j))
      .toDF("src", "dst")
    assert(Graph.coreness(k4, "src", "dst")
      .as[(Long, Int)].collect().toMap.values.toSet === Set(3))
    val star = (1L to 6L).map(l => (0L, l)).toDF("src", "dst")
    val s = Graph.coreness(star, "src", "dst").as[(Long, Int)].collect().toMap
    assert(s.values.toSet === Set(1), s"center peels with its leaves: $s")
  }

  test("coreness: a capped run returns exact upper bounds, never an undercount") {
    // a long path converges slowly (the 1-estimate propagates inward one
    // hop per round), so a tight cap stops short: the capped estimates
    // must still be elementwise >= the true coreness (H-index iteration
    // is non-increasing from degree, lower-bounded by the fixpoint) and
    // somewhere STRICTLY greater — proving the cap actually bit, which
    // is what the stderr cap-exhaustion signal reports
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val capped = Graph.coreness(path, "src", "dst", maxRounds = 1)
      .as[(Long, Int)].collect().toMap
    val exact = Graph.coreness(path, "src", "dst")
      .as[(Long, Int)].collect().toMap
    assert(exact.values.toSet === Set(1))
    assert(capped.keySet === exact.keySet)
    capped.foreach { case (id, c) => assert(c >= exact(id), s"vertex $id") }
    assert(capped.values.exists(_ > 1), "cap did not bite; deepen the chain")
  }

  test("coreness: a bridge and a tail do not inflate the cores they touch") {
    // K4 (core 3) -bridge- triangle (core 2) with a pendant tail (core 1):
    // the bridge endpoints keep their own core, the tail vertex gets 1
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val tri = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val edges = (k4 ++ tri ++ Seq((3L, 10L), (12L, 20L))).toDF("src", "dst")
    val c = Graph.coreness(edges, "src", "dst").as[(Long, Int)].collect().toMap
    assert((0L to 3L).forall(c(_) === 3))
    assert(Seq(10L, 11L, 12L).forall(c(_) === 2))
    assert(c(20L) === 1)
    // kCore(2) drops exactly the tail
    val core2 = Graph.kCore(edges, "src", "dst", 2)
      .as[Long].collect().toSet
    assert(core2 === (0L to 3L).toSet ++ Set(10L, 11L, 12L))
  }

  test("coreness: direction-independent, self-loops and duplicate edges ignored") {
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val messy = (tri ++ tri.map(_.swap) ++ Seq((0L, 0L), (1L, 1L)))
      .toDF("src", "dst")
    val c = Graph.coreness(messy, "src", "dst").as[(Long, Int)].collect().toMap
    assert(c === Map(0L -> 2, 1L -> 2, 2L -> 2))
  }

  test("hierarchyRollup: depth products, diamond paths SUM, round cap truncates") {
    // tree: 3 -(2)-> 1, 4 -(3)-> 1, 1 -(5)-> 0
    // diamond: 10 -(1)-> 8 -(3)-> 7 and 10 -(2)-> 9 -(4)-> 7
    val edges = Seq(
      (3L, 1L, 2L), (4L, 1L, 3L), (1L, 0L, 5L),
      (10L, 8L, 1L), (10L, 9L, 2L), (8L, 7L, 3L), (9L, 7L, 4L))
      .toDF("child", "parent", "qty")
    val got = Graph.hierarchyRollup(edges, "child", "parent", "qty")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // depth-2 products through the tree
    assert(got((0L, 3L)) === 10L && got((0L, 4L)) === 15L)
    assert(got((1L, 3L)) === 2L && got((0L, 1L)) === 5L)
    // the diamond's two 10->7 paths sum: 1*3 + 2*4 = 11
    assert(got((7L, 10L)) === 11L)
    assert(got.size === 10)
    // a 1-round cap keeps only direct edges — deeper pairs are absent
    val capped = Graph.hierarchyRollup(edges, "child", "parent", "qty",
      maxRounds = 1).as[(Long, Long, Long)].collect()
    assert(capped.length === 7 &&
      !capped.exists(r => r._1 == 0L && r._2 == 3L))
    graft.engine.Caches.releaseAll()
  }

  test("assortativity: star -1, path sign, regular null, dedup invariance") {
    def run(edges: Seq[(Long, Long)]) =
      Graph.assortativity(edges.toDF("src", "dst"), "src", "dst")
        .collect().head
    // star K1,4: maximally disassortative, exactly -1
    val star = run(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    assert(star.getLong(0) === 4L)
    assert(star.getLong(3) === -1000L && star.getDouble(4) === -1.0)
    // path P4: degrees 1,2,2,1 -> r = -4/8 = -0.5 (toward-zero milli)
    val path = run(Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    assert(path.getLong(3) === -500L && path.getDouble(4) === -0.5)
    // 4-cycle: every degree equal -> zero variance, r undefined
    val cyc = run(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)))
    assert(cyc.getLong(2) === 0L && cyc.isNullAt(3) && cyc.isNullAt(4))
    // duplicate edges, reversed orientation and self-loops are ignored
    val noisy = run(Seq((0L, 1L), (1L, 0L), (0L, 2L), (0L, 2L),
      (0L, 3L), (0L, 4L), (2L, 2L)))
    assert(noisy.getLong(0) === 4L && noisy.getLong(3) === -1000L)
    graft.engine.Caches.releaseAll()
  }

  test("reciprocity: mutual pairs count both ways, DAG zero, dedup invariance") {
    def run(edges: Seq[(Long, Long)]) =
      Graph.reciprocity(edges.toDF("src", "dst"), "src", "dst")
        .collect().head
    val mixed = run(Seq((0L, 1L), (1L, 0L), (1L, 2L)))
    assert((mixed.getLong(0), mixed.getLong(1), mixed.getLong(2))
      === ((3L, 2L, 666L)))
    // a DAG has no mutual edge anywhere
    val dag = run(Seq((0L, 1L), (1L, 2L), (0L, 2L)))
    assert(dag.getLong(1) === 0L && dag.getLong(2) === 0L)
    // duplicate edges and self-loops never shift the rate
    val noisy = run(Seq((0L, 1L), (0L, 1L), (1L, 0L), (1L, 2L), (2L, 2L)))
    assert((noisy.getLong(0), noisy.getLong(1)) === ((3L, 2L)))
    graft.engine.Caches.releaseAll()
  }

  test("clusteringCoefficient: clique 1000, star zero, corner credit, isolated pair") {
    def run(edges: Seq[(Long, Long)]) =
      Graph.clusteringCoefficient(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // K4: every node closes all 3 of its neighbor pairs
    val k4 = run(Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L)))
    assert(k4.size === 4)
    assert(k4.values.forall(_ === ((3L, 3L, 1000L))))
    // triangle + pendant: the bridge node dilutes to 1/3, the pure
    // triangle corners stay 1000, the pendant has no wedge
    val tp = run(Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L)))
    assert(tp(0L) === ((3L, 1L, 333L)))
    assert(tp(1L) === ((2L, 1L, 1000L)) && tp(2L) === ((2L, 1L, 1000L)))
    assert(tp(3L) === ((1L, 0L, 0L)))
    // star: no closed wedge anywhere; isolated pair: degree-1 zeros
    val star = run(Seq((0L, 1L), (0L, 2L), (0L, 3L), (4L, 5L)))
    assert(star(0L) === ((3L, 0L, 0L)))
    assert(star(4L) === ((1L, 0L, 0L)) && star(5L) === ((1L, 0L, 0L)))
    graft.engine.Caches.releaseAll()
  }

  test("linkFeatures: hand wedge/square features, cap exclusion, edge labels") {
    def run(edges: Seq[(Long, Long)], cap: Int = 10000) =
      Graph.linkFeatures(edges.toDF("src", "dst"), "src", "dst", cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(5), r.getLong(6), r.getBoolean(7)))
        .toMap
    // triangle 0-1-2 with pendant 3 on 0
    val tri = run(Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L)))
    // (1,2): 1 shared (node 0), an existing edge, jaccard 1/(2+2-1)
    assert(tri((1L, 2L)) === ((1L, 4L, 333L, true)))
    // (0,2) and (0,1): edges with one shared neighbor each
    assert(tri((0L, 2L)) === ((1L, 6L, 250L, true)))
    assert(tri((0L, 1L)) === ((1L, 6L, 250L, true)))
    // (1,3)/(2,3): distance-2 candidates, never connected
    assert(tri((1L, 3L)) === ((1L, 2L, 500L, false)))
    assert(tri((2L, 3L)) === ((1L, 2L, 500L, false)))
    assert(tri.size === 5)
    // 4-cycle: the two diagonals share BOTH their neighbors
    val sq = run(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)))
    assert(sq === Map((0L, 2L) -> ((2L, 4L, 1000L, false)),
      (1L, 3L) -> ((2L, 4L, 1000L, false))))
    // a capped hub stops centering wedges: the star yields nothing
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    assert(run(star).keySet ===
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(run(star, cap = 2).isEmpty)
    intercept[IllegalArgumentException](
      Graph.linkFeatures(star.toDF("src", "dst"), "src", "dst", 0))
    graft.engine.Caches.releaseAll()
  }

  test("cycleNodes: DAG all-false, ring, self-loop, bridge between cycles") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)]): Map[Long, Boolean] =
      Graph.cycleNodes(edges.toDF("s", "d"), "s", "d").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // pure DAG: a diamond — nothing reaches itself
    assert(run(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
      .forall(!_._2))
    // a 3-ring plus a dangling tail: ring true, tail false
    val ring = run(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 9L)))
    assert(ring(1L) && ring(2L) && ring(3L) && !ring(9L))
    // self-loop is a cycle by definition
    assert(run(Seq((5L, 5L), (5L, 6L)))(5L) === true)
    // a node BRIDGING two cycles lies between them, not ON one
    val bridge = run(Seq((1L, 2L), (2L, 1L), (2L, 5L), (5L, 3L),
      (3L, 4L), (4L, 3L)))
    assert(bridge(1L) && bridge(2L) && bridge(3L) && bridge(4L))
    assert(!bridge(5L))
    graft.engine.Caches.releaseAll()
  }

  test("robustnessReport: star collapse, ring resilience, hub tie-break") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)], k: Int) =
      Graph.robustnessReport(edges.toDF("s", "d"), "s", "d", k)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // star(0; 1..5) + disjoint edge (10,11): removing the hub strands
    // the leaves (they leave the edge universe); the edge survives
    val star = run(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L),
      (0L, 5L), (10L, 11L)), 1)
    assert(star("full") === ((8L, 2L, 6L)))
    assert(star("dehubbed") === ((2L, 1L, 2L)))
    // 5-ring: every node degree 2; removing one leaves a path
    val ring = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 1L)), 1)
    assert(ring("full") === ((5L, 1L, 5L)))
    assert(ring("dehubbed") === ((4L, 1L, 4L)))
    // two equal-degree stars: the tie breaks to the LOWER center id,
    // so star 100 survives intact
    val two = run(Seq((0L, 1L), (0L, 2L), (0L, 3L),
      (100L, 101L), (100L, 102L), (100L, 103L)), 1)
    assert(two("full") === ((8L, 2L, 4L)))
    assert(two("dehubbed") === ((4L, 1L, 4L)))
    graft.engine.Caches.releaseAll()
  }

  test("stronglyConnected: cycle+tail, disjoint cycles, DAG, nested peel") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.stronglyConnected(edges.toDF("s", "d"), "s", "d").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2-cycle with a tail: {1,2} label 1, tail node singleton
    assert(run(Seq((1L, 2L), (2L, 1L), (2L, 3L)))
      === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // disjoint cycles of different sizes
    assert(run(Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 7L), (7L, 5L)))
      === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
    // pure DAG: every node its own SCC
    assert(run(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
      === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // needs a SECOND peel round: SCC {2,3} is reachable from 1 but
    // cannot reach it, so F(2)=1 != B(2)=2 until node 1 peels
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 2L)))
      === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    // two mutually-unreachable cycles bridged through a middle node
    // (the cycleNodes bridge case): three separate SCCs
    assert(run(Seq((1L, 2L), (2L, 1L), (2L, 5L), (5L, 3L),
      (3L, 4L), (4L, 3L)))
      === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 3L -> 3L, 4L -> 3L))
    graft.engine.Caches.releaseAll()
  }

  test("richClub: clique core rises to 1000, star has no club, " +
      "empty-club fence, duplicate collapse") {
    import spark.implicits._
    // K4 on {1,2,3,4} + two leaves on node 1: degs (5,3,3,3,1,1)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (1L, 6L))
    val got = Graph.richClub(k4.toDF("s", "d"), "s", "d", Seq(0, 1, 3))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got(0) === ((6L, 8L, 533L)))   // whole graph density
    assert(got(1) === ((4L, 6L, 1000L)))  // the clique core is complete
    assert(got(3) === ((1L, 0L, -1L)))    // club of one: fenced NULL
    // star: above the leaves only the center remains -> no club
    val star = Graph.richClub((1L to 5L).map(l => (0L, l)).toDF("s", "d"),
      "s", "d", Seq(0, 1)).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(star(0) === 6L && star(1) === 1L)
    // duplicate / reversed edges collapse before any counting
    val dup = Graph.richClub((k4 ++ Seq((2L, 1L), (1L, 2L)))
      .toDF("s", "d"), "s", "d", Seq(1)).collect().head
    assert((dup.getLong(1), dup.getLong(2), dup.getLong(3))
      === ((4L, 6L, 1000L)))
    graft.engine.Caches.releaseAll()
  }

  test("diameterSweep: path exactness, star, disconnected confinement, " +
      "tie to smallest id") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)]) =
      Graph.diameterSweep(edges.toDF("s", "d"), "s", "d").collect().head
    // path 0-1-2-3-4: double sweep is EXACT on trees
    val path = run(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
    assert((path.getLong(0), path.getLong(1), path.getInt(2),
      path.getLong(3), path.getInt(4), path.getLong(5))
      === ((0L, 4L, 4, 0L, 4, 5L)))
    // star around 0: ecc(0)=1, peripheral leaf 1, diameter 2
    val star = run((1L to 5L).map(l => (0L, l)))
    assert((star.getLong(0), star.getLong(1), star.getInt(2),
      star.getInt(4)) === ((0L, 1L, 1, 2)))
    assert(star.getLong(3) === 2L) // far node: smallest other leaf
    // disconnected: the sweep stays in the min-id component
    val disc = run(Seq((0L, 1L), (10L, 11L), (11L, 12L)))
    assert((disc.getLong(0), disc.getInt(2), disc.getLong(5))
      === ((0L, 1, 2L)))
    // triangle: every ecc 1, ties break to the smallest id
    val tri = run(Seq((0L, 1L), (1L, 2L), (2L, 0L)))
    assert((tri.getLong(1), tri.getInt(2), tri.getLong(3),
      tri.getInt(4)) === ((1L, 1, 0L, 1)))
    graft.engine.Caches.releaseAll()
  }

  test("stronglyConnected: deep chain into a cycle drains through trim " +
      "within the default round budget") {
    import spark.implicits._
    // a 64-deep chain (ids 10..74) feeding a 3-cycle {1,2,3}: without
    // the trim pre-pass, FW-BW peels ONE chain node per outer round
    // (F = chain head, B = 1 via the cycle, equal only at the head)
    // and blows the default maxRounds = 30; trim drains the acyclic
    // periphery in cheap rounds instead
    val chain = (10L until 74L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((74L, 1L), (1L, 2L), (2L, 3L), (3L, 1L)))
      .toDF("s", "d")
    val got = Graph.stronglyConnected(edges, "s", "d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 68)
    (10L to 74L).foreach(i => assert(got(i) === i)) // chain: singletons
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    graft.engine.Caches.releaseAll()
  }

  test("modularity: two-triangle bridge hand values, trivial partition " +
      "zero, negative singletons, unlabeled fallback") {
    import spark.implicits._
    // two triangles {0,1,2} and {3,4,5} joined by the bridge 2-3:
    // m = 7, per-triangle e_c = 3, d_c = 7, num = 4·7·3 − 49 = 35,
    // dq_micro = 35e6 div 196 = 178571 each, Q_micro = 357142 (5/14)
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 3L)).toDF("s", "d")
    val two = Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L),
      (5L, 20L)).toDF("id", "lbl")
    val got = Graph.modularity(edges, "s", "d", two, "id", "lbl")
      .orderBy("label").collect()
    assert(got.length === 2)
    got.foreach { r =>
      assert(r.getAs[Long]("n_nodes") === 3L)
      assert(r.getAs[Long]("e_in") === 3L)
      assert(r.getAs[Long]("d_c") === 7L)
      assert(r.getAs[Long]("dq_micro") === 178571L)
      assert(r.getAs[Long]("q_micro") === 357142L)
    }
    // the trivial one-community partition scores EXACTLY zero
    // (e = m and d = 2m cancel)
    val one = (0L to 5L).map(i => (i, 99L)).toDF("id", "lbl")
    val flat = Graph.modularity(edges, "s", "d", one, "id", "lbl").collect()
    assert(flat.length === 1 && flat(0).getAs[Long]("q_micro") === 0L)
    // all-singleton partition: every term is −d²·1e6 div 196
    val solo = (0L to 5L).map(i => (i, i)).toDF("id", "lbl")
    val neg = Graph.modularity(edges, "s", "d", solo, "id", "lbl")
      .collect().map(r => r.getAs[Long]("label") -> r.getAs[Long]("dq_micro"))
      .toMap
    assert(neg(0L) === -20408L && neg(2L) === -45918L)
    // a node missing from labels falls back to its own id
    val part = Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("id", "lbl")
    val fb = Graph.modularity(edges, "s", "d", part, "id", "lbl")
      .collect().map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("e_in"),
          r.getAs[Long]("d_c"))).toMap
    assert(fb(5L) === ((1L, 0L, 2L)))
    assert(fb(20L) === ((2L, 1L, 5L)))
    graft.engine.Caches.releaseAll()
  }

  test("eigenvectorCentrality: clique uniform, triangle-pendant hand " +
      "values, L1 invariant, bipartite oscillation") {
    import spark.implicits._
    // 4-clique: full symmetry — every round stays uniform 0.25
    val k4 = (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j))
      .toDF("s", "d")
    Graph.eigenvectorCentrality(k4, "s", "d", 3)
      .as[(Long, Double)].collect()
      .foreach { case (_, x) => assert(math.abs(x - 0.25) < 1e-12) }
    // triangle {0,1,2} with pendant 3 on node 0: exact rationals —
    // x1 = (3,2,2,1)/8, x2 = (5,5,5,3)/18, x3 = (13,10,10,5)/38
    val tp = Seq((0L, 1L), (1L, 2L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val x3 = Graph.eigenvectorCentrality(tp, "s", "d", 3)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(x3(0L) - 13.0 / 38) < 1e-12)
    assert(math.abs(x3(1L) - 10.0 / 38) < 1e-12)
    assert(math.abs(x3(2L) - 10.0 / 38) < 1e-12)
    assert(math.abs(x3(3L) - 5.0 / 38) < 1e-12)
    assert(math.abs(x3.values.sum - 1.0) < 1e-12) // L1 invariant
    // bipartite star: the iteration OSCILLATES with period 2 (the
    // documented caveat) — odd depths peak the center, even depths
    // return to uniform
    val star = (1L to 4L).map(l => (0L, l)).toDF("s", "d")
    val s1 = Graph.eigenvectorCentrality(star, "s", "d", 1)
      .as[(Long, Double)].collect().toMap
    val s2 = Graph.eigenvectorCentrality(star, "s", "d", 2)
      .as[(Long, Double)].collect().toMap
    val s3 = Graph.eigenvectorCentrality(star, "s", "d", 3)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(s1(0L) - 0.5) < 1e-12 && math.abs(s1(1L) - 0.125) < 1e-12)
    s2.values.foreach(x => assert(math.abs(x - 0.2) < 1e-12))
    assert(math.abs(s3(0L) - 0.5) < 1e-12)
    graft.engine.Caches.releaseAll()
  }

  test("degreeTailAlpha: hand path tail, dmin cut, direction and " +
      "duplicate-edge invariance, empty-tail fence") {
    import spark.implicits._
    // path 0-1-2-3-4: degrees (1,2,2,2,1); tail d >= 2 is three nodes
    // at degree 2 -> alpha = 1 + 3/(3·ln(4/3)) via the micro contract
    val path = (0L until 4L).map(i => (i, i + 1)).toDF("s", "d")
    val r = Graph.degreeTailAlpha(path, "s", "d").collect().head
    val term = math.floor((math.log(4.0) - math.log(3.0)) * 1e6 + 0.5)
      .toLong
    assert(r.getLong(0) === 2L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 3L * term)
    assert(r.getLong(3) === 1000L + 3000000000L / (3L * term))
    // direction + duplicate edges do not change degrees
    val messy = ((0L until 4L).map(i => (i + 1, i)) ++ Seq((0L, 1L)))
      .toDF("s", "d")
    assert(Graph.degreeTailAlpha(messy, "s", "d").collect().head
      .getLong(3) === r.getLong(3))
    // the cut excludes sub-dmin nodes: dMin 3 on the path empties the
    // tail -> NULL estimator
    val e = Graph.degreeTailAlpha(path, "s", "d", dMin = 3L)
      .collect().head
    assert(e.isNullAt(1) && e.isNullAt(3))
    graft.engine.Caches.releaseAll()
  }

  test("rootPaths: branch coverage, dangling-parent root, single node, " +
      "truncation flag") {
    import spark.implicits._
    // chain 1-2-3 branching at 3 into {4, 5}; isolated 9; 10's parent
    // is ABSENT (dangling -> root) with child 11
    val nodes = Seq(
      (1L, Option.empty[Long], "a"), (2L, Some(1L), "b"),
      (3L, Some(2L), "c"), (4L, Some(3L), "d"), (5L, Some(3L), "e"),
      (9L, Option.empty[Long], "z"),
      (10L, Some(99L), "x"), (11L, Some(10L), "y"))
      .toDF("id", "parent", "txt")
    val full = Graph.rootPaths(nodes, "id", "parent", "txt")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(full === Map(
      4L -> ((4, "a | b | c | d", false)),
      5L -> ((4, "a | b | c | e", false)),
      9L -> ((1, "z", false)),
      11L -> ((2, "x | y", false))))
    // a depth cap emits still-open paths flagged, not silently dropped
    val capped = Graph.rootPaths(nodes, "id", "parent", "txt",
      maxDepth = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(capped(9L) === ((1, "z", false)))
    assert(capped(11L) === ((2, "x | y", false)))
    assert(capped(2L) === ((2, "a | b", true)))
    assert(!capped.contains(4L) && !capped.contains(5L))
    graft.engine.Caches.releaseAll()
  }

  test("rootPaths: parent-pointer cycles emit flagged orphans, never " +
      "vanish; truncated descendants are NOT orphans") {
    import spark.implicits._
    // healthy tree 1->2; corrupt cycle 6<->7 with child 8 hanging off 7
    val nodes = Seq(
      (1L, Option.empty[Long], "a"), (2L, Some(1L), "b"),
      (6L, Some(7L), "p"), (7L, Some(6L), "q"), (8L, Some(7L), "r"))
      .toDF("id", "parent", "txt")
    val full = Graph.rootPaths(nodes, "id", "parent", "txt")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(full === Map(
      2L -> ((2, "a | b", false)),
      6L -> ((0, "p", true)),   // depth 0 = the orphan sentinel
      7L -> ((0, "q", true)),
      8L -> ((0, "r", true))))
    // a deep chain cut by maxDepth: nodes below the cut are reachable
    // (the truncated row flags the loss) and must NOT read as orphans
    val chain = Seq(
      (1L, Option.empty[Long], "a"), (2L, Some(1L), "b"),
      (3L, Some(2L), "c"), (4L, Some(3L), "d"))
      .toDF("id", "parent", "txt")
    val capped = Graph.rootPaths(chain, "id", "parent", "txt",
      maxDepth = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(3)))).toMap
    assert(capped === Map(2L -> ((2, true))))
    graft.engine.Caches.releaseAll()
  }

  test("kTruss: clique survives, pendant triangle cascades out at k=4, " +
      "lone triangle is a 3-truss, direction/self-loop invariance") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val clique = for (i <- 0L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val cycle = (0L to 9L).map(i => (10L + i, 10L + (i + 1) % 10))
    val pendant = Seq((0L, 40L), (1L, 40L))
    val edges = (clique ++ cycle ++ pendant).toDF("s", "d")
    // k=4: cycle support 0 (no triangles), pendant edges support 1 —
    // removed; the shared clique edge (0,1) drops 5 -> 4, still >= 2
    assert(pairs(Graph.kTruss(edges, "s", "d", 4)) === clique.toSet)
    // the pendant triangle IS a 3-truss member (support 1 >= 1)
    assert(pairs(Graph.kTruss(edges, "s", "d", 3))
      === clique.toSet ++ pendant ++ Seq((0L, 1L)))
    // k=2: every distinct edge survives (support floor 0; canonical a<b)
    assert(pairs(Graph.kTruss(edges, "s", "d", 2))
      === (clique ++ cycle ++ pendant)
        .map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet)
    // direction/duplicate/self-loop invariance
    val messy = edges.select($"d".as("s"), $"s".as("d"))
      .union(edges).union(Seq((3L, 3L)).toDF("s", "d"))
    assert(pairs(Graph.kTruss(messy, "s", "d", 4)) === clique.toSet)
    graft.engine.Caches.releaseAll()
  }

  test("harmonicCentrality: path harmonic numbers, star closed form, " +
      "disconnected zeros, k-subset sources") {
    import spark.implicits._
    // path 0-1-2-3-4, all sources: terms (2e6+d) div (2d)
    val path = (0L to 3L).map(i => (i, i + 1)).toDF("s", "d")
    val p = Graph.harmonicCentrality(path, "s", "d", k = 5)
      .as[(Long, Long)].collect().toMap
    assert(p === Map(
      0L -> (1000000L + 500000L + 333333L + 250000L),
      1L -> (2000000L + 500000L + 333333L),
      2L -> (2000000L + 1000000L),
      3L -> (2000000L + 500000L + 333333L),
      4L -> (1000000L + 500000L + 333333L + 250000L)))
    // star: center sees 4 at d=1; each leaf 1 + 3 at d=2
    val star = (1L to 4L).map(l => (0L, l)).toDF("s", "d")
    val st = Graph.harmonicCentrality(star, "s", "d", k = 5)
      .as[(Long, Long)].collect().toMap
    assert(st(0L) === 4000000L && (1L to 4L).forall(st(_) === 2500000L))
    // two disconnected pairs: only the in-component source counts
    val disc = Seq((0L, 1L), (10L, 11L)).toDF("s", "d")
    val dc = Graph.harmonicCentrality(disc, "s", "d", k = 4)
      .as[(Long, Long)].collect().toMap
    assert(dc === Map(0L -> 1000000L, 1L -> 1000000L,
      10L -> 1000000L, 11L -> 1000000L))
    // k = 2 on the 0-1-2 path: sources {0, 1} only
    val p3 = Seq((0L, 1L), (1L, 2L)).toDF("s", "d")
    val sub = Graph.harmonicCentrality(p3, "s", "d", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(sub === Map(0L -> 1000000L, 1L -> 1000000L,
      2L -> 1500000L))
    graft.engine.Caches.releaseAll()
  }

  test("louvainMove: hand sweep values with the smallest-label tie " +
      "rule, strict Q improvement, stay-put on an optimal partition") {
    import spark.implicits._
    // two triangles bridged at 3-4, singleton start; hand argmax:
    // m = 7, scores 2m·k − d_v·d_c; node 3 ties {1,2} at 8 → 1,
    // node 4 ties {5,6} at 8 → 5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("s", "d")
    val init = (1L to 6L).map(i => (i, i))
    val mv = Graph.louvainMove(edges, "s", "d", init.toDF("id", "lbl"),
      "id", "lbl").as[(Long, Long)].collect().toMap
    assert(mv === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 6L,
      6L -> 5L))
    def q(lab: Seq[(Long, Long)]): Long =
      Graph.modularity(edges, "s", "d", lab.toDF("id", "lbl"),
        "id", "lbl").select("q_micro").collect().head.getLong(0)
    assert(q(mv.toSeq) > q(init))
    // an already-optimal two-triangle partition: every node's only
    // candidate is its own community — nobody moves
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L)).toDF("s", "d")
    val opt = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L))
    val stay = Graph.louvainMove(tri, "s", "d", opt.toDF("id", "lbl"),
      "id", "lbl").as[(Long, Long)].collect().toMap
    assert(stay === opt.toMap)
    graft.engine.Caches.releaseAll()
  }

  test("betweenness: path closed form, star center, diamond sigma " +
      "split, k-subset sources") {
    import spark.implicits._
    // path 0-1-2-3-4, all sources: bc(i) = 2·i·(4−i) ordered pairs
    val path = (0L to 3L).map(i => (i, i + 1)).toDF("s", "d")
    val p = Graph.betweenness(path, "s", "d", k = 5)
      .as[(Long, Double)].collect().toMap
    assert(p === Map(0L -> 0.0, 1L -> 6.0, 2L -> 8.0, 3L -> 6.0,
      4L -> 0.0))
    // star: all 12 ordered leaf pairs route through the center
    val star = (1L to 4L).map(l => (0L, l)).toDF("s", "d")
    val st = Graph.betweenness(star, "s", "d", k = 5)
      .as[(Long, Double)].collect().toMap
    assert(st(0L) === 12.0 && (1L to 4L).forall(st(_) === 0.0))
    // diamond 0-1/0-2/1-3/2-3: two shortest paths per far pair split
    // the dependency — every node lands on exactly 1.0
    val dia = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    val dm = Graph.betweenness(dia, "s", "d", k = 4)
      .as[(Long, Double)].collect().toMap
    assert(dm === Map(0L -> 1.0, 1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
    // k < |V|: only sources {0, 1} traverse the 0-1-2 path — the lone
    // contribution is s = 0's pair (0, 2) through node 1
    val p3 = Seq((0L, 1L), (1L, 2L)).toDF("s", "d")
    val sub = Graph.betweenness(p3, "s", "d", k = 2)
      .as[(Long, Double)].collect().toMap
    assert(sub === Map(0L -> 0.0, 1L -> 1.0, 2L -> 0.0))
    graft.engine.Caches.releaseAll()
  }

  test("katzCentrality: path hand values, star floor, small-alpha " +
      "degree limit") {
    import spark.implicits._
    // path 1→2→3 at α = 0.1, β = 1: x2 = (1, 1.1, 1.11) — node 3
    // earns the 2-hop walk's attenuated credit
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val p = Graph.katzCentrality(path, "s", "d", 2)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(p(1L) - 1.0) < 1e-12)
    assert(math.abs(p(2L) - 1.1) < 1e-12)
    assert(math.abs(p(3L) - 1.11) < 1e-12)
    // star leaves→center: center 1 + 4α, leaves keep the β floor
    // (eigenvector centrality would zero the source-only leaves)
    val star = (1L to 4L).map(l => (l, 0L)).toDF("s", "d")
    val st = Graph.katzCentrality(star, "s", "d", 3)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(st(0L) - 1.4) < 1e-12)
    (1L to 4L).foreach(l => assert(math.abs(st(l) - 1.0) < 1e-12))
    // α → 0: (x − β)/(αβ) after one round recovers the in-degree
    val g = Seq((1L, 2L), (3L, 2L), (1L, 3L)).toDF("s", "d")
    val tiny = Graph.katzCentrality(g, "s", "d", 1, alpha = 1e-9)
      .as[(Long, Double)].collect().toMap
    assert(math.abs((tiny(2L) - 1.0) / 1e-9 - 2.0) < 1e-3)
    assert(math.abs((tiny(3L) - 1.0) / 1e-9 - 1.0) < 1e-3)
    graft.engine.Caches.releaseAll()
  }
}
