package graft

import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {

  test("pageRank matches an independent local reference on a known graph") {
    import spark.implicits._
    // 5 nodes; node 4 is a dangling sink (no out-edges)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L),
      (2L, 4L)).toDF("src", "dst")
    val got = GraphOps.pageRank(spark, edges, "src", "dst", 25, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // local reference: same simplified formulation, dense loop
    val n = 5
    val out = Map(0L -> 2, 1L -> 1, 2L -> 2, 3L -> 1)
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (2L, 4L))
    var r = Map((0L until 5L).map(_ -> 1.0 / n): _*)
    for (_ <- 0 until 25) {
      val cin = es.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => r(s) / out(s) }.sum
      }
      r = (0L until 5L).map(v => v -> (0.15 / n + 0.85 * cin.getOrElse(v, 0.0))).toMap
    }
    (0L until 5L).foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-12, s"node $v: ${got(v)} vs ${r(v)}")
    }
    // structure sanity: the hub (2) outranks everyone; the source-only
    // node (3) sits at the damping floor
    assert(got(2L) > got(0L) && got(2L) > got(4L))
    assert(math.abs(got(3L) - 0.15 / n) < 1e-12)
  }

  test("hits matches an independent dense-loop reference (L1 norm, textbook update order)") {
    import spark.implicits._
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (2L, 4L))
    val got = GraphOps.hits(spark, es.toDF("src", "dst"), "src", "dst", 6)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val nodes = (0L to 4L).toSeq
    var auth = nodes.map(_ -> 1.0).toMap
    var hub = nodes.map(_ -> 1.0).toMap
    for (_ <- 0 until 6) {
      val ar = es.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _) => hub(u) }.sum }
      val at = ar.values.sum
      auth = nodes.map(v => v -> ar.getOrElse(v, 0.0) / at).toMap
      val hr = es.groupBy(_._1).map { case (u, out) =>
        u -> out.map { case (_, v) => auth(v) }.sum }
      val ht = hr.values.sum
      hub = nodes.map(v => v -> hr.getOrElse(v, 0.0) / ht).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v)._1 - auth(v)) < 1e-12, s"auth $v")
      assert(math.abs(got(v)._2 - hub(v)) < 1e-12, s"hub $v")
    }
    // node 2 (everyone links to it) is the top authority; the dangling
    // sink has zero hub score; the source-only node zero authority
    assert(auth(2L) == nodes.map(auth).max)
    assert(got(4L)._2 == 0.0 && got(3L)._1 == 0.0)
  }

  test("linkGraphProfile reports exact structure on a known graph") {
    import spark.implicits._
    // 0↔1 reciprocal, 2→2 self-loop, 3 is source-only, no dangling
    val es = Seq((0L, 1L), (1L, 0L), (2L, 2L), (0L, 2L), (3L, 0L))
    val got = GraphOps.linkGraphProfile(spark, es.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got(("out_deg", 1L)) == 3 && got(("out_deg", 2L)) == 1)
    assert(got(("in_deg", 1L)) == 1 && got(("in_deg", 2L)) == 2)
    assert(got(("self_loop", 0L)) == 1)
    assert(got(("reciprocal", 0L)) == 1)
    assert(got(("dangling", 0L)) == 0)
    assert(got(("source_only", 0L)) == 1)
  }

  test("bfsLayers labels shortest-hop depth from any seed, horizon-capped") {
    import spark.implicits._
    // chain 0→1→2→3→4, shortcut 7→3, island 8→9; seeds {0, 7}
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (7L, 3L), (8L, 9L))
      .toDF("src", "dst")
    val seeds = Seq(0L, 7L).toDF("node")
    val got = GraphOps.bfsLayers(spark, es, "src", "dst", seeds, "node", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 3 is depth 1 via the 7→3 shortcut, NOT depth 3 via the chain;
    // node 4 is depth 2; the island (8,9) is absent; the horizon cuts nothing here
    assert(got == Map(0L -> 0L, 7L -> 0L, 1L -> 1L, 3L -> 1L, 2L -> 2L, 4L -> 2L))
    // horizon 1 drops the depth-2 layer
    val h1 = GraphOps.bfsLayers(spark, es, "src", "dst", seeds, "node", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == Map(0L -> 0L, 7L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  test("triangleCount: exact census on known graphs, robust to direction/self-loops/dups") {
    import spark.implicits._
    // K4 with noise: both directions of (0,1), a self-loop, a dup edge —
    // the undirected simple graph is still K4
    val k4 = Seq((0L, 1L), (1L, 0L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (2L, 2L), (3L, 2L)).toDF("src", "dst")
    val r1 = GraphOps.triangleCount(spark, k4, "src", "dst").collect()(0)
    assert(r1.getLong(0) == 4 && r1.getLong(1) == 12 && r1.getLong(2) == 1000000L)
    // a 4-cycle has wedges but no triangles
    val c4 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val r2 = GraphOps.triangleCount(spark, c4, "src", "dst").collect()(0)
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 4 && r2.getLong(2) == 0L)
  }

  test("personalizedPageRank concentrates mass near the seeds and matches a dense loop") {
    import spark.implicits._
    // two components: seeds {0} in the left triangle; right chain 5→6
    // never receives restart mass and is unreachable from the seed
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (5L, 6L))
    val got = GraphOps.personalizedPageRank(spark, es.toDF("src", "dst"),
        "src", "dst", Seq(0L, 9L).toDF("node"), "node", 12, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // independent dense loop; node 9 is a seed OUTSIDE the edge set —
    // it must appear, hold restart mass, and contribute nothing
    val nodes = Seq(0L, 1L, 2L, 5L, 6L, 9L)
    val out = Map(0L -> Seq(1L), 1L -> Seq(2L), 2L -> Seq(0L), 5L -> Seq(6L))
    val p0 = Map(0L -> 0.5, 9L -> 0.5).withDefaultValue(0.0)
    var r = nodes.map(v => v -> p0(v)).toMap
    for (_ <- 0 until 12) {
      val cin = nodes.map { v =>
        v -> out.toSeq.collect {
          case (u, ds) if ds.contains(v) => r(u) / ds.size }.sum
      }.toMap
      r = nodes.map(v => v -> (0.15 * p0(v) + 0.85 * cin(v))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-12, s"node $v: ${got(v)} vs ${r(v)}")
    }
    assert(got(5L) == 0.0 && got(6L) == 0.0)          // no restart, unreachable
    assert(math.abs(got(9L) - 0.15 * 0.5) < 1e-12)    // isolated seed keeps (1-d)*p0

    // every node a seed: the restart is uniform, so this is pageRank
    val all = GraphOps.personalizedPageRank(spark, es.toDF("src", "dst"),
        "src", "dst", Seq(0L, 1L, 2L, 5L, 6L).toDF("node"), "node", 12, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uniform = GraphOps.pageRank(spark, es.toDF("src", "dst"), "src", "dst", 12, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(all.keySet == uniform.keySet)
    uniform.foreach { case (v, pr) =>
      assert(math.abs(all(v) - pr) < 1e-12, s"node $v: seeded ${all(v)} vs uniform $pr")
    }
  }

  test("coCitationPairs counts distinct co-linking sources; hub cap drops directory noise") {
    import spark.implicits._
    // sources 10,11 both link {1,2}; 12 links {1,2,3}; 13 is a "directory"
    // linking 1..4 (out-deg 4)
    val es = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (12L, 3L),
      (13L, 1L), (13L, 2L), (13L, 3L), (13L, 4L)).toDF("src", "dst")
    val all = GraphOps.coCitationPairs(spark, es, "src", "dst", 1L, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(all((1L, 2L)) == 4) // sources 10,11,12,13
    assert(all((1L, 3L)) == 2 && all((2L, 3L)) == 2)
    assert(all((3L, 4L)) == 1)
    // cap at out-degree ≤ 3: the directory source 13 no longer votes
    val capped = GraphOps.coCitationPairs(spark, es, "src", "dst", 1L, 100,
        maxOutDeg = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped((1L, 2L)) == 3 && !capped.contains((3L, 4L)))
    // ordering contract: shared DESC, then (a, b)
    val top = GraphOps.coCitationPairs(spark, es, "src", "dst", 1L, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(top == Seq((1L, 2L, 4L), (1L, 3L, 2L), (2L, 3L, 2L)))
  }

  test("pageRankWeighted splits rank by weight and reduces to pageRank at equal weights") {
    import spark.implicits._
    // 0 links to 1 (weight 3) and 2 (weight 1): 1 should collect 3×
    // the contribution 2 gets from 0
    val we = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val got = GraphOps.pageRankWeighted(spark, we, "src", "dst", "w", 20, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // independent dense loop
    val nodes = Seq(0L, 1L, 2L)
    val out = Map(0L -> Seq((1L, 3.0), (2L, 1.0)), 1L -> Seq((0L, 1.0)),
      2L -> Seq((0L, 1.0)))
    var r = nodes.map(_ -> 1.0 / 3).toMap
    for (_ <- 0 until 20) {
      val cin = nodes.map { v =>
        v -> out.toSeq.flatMap { case (u, es2) =>
          val wt = es2.map(_._2).sum
          es2.collect { case (d2, w2) if d2 == v => r(u) * w2 / wt }
        }.sum
      }.toMap
      r = nodes.map(v => v -> (0.15 / 3 + 0.85 * cin(v))).toMap
    }
    nodes.foreach(v => assert(math.abs(got(v) - r(v)) < 1e-12, s"node $v"))
    assert(got(1L) > got(2L))
    // equal weights == unweighted pageRank
    val eq = Seq((0L, 1L, 7L), (1L, 2L, 7L), (2L, 0L, 7L)).toDF("src", "dst", "w")
    val a = GraphOps.pageRankWeighted(spark, eq, "src", "dst", "w", 10, 0.85)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val b = GraphOps.pageRank(spark, eq.drop("w"), "src", "dst", 10, 0.85)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("kCorePeel: the mesh survives, the star and tail collapse") {
    import spark.implicits._
    // triangle {0,1,2} + tail 2-3-4 + star center 5 with leaves 6,7,8
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (5L, 6L), (5L, 7L), (5L, 8L)).toDF("src", "dst")
    val got = GraphOps.kCorePeel(spark, es, "src", "dst", 2, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 drops leaves 4,6,7,8; round 2 drops 3 (lost its neighbor)
    // and 5 (lost all leaves); the triangle is the 2-core
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // k=3 kills even the triangle
    assert(GraphOps.kCorePeel(spark, es, "src", "dst", 3, 8).count() == 0)
  }

  test("deterministicWalks follows the md5 pick rule and halts at dangling nodes") {
    import spark.implicits._
    // 0 → {1, 2, 3}; 1 → {0, 2}; 2 → {0}; 3 is dangling
    val es = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (1L, 2L), (2L, 0L))
      .toDF("src", "dst")
    val got = GraphOps.deterministicWalks(spark, es, "src", "dst", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

    // independent replay of the pick rule: md5("start:t:cur") first
    // FOUR bytes mod outdeg (bias ≤ outdeg/2³² per rank), neighbors
    // ranked by dst ascending
    val nbrs = Map(0L -> Seq(1L, 2L, 3L), 1L -> Seq(0L, 2L), 2L -> Seq(0L))
    def pick(start: Long, t: Int, cur: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$start:$t:$cur".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(8), 16)
      nbrs(cur)((h % nbrs(cur).size).toInt)
    }
    for (start <- Seq(0L, 1L, 2L, 3L)) {
      var cur = start
      assert(got((start, 0)) == start)
      var t = 1
      var halted = false
      while (t <= 4 && !halted) {
        if (nbrs.contains(cur)) {
          cur = pick(start, t, cur)
          assert(got((start, t)) == cur, s"walk $start step $t")
        } else {
          assert(!got.contains((start, t)), s"walk $start should halt at $t")
          halted = true
        }
        t += 1
      }
    }
    // determinism: a second run is identical
    val again = GraphOps.deterministicWalks(spark, es, "src", "dst", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(again == got)
  }
}
