package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl curation — the domain-authority
  * signal (PageRank) that large-scale web corpora weight quality and
  * crawl priority by.
  *
  * Spark shape, built for the 100 TB graph rather than the toy one:
  * each iteration is ONE shuffle — contributions flow
  * `ranks ⋈ edges → groupBy(dst) → sum` — and both `edges` and the
  * rank frame hash-partition on the SAME key (`src` resp. `node`), so
  * AQE reuses the exchange where sizes allow; at warehouse scale both
  * sides come pre-bucketed on the node key
  * ([[ScaleOps.writeBucketed]]) and the per-iteration join is
  * exchange-free. The rank frame is `localCheckpoint`-ed every
  * iteration: an iterative DataFrame loop otherwise stacks 10 joins of
  * lineage into one exponential plan (a reliable checkpoint replaces
  * it on a real cluster — shape unchanged, the engine's standard
  * iterative-operator trade, same as `Sampling.curriculumStages`).
  *
  * Dangling mass: nodes with no out-edges leak rank in the naive
  * formulation; here the caller's edge set defines the node universe
  * (every node appears as a src or dst), and nodes WITHOUT out-edges
  * redistribute implicitly through the damping term only — the
  * textbook "simplified" PageRank, which is exactly SQL-replayable
  * (q68's oracle unrolls the iterations; no spectral shortcut could
  * be gated that tightly). */
object GraphOps {

  /** Every edge endpoint as `node`, one row per endpoint. */
  private def endpoints(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node")))

  /** `edges`: two columns (src, dst), assumed DISTINCT pairs. Returns
    * (node, rank) after `iters` damped iterations from the uniform
    * start. Deterministic given the edge set (float sums commute to
    * within ulps; outputs are rounded by the caller's query). */
  def pageRank(spark: SparkSession, edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int, damping: Double): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = endpoints(e).distinct()
      .localCheckpoint(false) // lazy: the count below materializes it
    val n = nodes.count()
    val eDeg = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint(false)
    dampedRank(spark, "pagerank", n, nodes.withColumn("r0", lit(1.0 / n)),
      eDeg, col("r") / col("deg"), lit((1.0 - damping) / n), iters, damping)
  }

  /** The damped rank loop the three PageRanks share: `iters` rounds of
    * r ← restart + d·(in-contributions) from r = r0. `base` is the node
    * universe, (node, r0) plus any column `restart` reads; `edges` is
    * (src, dst, …) with each source's out-degree or out-weight already
    * joined on, and `contrib` is one edge's share of its source's `r`.
    *
    * Pre-joining the degree onto the edge list, materialized once,
    * leaves each round exactly one rank ⋈ edges join + one groupBy(dst)
    * shuffle: an uncheckpointed degree table would re-aggregate the
    * full edge set per round, and ranks ⋈ deg ⋈ edges inside the loop
    * would pay an extra join + exchange. All loop checkpoints are LAZY
    * (the Bpe.encode / c01 discipline): each truncates lineage so plans
    * stay linear, where an eager one scheduled a driver job per round
    * before the caller's action started.
    *
    * The loop plans in an isolated cloned session (r16) with AQE OFF —
    * each round's frames are node/edge-bounded with nothing to
    * re-optimize, while AQE's stage materialization scheduled one
    * submitMapStage job per exchange per round (q68: 50 jobs for 10
    * rounds) — and a shuffle-partition count derived from the node
    * count `n` (LoopSession.derivedPartitions), so partitioning scales
    * with the graph instead of inheriting a cluster-sized constant.
    * Checkpoints, AQE and partition counts never change the arithmetic;
    * the result re-binds to the caller's session. */
  private def dampedRank(spark: SparkSession, tag: String, n: Long,
      base: DataFrame, edges: DataFrame, contrib: Column, restart: Column,
      iters: Int, damping: Double): DataFrame = {
    val loop = LoopSession.nonAdaptive(spark, n)
    val baseL = LoopSession.rebind(base, loop)
    val edgesL = LoopSession.rebind(edges, loop)
    var ranks = baseL.select(col("node"), col("r0").as("r")).localCheckpoint(false)
    var i = 0
    while (i < iters) {
      val contribs = ranks
        .join(edgesL, ranks("node") === edgesL("src"))
        .select(col("dst").as("node"), contrib.as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("cin"))
      ranks = IterTrace.record(tag, baseL
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (restart + lit(damping) * coalesce(col("cin"), lit(0.0))).as("r")))
        .localCheckpoint(false)
      i += 1
    }
    LoopSession.rebind(ranks, spark)
  }

  /** Personalized (topic-sensitive) PageRank: the restart mass goes to
    * a SEED set instead of uniformly everywhere — the crawl-
    * prioritization signal "authority as seen from these trusted
    * domains" (Haveliwala 2002). r ← (1−d)·p + d·(in-contributions),
    * where p is uniform over the seeds and zero elsewhere, from the
    * start r₀ = p; scores concentrate in the seeds' out-neighborhood
    * instead of spreading to every sink.
    *
    * [[pageRank]]'s loop with the seeded restart; the seed-restart
    * column rides the checkpointed node frame so no extra join enters
    * the loop. The node universe is the edge set's nodes UNION the
    * seeds, so a seed absent from the graph still holds its restart
    * mass (and the restart normalizer is the caller's literal seed
    * count, not a data-dependent one — callers gate on that
    * stability). Precondition: `seeds` nonempty. */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String, seeds: DataFrame, seedCol: String,
      iters: Int, damping: Double): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val sd = seeds.select(col(seedCol).as("node")).distinct()
    val nodes = endpoints(e).union(sd).distinct()
    val nSeeds = sd.count()
    val base = nodes
      .join(sd.withColumn("isSeed", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("isSeed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("p0"))
      .localCheckpoint() // EAGER: base is re-read by round 1's two branches
      // concurrently (ranks0 chain + the densifying join) — see hits
    val eDeg = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint(false)
    // the node count is a block scan over the already-eager base
    // checkpoint, not a recompute
    dampedRank(spark, "seeded_pagerank", base.count(),
      base.withColumn("r0", col("p0")), eDeg, col("r") / col("deg"),
      lit(1.0 - damping) * col("p0"), iters, damping)
  }

  /** Co-citation related-pair mining: two pages are related when many
    * distinct sources link to BOTH (Small 1973) — the related-domain
    * discovery signal that needs no content at all. Returns the topN
    * (a, b, shared) pairs, a < b, shared = distinct co-linking
    * sources, with a total (shared DESC, a, b) order.
    *
    * The candidate join is the edge list against itself on the SOURCE
    * key, so fan-out is Σ out-deg² — bounded per source, never
    * corpus²; `maxOutDeg` (the d28 df-cap discipline) drops
    * hub/boilerplate sources whose quadratic contribution would
    * dominate a 100 TB run while adding near-zero signal (a directory
    * page linking 10k sites asserts little relatedness per pair).
    * Self-loops contribute nothing (a < b is strict after dedup). */
  def coCitationPairs(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String, minShared: Long, topN: Int,
      maxOutDeg: Option[Long] = None): DataFrame = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val e = maxOutDeg match {
      case Some(cap) =>
        val keep = e0.groupBy("src").agg(count(lit(1)).as("odeg"))
          .filter(col("odeg") <= cap).select(col("src"))
        e0.join(keep, Seq("src"), "left_semi")
      case None => e0
    }
    e.as("x")
      .join(e.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(desc("shared"), col("a"), col("b"))
      .limit(topN)
  }

  /** Weighted PageRank: edges carry a weight column and each node
    * splits its rank proportionally — r(u)·w(u→v)/W(u) with W(u) the
    * out-weight sum — the form real crawl graphs use (an edge backed
    * by 500 links asserts more than one backed by 1). [[pageRank]]'s
    * loop with an out-WEIGHT table in place of the out-DEGREE table and
    * the join carrying w. Weights must be positive; rank conservation
    * follows from Σ w/W = 1 per source. */
  def pageRankWeighted(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String, weightCol: String, iters: Int,
      damping: Double): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w"))
    val nodes = endpoints(e).distinct()
      .localCheckpoint(false) // lazy: the count below materializes it
    val n = nodes.count()
    val eW = e
      .join(e.groupBy("src").agg(sum(col("w")).as("wtot")), "src")
      .localCheckpoint(false)
    dampedRank(spark, "weighted_pagerank", n, nodes.withColumn("r0", lit(1.0 / n)),
      eW, col("r") * col("w") / col("wtot"), lit((1.0 - damping) / n), iters,
      damping)
  }

  /** Bounded-round k-core peel of the UNDIRECTED simple graph
    * (self-loops dropped, direction collapsed): repeatedly remove
    * nodes whose degree WITHIN the surviving set is < k — the density
    * primitive behind spam-farm/link-mesh detection (a mesh survives
    * peeling; a star collapses). Returns the nodes alive after
    * `rounds` rounds with their within-core degree.
    *
    * Each round is one semi-join pass (edges restricted to the alive
    * set on both endpoints — fixed-width keys) + one degree
    * aggregate; the alive frame localCheckpoints per round
    * (`dampedRank`'s discipline). The round count is a bounded unroll
    * that EXITS at the provable fixpoint: each round's alive set is a
    * SUBSET of the previous one (survivors are endpoints of edges
    * within the previous alive set), so an unchanged COUNT means an
    * unchanged SET, and every remaining round would recompute the
    * identical (node, core_deg) frame — the early-exited run equals
    * the oracle's full unroll by construction, not approximately (the
    * [[Dedup.connectedComponents]] convergence-check discipline; the
    * count is a cheap job over the round's already-materialized
    * checkpoint). At warehouse scale this turns `rounds` into a cap
    * instead of a cost: a peel that stabilizes in 3 rounds pays 3
    * linear passes, not 12. */
  def kCorePeel(spark: SparkSession, edges: DataFrame, srcCol: String,
      dstCol: String, k: Int, rounds: Int): DataFrame = {
    val und = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct().localCheckpoint(false) // lazy: round 1's count materializes it
    var alive = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node"))).distinct()
      .localCheckpoint(false)
    var aliveCount = alive.count()
    // isolated non-adaptive loop session with derived partitions (see
    // dampedRank's note): each round is two node-keyed semi-joins + one
    // degree aggregate over frames bounded by the shrinking alive set
    val loop = LoopSession.nonAdaptive(spark, aliveCount)
    val undL = LoopSession.rebind(und, loop)
    alive = LoopSession.rebind(alive, loop)
    var deg: DataFrame = null
    var r = 0
    var fixed = false
    while (r < rounds && !fixed) {
      val eAlive = undL
        .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
      deg = IterTrace.record("kcore_peel", eAlive
        .select(col("u").as("node"))
        .unionAll(eAlive.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
        .filter(col("core_deg") >= k))
        .localCheckpoint(false) // lazy: the convergence count materializes it
      alive = deg.select(col("node"))
      val c = deg.count()
      fixed = c == aliveCount // subset + equal count ⇒ equal set ⇒ fixpoint
      aliveCount = c
      r += 1
    }
    LoopSession.rebind(
      if (deg == null) alive.withColumn("core_deg", lit(0L)) else deg, spark)
  }

  /** Deterministic random-walk corpus over the link graph — the
    * DeepWalk/node2vec training-data generator: one fixed-length walk
    * per node, each step choosing among the current node's ranked
    * out-neighbors by an md5-derived index (the engine's portable
    * hash-deviate idiom, [[Sampling]]'s md5 family), so the ENTIRE
    * trajectory is reproducible across engines and runs — no RNG
    * state, no seed plumbing, and the d-gate can hash every visited
    * node. Walks halt early at dangling nodes (standard truncation).
    *
    * Step t at node cur picks neighbor rank
    * md5("start:t:cur")[first 4 BYTES] mod outdeg(cur); neighbor ranks
    * are row_number over (src ORDER BY dst) − 1 — a per-source window
    * (never global). Four hash bytes, not one: `x mod outdeg` over a
    * 0..2³²−1 deviate leaves a modulo bias ≤ outdeg/2³² per rank —
    * negligible for any real out-degree — where a single byte would
    * over-weight low ranks by up to 1/256 whenever outdeg ∤ 256. Each step is two fixed-width equi-joins
    * (degree, then ranked edge) on the frontier only; frontier frames
    * localCheckpoint per step (`dampedRank`'s discipline). Returns
    * (start, step, node) rows, step 0 = the start itself. */
  def deterministicWalks(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String, steps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val ranked = e
      .withColumn("rn",
        row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
      .localCheckpoint(false) // lazy (dampedRank's discipline)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val nodes = endpoints(e).distinct()
    var frontier = nodes
      .select(col("node").as("start"), col("node").as("cur"))
      .localCheckpoint(false)
    var out = frontier.select(col("start"), lit(0).as("step"),
      col("cur").as("node"))
    var t = 1
    while (t <= steps) {
      val pick = (conv(substring(md5(concat_ws(":",
        col("start"), lit(t), col("cur"))), 1, 8), 16, 10)
        .cast("long") % col("deg")).as("pick")
      val next = IterTrace.record("graph_walks", frontier
        .join(deg.select(col("src").as("cur"), col("deg")), Seq("cur"))
        .select(col("start"), col("cur"), pick)
        .join(ranked.select(col("src").as("cur"), col("dst"),
          col("rn").cast("long").as("rn")),
          Seq("cur"))
        .filter(col("pick") === col("rn"))
        .select(col("start"), col("dst").as("cur")))
        .localCheckpoint(false)
      out = out.unionAll(next.select(col("start"), lit(t).as("step"),
        col("cur").as("node")))
      frontier = next
      t += 1
    }
    out
  }

  /** HITS hubs-and-authorities over a directed edge set — the other
    * classic link-quality signal (Kleinberg 1999): a page is a good
    * AUTHORITY if good hubs link to it, a good HUB if it links to good
    * authorities. Update order is the textbook one — authority from
    * the PREVIOUS round's hubs, then hub from the CURRENT round's
    * authorities — under L1 (sum-to-one) normalization, chosen over
    * the L2 variant because it keeps every output a ratio of plain
    * sums (exactly SQL-replayable, no sqrt in the chain; the fixed
    * point has the same eigenvector direction either way, only the
    * scale differs).
    *
    * The normalization is FOLDED OUT of the iteration: because the
    * HITS update is linear, a per-round L1 rescale only multiplies
    * every score by a scalar, so iterating UNNORMALIZED and dividing
    * by the L1 totals once at read time yields the identical
    * normalized result (exactly — not approximately — in real
    * arithmetic) while eliminating the two full-pass scalar-aggregate
    * barriers per iteration the per-round rescale cost. Magnitudes
    * grow by ~(mean degree)² per round, so doubles (max ~1e308)
    * accommodate any realistic depth — 50 iterations on a mean-degree-
    * 1000 graph stays under 1e300.
    *
    * Spark shape mirrors [[pageRank]]: each half-step is one
    * fixed-width equi-join + one groupBy(sum) shuffle; score frames
    * stay SPARSE over the nodes that can score (authority over link
    * targets, hub over link sources — absent = exact 0, densified
    * only in the final read-time projection); one localCheckpoint per
    * iteration (on the hub frame — the only loop-carried state) keeps
    * the plan linear. Precondition: `edges` nonempty and
    * `iters` ≥ 1 (the L1 totals are then strictly positive — hubs
    * start at 1 and every edge contributes).
    *
    * Returns (node, auth, hub), raw doubles; callers round in the
    * gated query (d35 pattern). */
  def hits(spark: SparkSession, edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"hits needs at least one iteration, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Checkpoint discipline (r15 measured the failure mode, r16 fixed
    // its cause): the read-time plan fans out into FOUR concurrent
    // consumers — two L1-total aggregates + two densifying joins —
    // so every frame those consumers read must be EAGER (materialized
    // before the read action) or they race-compute it (the
    // cache-population race that made the r15 all-lazy variant read
    // bimodally slower). r16 therefore checkpoints the FINAL round's
    // authRaw and hub eagerly — previously authRaw had no checkpoint
    // at all and the read plan re-ran the full e ⋈ hub join +
    // aggregate once per consumer — while the in-loop rounds go lazy
    // (each round's frame has exactly ONE consumer, the next round's
    // chain, so laziness folds their materialization into the final
    // round's two jobs instead of scheduling one job per round).
    val nodes = endpoints(e).distinct()
      .localCheckpoint()
    // isolated non-adaptive loop session with derived partitions (see
    // dampedRank's note); the node count is a block scan over the
    // already-eager nodes checkpoint. The two final EAGER checkpoints
    // below then compute the whole lazy chain as two plain jobs
    // instead of one AQE stage-materialization job per exchange per
    // round. The read-time projection re-binds to the caller's
    // session at the end, so the caller's plans stay adaptive.
    val loop = LoopSession.nonAdaptive(spark, nodes.count())
    val eL = LoopSession.rebind(e, loop)
    val nodesL = LoopSession.rebind(nodes, loop)
    var hub = nodesL.withColumn("hub", lit(1.0)).localCheckpoint(false)
    var authRaw: DataFrame = null
    var i = 0
    while (i < iters) {
      authRaw = eL
        .join(hub.select(col("node"), col("hub")), col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("ar"))
        .select(col("dst").as("node"), col("ar"))
      // FINAL round only: materialize authRaw itself. It is the other
      // read-time fan-out root (two concurrent consumers: the aTot
      // scalar aggregate + the densifying left join), and without its
      // own checkpoint each consumer re-ran the full e ⋈ hub_prev
      // join + aggregate — the read plan paid the last half-step twice
      // more. Eager, per this operator's measured fan-out rule; the
      // final hub checkpoint then reads these blocks instead of
      // recomputing the subtree, so the round's total compute is
      // unchanged while the read-time recomputes disappear.
      if (i == iters - 1) authRaw = authRaw.localCheckpoint()
      hub = IterTrace.record("hits", eL
        .join(authRaw.select(col("node"), col("ar")), col("dst") === col("node"))
        .groupBy(col("src")).agg(sum(col("ar")).as("hr"))
        .select(col("src").as("node"), col("hr").as("hub")))
        .localCheckpoint(i == iters - 1) // lazy in-loop (single sequential
      // consumer: the next round's chain), EAGER on the final round —
      // its blocks are read by two concurrent consumers (hTot + densify)
      i += 1
    }
    // read-time projection on the CALLER's session (adaptive again):
    // both loop outputs are materialized block-backed frames by now
    val authRawC = LoopSession.rebind(authRaw, spark)
    val hubC = LoopSession.rebind(hub, spark)
    val aTot = authRawC.agg(sum(col("ar")).as("at")) // 1 row
    val hTot = hubC.agg(sum(col("hub")).as("ht"))    // 1 row
    nodes
      .join(authRawC, Seq("node"), "left")
      .join(hubC.select(col("node"), col("hub").as("hr")), Seq("node"), "left")
      .crossJoin(aTot).crossJoin(hTot) // 1-row scalar-aggregate broadcasts
      .select(col("node"),
        (coalesce(col("ar"), lit(0.0)) / col("at")).as("auth"),
        (coalesce(col("hr"), lit(0.0)) / col("ht")).as("hub"))
  }

  /** Exact structural profile of a directed edge set — the sanity
    * audit a crawl team reads before trusting any ranking over the
    * link graph: degree histograms both directions, self-loops,
    * unordered reciprocal pairs, dangling nodes (no out-edges — the
    * mass-leak population PageRank formulations must decide about)
    * and source-only nodes (no in-edges — undiscoverable by link
    * traversal). One tall (metric, k, n) table, all exact integers.
    *
    * Every term is a fixed-width-key aggregate or anti/equi join:
    * degree histograms are two groupBy chains over the edge list;
    * reciprocity joins the edge set against its own reversal on the
    * composite key (equi-join, src<dst so each unordered pair counts
    * once); dangling/source-only are LEFT ANTI joins from the node
    * inventory. Nothing wider than (long, long) ever shuffles. */
  def linkGraphProfile(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint() // EAGER: six metric branches read it CONCURRENTLY
      // in one action — lazy would race-compute it per branch (see hits)
    val nodes = endpoints(e).distinct()
    val outHist = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n"))
      .select(lit("out_deg").as("metric"), col("deg").as("k"), col("n"))
    val inHist = e.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n"))
      .select(lit("in_deg").as("metric"), col("deg").as("k"), col("n"))
    val selfLoops = e.filter(col("src") === col("dst"))
      .agg(count(lit(1)).as("n"))
      .select(lit("self_loop").as("metric"), lit(0L).as("k"), col("n"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.join(rev, Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .agg(count(lit(1)).as("n"))
      .select(lit("reciprocal").as("metric"), lit(0L).as("k"), col("n"))
    val dangling = nodes
      .join(e.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("dangling").as("metric"), lit(0L).as("k"), col("n"))
    val sourceOnly = nodes
      .join(e.select(col("dst").as("node")).distinct(), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("source_only").as("metric"), lit(0L).as("k"), col("n"))
    outHist.unionAll(inHist).unionAll(selfLoops).unionAll(recip)
      .unionAll(dangling).unionAll(sourceOnly)
  }

  /** Multi-source BFS to a fixed horizon: (node, depth) where depth is
    * the shortest directed hop count from ANY seed (0 = the seeds
    * themselves); nodes not reached within `maxDepth` are absent —
    * the crawl-frontier primitive ("everything within k clicks of the
    * seed list") and the reachability layer a contamination audit
    * walks.
    *
    * Each round is frontier-sized, never graph-sized: one equi-join
    * frontier ⋈ edges on the node key + one LEFT ANTI join against
    * the visited set, both fixed-width; the visited/frontier frames
    * localCheckpoint per round (linear plans, as [[pageRank]]). The
    * horizon is a bounded unroll that EXITS once the frontier empties:
    * an empty frontier joins to an empty next layer forever, so every
    * remaining round adds zero rows and the early-exited run equals
    * the oracle's full unroll by construction (the emptiness probe is
    * one cheap job over the round's already-materialized checkpoint).
    * At warehouse scale a seed set that saturates its reachable
    * neighborhood in 2 hops pays 2 frontier passes, not `maxDepth`. */
  def bfsLayers(spark: SparkSession, edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      maxDepth: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("depth", lit(0L)).localCheckpoint(false)
    var frontier = visited.select(col("node"))
    var d = 1
    var drained = false
    while (d <= maxDepth && !drained) {
      val next = IterTrace.record("bfs_layers",
        frontier.join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti"))
        .localCheckpoint(false) // lazy: the emptiness probe materializes it
      drained = next.isEmpty // empty frontier ⇒ all later layers empty
      if (!drained) {
        visited = visited.unionAll(next.withColumn("depth", lit(d.toLong)))
          .localCheckpoint(false)
        frontier = next
      }
      d += 1
    }
    visited
  }

  /** Exact triangle census of the UNDIRECTED simple graph induced by
    * the edge set (self-loops dropped, direction collapsed): global
    * triangle count, wedge (open two-path) count, and the global
    * clustering coefficient 3·tri/wedges in exact-integer ppm — the
    * local-density number that separates a link mesh from a
    * broadcast-star topology.
    *
    * Degree-ordered orientation, the standard O(m^1.5) bound: each
    * undirected edge points from its (degree, node)-smaller endpoint
    * to the larger, making the oriented graph a DAG where every
    * out-neighborhood is O(√m); triangles are then oriented paths
    * a→b→c closed by a→c, counted with two equi-joins and a LEFT SEMI
    * — never an unordered all-pairs expansion. Wedges come from the
    * degree table alone (Σ deg·(deg−1)/2, integer arithmetic). The
    * ppm ratio guards its zero-wedge denominator identically on both
    * engines (the q55 shape-fuzz rule). */
  def triangleCount(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct().localCheckpoint() // EAGER: deg and ori branches read it
      // concurrently (see hits)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ori = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"))
      .localCheckpoint() // EAGER: the path self-join reads it twice concurrently
    val paths = ori.as("e1")
      .join(ori.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e2.b").as("c"))
    val tri = paths
      .join(ori.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("triangles"))
    val wedges = deg
      .agg(sum(expr("deg * (deg - 1) div 2")).as("wedges"))
    tri.crossJoin(wedges) // two 1-row scalar aggregates
      .select(col("triangles"), col("wedges"),
        when(col("wedges") === 0, lit(0L))
          .otherwise(expr("(3000000 * triangles) div wedges")).as("gcc_ppm"))
  }
}
