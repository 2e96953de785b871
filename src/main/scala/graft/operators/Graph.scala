package graft.operators

import graft.util.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics — the crawl-side quality signals of a web-scale
  * training-data pipeline (Common-Crawl-style curation ranks hosts by
  * centrality before content filters ever run).
  */
object Graph {

  /** Fixed-point accumulation type: the snapped 2^40-grid addends are
    * EXACT integers, but their long sum wraps once N·2^40 > 2^63 — i.e.
    * at only ~8.4M unit-mass nodes for a global L1 normalizer (the r14
    * sf1 probe's q_monthly_hhi overflow class, here in rank space). All
    * snapped sums therefore accumulate in DECIMAL(38,0): still exact and
    * associative (map-side partials intact), 10^38 headroom, and the
    * final cast-to-double of the same exact integer is bit-identical to
    * the long path wherever the long path didn't wrap.
    */
  private val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** 2^40: the fixed-point grid every snapped score sum accumulates on. */
  private val S = 1099511627776.0

  /** Both directions of every (src, dst) edge. Union symmetrize kept
    * deliberately: an r17 explode-based one-scan variant (read the source
    * once, emit both directions) measured flat-to-slower at sf0.1 — the
    * union's two scan branches run as twice the parallel tasks on the
    * 3-split input, which beats halving the IO on an otherwise idle
    * 32-core box. At cluster scale both forms saturate.
    */
  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** Node table with out-degrees in ONE exchange: explode each edge into
    * an (src, 1) and a (dst, 0) marker and hash-aggregate by node —
    * replaces the separate nodes union∪distinct exchange, out-degree
    * aggregation and node-keyed left join of the old PageRank setup
    * (2 exchanges + 1 join fewer, r17). `outdeg` is null for sinks,
    * matching the left-join encoding the iteration reads.
    */
  private def nodeStats(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("_o")),
        struct(col("dst").as("node"), lit(0L).as("_o")))).as("_x"))
      .select(col("_x.node").as("node"), col("_x._o").as("_o"))
      .groupBy(col("node")).agg(sum(col("_o")).as("_od"))
      .select(col("node"),
        when(col("_od") > 0L, col("_od")).otherwise(lit(null).cast("long"))
          .as("outdeg"))

  /** The PageRank contribution step shared by [[pageRank]] and
    * [[personalizedPageRank]]: every non-sink node sends rank/outdeg along
    * its out-edges, summed per destination as `(dst, in_sum)`.
    */
  private def incoming(e: DataFrame, ranks: DataFrame): DataFrame = {
    val contrib = ranks.filter(col("outdeg").isNotNull)
      .select(col("node").as("c_src"),
        (col("rank") / col("outdeg").cast("double")).as("contrib"))
    e.join(contrib, col("src") === col("c_src"))
      .groupBy(col("dst"))
      // LONG sum, not Dec38 (r17): per-destination snapped sums are
      // mass-conservation-bounded — Σ contributions to any dst ≤ Σ all
      // ranks ≤ 1, so the sum is ≤ ~2^41 at EVERY scale and cannot wrap
      // (unlike hits' unnormalized raw sums, which genuinely need the
      // decimal). Same exact integers, primitive hash-agg buffers
      // instead of decimal ops on the per-edge hot path (guide §2.3).
      .agg((sum(floor(col("contrib") * S + 0.5).cast("long")).cast("double") / S)
        .as("in_sum"))
  }

  /** PageRank as pure DataFrame algebra, deterministic BY CONSTRUCTION
    * like [[Similarity.kmeans]]:
    * - damping d = 7/8 (0.875 and 0.125 are EXACT binary fractions, so
    *   the damping arithmetic introduces no cross-engine rounding
    *   ambiguity — the classical 0.85 is not representable);
    * - per-edge contributions `rank/outdeg` are doubles, but the one
    *   place float SUM ORDER could leak partition layout into results —
    *   the per-destination accumulation — snaps each contribution to a
    *   2^40 fixed-point grid and sums LONGS (exact, associative,
    *   commutative), then rescales once.
    *
    * Scale shape per iteration: one src-keyed equi-join (edges ×
    * contributions — co-partitionable with the edge table's layout), one
    * dst-keyed hash agg with map-side partials, and a node-keyed left
    * join. The static out-degree is folded into the rank table ONCE
    * (null marks sinks), so neither the contribution step nor the
    * dangling-mass scalar costs a per-round join. No window, no collect;
    * the rank table is node-sized, checkpointed per round so the plan
    * stays flat (the Contiguity/kmeans iteration pattern).
    *
    * Input `edges`: (src, dst) rows; self-deduplicated. Every node
    * reachable only as a destination still receives the teleport term
    * (left join + coalesce 0). Dangling mass is redistributed uniformly
    * per iteration when `redistributeDangling` is set (the NetworkX /
    * GraphX-comparable variant); off by default, matching the standard
    * mass-leak formulation — callers can also just add reverse edges.
    * The dangling sum snaps each sink's rank to the same 2^40 grid and
    * sums longs, so the scalar is partition-independent like everything
    * else here.
    *
    * @param redistributeDangling add each iteration's sink-node mass back
    *                    uniformly: rank' = (1-d)/n + d*(in_sum + dangling/n)
    */
  def pageRank(edges: DataFrame, iters: Int,
               redistributeDangling: Boolean = false): DataFrame = {
    // edges and degrees are REUSED every iteration — materialize them once
    // (the standard persist-the-edge-table shape of iterative graph
    // algorithms; recomputing the distinct per round cost ~40% of the
    // sf0.1 bench time for this operator)
    // persist with a src-hash layout instead of localCheckpoint (r17):
    // a cached plan KEEPS its outputPartitioning, while localCheckpoint's
    // LogicalRDD drops it (the r16 experiment that stalled the
    // co-partitioned-round idea). Repartitioning by src BEFORE the
    // distinct costs nothing — hashpartitioning(src) already satisfies
    // the (src,dst) dedup's clustering requirement, so the plan has ONE
    // exchange either way — and every round's edge⋈frontier/contrib join
    // then finds the edge side pre-distributed by its join key and
    // exchanges only the node-sized side: the per-round re-shuffle of
    // the edge table disappears. persist keeps the (short) lineage, so
    // an evicted block recomputes instead of failing the job.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct().persist()
    // nodes + out-degrees in ONE exchange (r17, [[nodeStats]]); truncated
    // so the n_nodes count below reads persisted blocks, not the plan.
    // outdeg is STATIC per node — folded into the rank table once (null
    // for sinks) instead of re-joined every iteration: saves one
    // node-keyed join per round, and the dangling variant reads sinks off
    // the same table instead of an anti-join per round (r8; the oracle's
    // unrolled update is arithmetically identical, so hashes don't move)
    val stats = Checkpoints.truncate(nodeStats(e), eager = false)
    val nTotal = stats.agg(count(lit(1)).as("n_nodes"))
    // Truncate the INITIAL rank table too (node-sized, one extra tiny job):
    // round 1's plan otherwise embeds the nodes∪distinct + outdeg + count
    // derivation tree TWICE (contrib branch + withIn branch), and every
    // broadcast-exchange subquery Catalyst plants in the round re-runs that
    // tree as its own job — profiled at 17 jobs for iters=2 on q_pagerank,
    // with the derivation stages re-reading the edge blocks 10-20× (r16).
    var ranks = Checkpoints.truncate(stats
      .crossJoin(broadcast(nTotal))
      .select(col("node"),
        (lit(1.0) / col("n_nodes").cast("double")).as("rank"),
        col("n_nodes"), col("outdeg")))
    for (_ <- 1 to iters) {
      val withIn = ranks.select(col("node"), col("n_nodes"), col("outdeg"))
        .join(incoming(e, ranks), col("node") === col("dst"), "left")
      val next =
        if (redistributeDangling) {
          // sink mass = Σ rank over nodes with no out-edge, snapped per
          // node to the 2^40 grid and summed as longs (exact scalar);
          // empty sink set → null sum → 0.0
          val dang = ranks.filter(col("outdeg").isNull)
            .agg(coalesce(
              // long-safe like in_sum: Σ sink ranks ≤ Σ all ranks ≤ 1
              sum(floor(col("rank") * S + 0.5).cast("long")).cast("double") / S,
              lit(0.0)).as("dangling"))
          withIn.crossJoin(broadcast(dang))
            .select(col("node"),
              (lit(0.125) / col("n_nodes").cast("double") +
                lit(0.875) * (coalesce(col("in_sum"), lit(0.0)) +
                  col("dangling") / col("n_nodes").cast("double"))).as("rank"),
              col("n_nodes"), col("outdeg"))
        } else {
          withIn.select(col("node"),
            (lit(0.125) / col("n_nodes").cast("double") +
              lit(0.875) * coalesce(col("in_sum"), lit(0.0))).as("rank"),
            col("n_nodes"), col("outdeg"))
        }
      // EAGER truncate, then release the replaced round (r14): the lazy
      // form deferred every round's materialization to the single final
      // action, so ALL rounds' blocks were live simultaneously — O(iters)
      // copies of the node-sized rank table, which OOM'd the 24 GiB sf10
      // (100x) probe. One tiny node-sized job per round (~0.05 s at
      // sf0.1) bounds storage to the newest round (+ the edge table).
      val prev = ranks
      ranks = Checkpoints.truncate(next)
      Checkpoints.release(prev)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Personalized PageRank: the teleport term concentrates on a SEED SET
    * instead of spreading uniformly — the "importance relative to these
    * trusted/seed pages" signal (TrustRank-style crawl curation, related-
    * item ranking). rank' = (1−d)·t(node) + d·Σ contributions, with
    * t = 1/|seeds| on seed nodes and 0 elsewhere; ranks start at t.
    *
    * Same determinism discipline as [[pageRank]] (d = 7/8 exact, 2^40
    * fixed-point contribution sums) and the same per-iteration shape
    * (the static teleport weight rides the rank table like the
    * out-degree — no per-round joins beyond the one src-keyed edge
    * join). Dangling mass is not redistributed here; feed a graph whose
    * every node has out-edges (e.g. both edge directions) or accept the
    * standard leak.
    *
    * @param teleport one column `node`: the seed set (deduplicated;
    *                 members absent from the graph are ignored)
    */
  def personalizedPageRank(edges: DataFrame, teleport: DataFrame, iters: Int): DataFrame = {
    // persist + src layout: see pageRank's note (r17)
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct().persist()
    // nodes + out-degrees in ONE exchange (r17, [[nodeStats]]) — see
    // pageRank's setup note; the old union∪distinct + outdeg agg + left
    // join shape is gone, the seed join is unchanged.
    val stats = Checkpoints.truncate(nodeStats(e), eager = false)
    val seeds = teleport.select(col("node")).distinct()
      .join(stats.select(col("node")), "node", "left_semi")
    val nSeeds = seeds.agg(count(lit(1)).as("n_seeds"))
    // initial table truncated for the same reason as pageRank's (the
    // teleport/outdeg derivation tree otherwise re-runs per broadcast job)
    var ranks = Checkpoints.truncate(stats
      .join(seeds.withColumn("_is_seed", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(nSeeds))
      .select(col("node"), col("outdeg"),
        when(col("_is_seed").isNotNull,
          lit(1.0) / col("n_seeds").cast("double")).otherwise(lit(0.0)).as("tp"))
      .withColumn("rank", col("tp")))
    for (_ <- 1 to iters) {
      val next = ranks.select(col("node"), col("outdeg"), col("tp"))
        .join(incoming(e, ranks), col("node") === col("dst"), "left")
        .select(col("node"), col("outdeg"), col("tp"),
          (lit(0.125) * col("tp") +
            lit(0.875) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
      // eager truncate + release: see pageRank's note (r14)
      val prev = ranks
      ranks = Checkpoints.truncate(next)
      Checkpoints.release(prev)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) — the directional
    * complement of PageRank: an authority is pointed at by good hubs, a
    * hub points at good authorities (crawl curation uses both: seed
    * lists are hub-like, content pages authority-like).
    *
    * Same determinism discipline as [[pageRank]]: every per-node
    * accumulation snaps addends to the 2^40 grid and sums longs; the L1
    * normalization divides by a snapped global sum, so scores are
    * bit-identical across partitionings. Per iteration: one src-keyed
    * join + dst agg (authorities), one dst-keyed join + src agg (hubs),
    * each raw aggregate checkpointed once (node-sized) with its L1
    * normalizer attached as an in-plan broadcast scalar (no driver
    * collects in the loop, r17). Scores stay sparse through the loop;
    * one final zero-fill gives nodes without in-edges authority 0 and
    * without out-edges hub 0.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    def snapSum(c: org.apache.spark.sql.Column) =
      sum(floor(c * S + 0.5).cast(Dec38)).cast("double") / S
    // persist + src layout: see pageRank's note (r17) — the authority
    // half-round joins by src and reuses it; the hub half-round joins by
    // dst and exchanges as before (no loss)
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct().persist()
    // one-pass node set (explode instead of union: reads the persisted
    // edge blocks once, r17); feeds the initial hubs and the FINAL
    // zero-fill only — the per-round zero-fill joins are gone (below)
    val nodes = Checkpoints.truncate(
      e.select(explode(array(col("src"), col("dst"))).as("node")).distinct())
    // Loop WITHOUT zero-fill (r17): every e.src has an out-edge and every
    // e.dst an in-edge, so the nodes the old per-round `nodes ⟕ raw` left
    // joins added back carried score 0 and contributed floor(0·S+0.5) = 0
    // to every downstream snapped sum — two node-keyed joins per
    // iteration of pure zero traffic. Keep hub/auth SPARSE (only nodes
    // with out-/in-edges) through the loop and zero-fill ONCE at the end.
    // The L1 normalizer is an IN-PLAN broadcast scalar over the persisted
    // raw aggregate (the r16 shape collected it to the driver — one extra
    // job + a blocking sync per half-iteration, 4 per query): summing the
    // raw table alone equals the oracle's sum over the zero-filled table
    // bit-for-bit, and the 2^40 snap keeps it partition-independent.
    if (iters < 1)
      return nodes.select(col("node"), lit(1.0).as("hub"), lit(1.0).as("auth"))
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    var raws = Seq.empty[DataFrame]
    for (_ <- 1 to iters) {
      // LAZY truncate: the next half-iteration's checkpoint (whose AQE
      // planning materializes the upstream exchanges) is the action
      val aRaw = Checkpoints.truncate(
        e.join(hub.select(col("node").as("_s"), col("hub")), col("src") === col("_s"))
          .groupBy(col("dst")).agg(snapSum(col("hub")).as("a_raw")), eager = false)
      val aSum = aRaw.agg(coalesce(snapSum(col("a_raw")), lit(0.0)).as("_l1"))
      auth = aRaw.crossJoin(broadcast(aSum))
        .select(col("dst").as("node"), (col("a_raw") / col("_l1")).as("auth"))
      val hRaw = Checkpoints.truncate(
        e.join(auth.select(col("node").as("_d"), col("auth")), col("dst") === col("_d"))
          .groupBy(col("src")).agg(snapSum(col("auth")).as("h_raw")), eager = false)
      val hSum = hRaw.agg(coalesce(snapSum(col("h_raw")), lit(0.0)).as("_l1"))
      hub = hRaw.crossJoin(broadcast(hSum))
        .select(col("src").as("node"), (col("h_raw") / col("_l1")).as("hub"))
      // the previous round's raw tables were materialized by this round's
      // checkpoint planning; release them (r14)
      Checkpoints.release(raws: _*)
      raws = Seq(aRaw, hRaw)
    }
    // single zero-fill: nodes without out-/in-edges score hub/auth 0.0,
    // exactly the value the old per-round fill carried through
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }

  /** Per-node triangle counts via DEGREE-ORDERED edge orientation
    * (Suri & Vassilvitskii 2011, "Counting Triangles and the Curse of the
    * Last Reducer") — the skew defense that makes triangle counting
    * survive power-law graphs: orienting every edge from its
    * (degree, id)-smaller endpoint toward the larger bounds each node's
    * OUT-degree by O(√E), so the wedge self-join's fan-out is bounded by
    * arboricity instead of the raw degree of the hottest hub (a
    * celebrity node with degree 10^6 would otherwise emit 10^12 wedges
    * from one key).
    *
    * Shape: degree agg → two node-keyed joins to orient → one src-keyed
    * self-equi-join (wedges) → one (v,w)-keyed semi-join (closing edge)
    * → explode + count. All equi-joins; nothing collects.
    *
    * Input `edges`: undirected (a, b) rows, duplicates/self-loops
    * tolerated (canonicalized and dropped here). Output: (node,
    * n_triangles) for every node in ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // und feeds deg + the orient joins, deg feeds two joins, oriented
    // feeds both wedge legs AND the closing semi-join — truncate each once
    // (transitivity's discipline; untruncated, the canonicalize+distinct
    // and the two degree joins re-ran once per consumer, r16 profile)
    val und = Checkpoints.truncate(
      edges.select(
        least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    val deg = Checkpoints.truncate(
      und.select(col("u").as("node"))
        .union(und.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d")))
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge carries its dst's degree so wedge legs can be ordered
    // by the same (degree, id) total order without another join
    val oriented = Checkpoints.truncate(und
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddst")))
    val wedges = oriented.select(col("src"), col("dst").as("y"), col("ddst").as("dy"))
      .join(oriented.select(col("src"), col("dst").as("z"), col("ddst").as("dz")), "src")
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("src").as("x"), col("y"), col("z"))
    val closed = wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("z")),
      Seq("y", "z"), "left_semi")
    closed.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Global transitivity (Newman 2003): 3·triangles / wedges — the
    * one-number "how cliquish is this graph" summary that complements
    * [[triangleCounts]]'s per-node view and [[richClub]]'s per-threshold
    * curve. Same degree-ordered wedge enumeration as [[triangleCounts]]
    * (each triangle closes exactly one ordered wedge, so the count is
    * exact with no /3 correction on the wedge side), with the edge and
    * degree tables checkpointed once (both feed multiple joins). Wedge
    * total rides the doubled integral form Σd(d−1); the coefficient
    * 6·T / Σd(d−1) is the ONLY float op, mirrored in the oracle.
    *
    * Output: one row — (n_triangles, wedges_x2, transitivity).
    */
  def transitivity(edges: DataFrame): DataFrame = {
    val und = Checkpoints.truncate(
      edges.select(
        least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    val deg = Checkpoints.truncate(
      und.select(col("u").as("node"))
        .union(und.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d")))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
    val wedges = oriented.select(col("src"), col("dst").as("y"), col("ddst").as("dy"))
      .join(oriented.select(col("src"), col("dst").as("z"), col("ddst").as("dz")), "src")
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("y"), col("z"))
    val closed = wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("z")),
      Seq("y", "z"), "left_semi")
    closed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(deg.agg(
        // d·(d−1) of a hub degree wraps a long at d ≈ 3·10⁹ and the
        // corpus-wide wedge count long before that → DECIMAL(38,0)
        // staging (q_monthly_hhi pattern); output keeps BIGINT schema
        sum(col("d").cast(Dec38) * (col("d") - 1L)).as("_wedges_x2"))))
      .select(col("n_triangles"),
        col("_wedges_x2").cast("long").as("wedges_x2"),
        ((lit(6L) * col("n_triangles")).cast("double") /
          col("_wedges_x2").cast("double")).as("transitivity"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, Phys. Rev. E 76)
    * — community detection, the grouping signal BETWEEN connected
    * components (which only see reachability) and modularity methods
    * (which need global optimization a data-parallel engine can't do
    * cheaply). Training-data use: cluster hosts/domains of a link graph
    * into communities for per-community sampling caps.
    *
    * Every node starts labeled with its own id; each round it adopts the
    * most frequent label among its neighbors, ties broken toward the
    * SMALLEST label — the deterministic variant (classic LPA breaks ties
    * randomly; a hash-graded engine cannot). Synchronous update, fixed
    * `iters` rounds (the async/convergent variant is order-dependent and
    * therefore partition-dependent — rejected by design).
    *
    * Scale shape per round: one peer-keyed equi-join (neighbor table ×
    * label table — both node-partitioned, co-partitionable), one
    * (node,label) hash agg with map-side partials, one node-keyed argmax
    * agg (`min_by` over (−count, label) — no window). The neighbor table
    * is materialized once and checkpointed; the label table is node-sized
    * and lineage-truncated per round like [[pageRank]]'s rank table.
    * Counts are longs — no float order anywhere, so results are
    * partition-independent by construction.
    *
    * Input `edges`: undirected (a, b) rows; both directions are derived
    * here, self-loops and duplicates dropped. Output: (node, label) for
    * every node with ≥ 1 neighbor; `label` is the id of some member of
    * the node's community.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val und = edges.select(
      least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // persist + peer layout: see pageRank's note (r17) — every round's
    // nbr⋈labels join reuses it and exchanges only the node-sized side
    val nbr = und.select(col("u").as("node"), col("v").as("peer"))
      .union(und.select(col("v").as("node"), col("u").as("peer")))
      .repartition(col("peer")).persist()
    // initial label table truncated like pageRank's initial ranks: round 1
    // otherwise re-runs the node distinct inside each of its jobs (r16)
    var lbl = Checkpoints.truncate(nbr.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl")))
    for (_ <- 1 to iters) {
      val counts = nbr
        .join(lbl.select(col("node").as("peer"), col("lbl")), "peer")
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("cnt"))
      // eager truncate + release: bound live copies to the newest round
      // (r14 — the lazy form held every round's node-sized table at once;
      // see pageRank's note)
      val prev = lbl
      lbl = Checkpoints.truncate(counts.groupBy(col("node"))
        .agg(min_by(col("lbl"), struct((-col("cnt")).as("nc"), col("lbl").as("tb")))
          .as("lbl")))
      Checkpoints.release(prev)
    }
    lbl.select(col("node"), col("lbl").as("label"))
  }

  /** Bounded-round k-core peeling (Seidman 1983; the distributed
    * formulation is Batagelj & Zaversnik 2003): repeatedly delete nodes of
    * degree < k, here for a FIXED number of rounds so both engines (and
    * the unrolled-CTE oracle) compute the identical intermediate state —
    * the fixpoint form is the same loop driven by a convergence checksum
    * like [[graft.operators.Contiguity]]. Training-data use: the k-core
    * of a link/co-occurrence graph is the standard "dense interaction
    * backbone" filter for crawl frontier prioritization and spam-farm
    * pruning.
    *
    * Per round: one degree hash-agg + two semi-joins on the survivor set
    * (node-keyed, partial-aggregable, no windows); lineage truncated per
    * round like [[pageRank]]. Output after `rounds` peels: (node, degree)
    * of the surviving subgraph — degrees still below k mean more rounds
    * were needed, which the bounded form reports honestly.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = Checkpoints.truncate(symmetrize(edges).distinct())
    for (_ <- 1 to rounds) {
      // lazy truncate (zero extra jobs): keep feeds BOTH semi-joins, and
      // Catalyst typically broadcasts it — each broadcast job would re-run
      // the degree aggregation; the persisted blocks compute once and are
      // shared across the round's jobs (r16)
      val keep = Checkpoints.truncate(e.groupBy(col("src")).agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k).select(col("src").as("_k")), eager = false)
      // eager truncate + release: each peel's survivor set replaces the
      // last (and consumes this round's keep) — the lazy form held every
      // round simultaneously (see pageRank's note)
      val prev = e
      e = Checkpoints.truncate(e.join(keep, col("src") === col("_k"), "left_semi")
        .join(keep, col("dst") === col("_k"), "left_semi"))
      Checkpoints.release(prev, keep)
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
  }

  /** Bounded multi-source BFS over `e`, a persisted (src, dst) edge table:
    * `start` holds the round-0 frontier — a `node` column, a `d` column
    * and any label columns (a landmark id) that every reached row carries
    * along. Returns the union of every round's frontier, `(labels..., node,
    * d)` rows with d = hop count; a node reached several ways appears once
    * per way, so callers take the min d.
    *
    * Each deduped frontier is persisted, NOT localCheckpointed: it feeds
    * BOTH the next round's join and the reached-union, so uncached the
    * final job recomputes the whole frontier chain once per consumer
    * (O(rounds²) replays, r16). localCheckpoint is unusable here — its
    * LogicalRDD keeps the pre-checkpoint constraints and the
    * reached-union's constraint rewrite dies on the stale attribute ids
    * (NoSuchElementException in Union.rewriteConstraints, Spark 4.1, hit
    * in r16). persist() keeps the (bounded, ≤12-round) lineage for
    * analysis but computes each frontier once; Bench/Verify release all
    * persisted blocks at query boundaries. The last round feeds only the
    * caller's min-d aggregate, which dedups anyway — it skips the dedup
    * shuffle.
    */
  private def bfsReached(e: DataFrame, start: DataFrame, rounds: Int): DataFrame = {
    val labels = start.columns.filterNot(Set("node", "d")).map(c => col(s"f.$c"))
    var frontier = start
    var reached = start
    for (i <- 1 to rounds) {
      val step = frontier.as("f")
        .join(e.as("g"), col("f.node") === col("g.src"))
        .select(labels :+ col("g.dst").as("node") :+ lit(i.toLong).as("d"): _*)
      frontier = if (i < rounds) step.distinct().persist() else step
      reached = reached.union(frontier)
    }
    reached
  }

  /** Landmark harmonic closeness (the Eppstein–Wang 2004 sampling idea
    * with deterministic landmarks): for every node, Σ over landmarks of
    * 1/d(landmark, node) within `rounds` hops — the scale substitute
    * for exact closeness centrality, whose all-pairs BFS is unrunnable
    * past small graphs. Callers pass a small deterministic landmark
    * frame (a literal or filtered id set, never a sample-by-random).
    *
    * Determinism: reciprocal distances fold via the lcm scaling rule —
    * Σ(lcm/d) is an exact integer sum (lcm(1..rounds)); harmonic is ONE
    * final double division. Multi-source BFS ([[bfsReached]]) carries
    * (landmark, node) labels so one unrolled loop serves every landmark
    * at once. Unreached (landmark, node) pairs contribute nothing —
    * exactly the harmonic-centrality convention for disconnected pairs
    * (1/∞ = 0).
    *
    * Output: one row per reached node — (node, n_lm, h_scaled,
    * harmonic), landmarks' own rows keep d=0 pairs EXCLUDED.
    */
  def landmarkCloseness(edges: DataFrame, landmarks: DataFrame, rounds: Int)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 12, "rounds in [1,12]")
    val lcm = (1 to rounds).foldLeft(1L)((a, b) =>
      a / BigInt(a).gcd(BigInt(b)).toLong * b)
    // persist + src layout (see pageRank's note, r17): every BFS round's
    // frontier⋈edges join reuses the layout and exchanges only the
    // frontier; repartition-before-distinct keeps the exchange count at
    // one (hashpartitioning(src) satisfies the dedup's clustering)
    val e = symmetrize(edges).repartition(col("src")).distinct().persist()
    val start = landmarks.select(col("lm"), col("lm").as("node"), lit(0L).as("d"))
    bfsReached(e, start, rounds)
      .groupBy(col("lm"), col("node")).agg(min(col("d")).as("d"))
      .filter(col("d") > 0L)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_lm"),
        sum(expr(s"$lcm DIV d")).as("h_scaled"))
      .select(col("node"), col("n_lm"), col("h_scaled"),
        (col("h_scaled").cast("double") / lit(lcm.toDouble)).as("harmonic"))
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in
    * networks"): the Pearson correlation of endpoint degrees over the
    * undirected edge list — positive for social-style hub-to-hub mixing,
    * negative for the hub-and-spoke shape typical of crawl and
    * transaction graphs. One degree agg, two node-keyed joins to attach
    * endpoint degrees, ONE moment aggregation; every moment is carried in
    * DECIMAL(38,0) (per-operand casts BEFORE the product — the
    * linregExact overflow discipline: edge-count × squared-degree sums
    * exceed Long at sf0.1 already) and the ONLY floating point is the
    * final scalar expression, ordered identically in the oracle. sqrt is
    * IEEE-correctly-rounded, hence engine-portable.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // und feeds the degree agg + the moment join, deg feeds both endpoint
    // joins — truncate once each (r16; richClub's discipline)
    val und = Checkpoints.truncate(symmetrize(edges).distinct())
    val deg = Checkpoints.truncate(
      und.groupBy(col("src")).agg(count(lit(1)).as("_deg")))
    val m = und
      .join(deg.select(col("src"), col("_deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("_deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).cast(dec).as("m"),
        sum(col("dx").cast(dec)).as("sx"),
        sum(col("dy").cast(dec)).as("sy"),
        sum(col("dx").cast(dec) * col("dy").cast(dec)).as("sxy"),
        sum(col("dx").cast(dec) * col("dx").cast(dec)).as("sxx"),
        sum(col("dy").cast(dec) * col("dy").cast(dec)).as("syy"))
    m.select(
      col("m").cast("long").as("n_edges"),
      ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
          sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .as("r"))
  }

  /** Degree histogram — the first diagnostic anyone runs on a link graph
    * (hub detection, power-law sanity check, skew sizing for the
    * PageRank/CC shuffles above). Two chained hash aggs: per-node degree,
    * then nodes per degree. Both partial+final; nothing sorts.
    */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst")).distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Bipartite (2-colorability) audit within a bounded BFS ball: color
    * every node reached from `sourceNode` within `rounds` hops by depth
    * parity, then count edges whose endpoints share a parity — each one
    * witnesses an odd cycle, so n_conflicts_x2 = 0 certifies the ball is
    * bipartite and n_conflicts_x2 > 0 disproves bipartiteness globally
    * (an odd cycle anywhere is final; the zero answer is only as wide as
    * the ball — the documented bounded-round caveat, same as [[kCore]]'s
    * bounded peeling).
    *
    * Shape: the [[bfsReached]] single-source BFS (edges persisted in the
    * src layout, as in [[landmarkCloseness]]), a min-depth aggregate
    * (checkpointed — the conflict join uses it twice), then one
    * edge-to-depths equi-join pair and a 1-row exact rollup.
    *
    * Output: one row — (n_reached, n_edges_x2, n_conflicts_x2,
    * is_bipartite_ball), edge counts in the symmetrized directed form.
    */
  def bipartiteCheck(edges: DataFrame, sourceNode: Long, rounds: Int)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 12, "rounds in [1,12]")
    // persist + src layout: see landmarkCloseness's note (r17)
    val e = symmetrize(edges).repartition(col("src")).distinct().persist()
    val start = edges.sparkSession.range(1)
      .select(lit(sourceNode).as("node"), lit(0L).as("d"))
    val depth = Checkpoints.truncate(
      bfsReached(e, start, rounds).groupBy(col("node")).agg(min(col("d")).as("d")))
    val checked = e
      .join(depth.select(col("node").as("src"), col("d").as("du")),
        Seq("src"))
      .join(depth.select(col("node").as("dst"), col("d").as("dv")),
        Seq("dst"))
      .agg(count(lit(1)).as("n_edges_x2"),
        sum(when((col("du") + col("dv")) % 2 === 0L, 1L).otherwise(0L))
          .as("n_conflicts_x2"))
    checked.crossJoin(broadcast(
        depth.agg(count(lit(1)).as("n_reached"))))
      .select(col("n_reached"), col("n_edges_x2"), col("n_conflicts_x2"),
        (col("n_conflicts_x2") === 0L).as("is_bipartite_ball"))
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004): for each degree
    * threshold k, the density of the subgraph induced by nodes of
    * degree > k — φ(k) = 2·E(>k) / (N(>k)·(N(>k)−1)). A rising φ(k)
    * means hubs preferentially interconnect (the "rich club"), the
    * structural complement of [[assortativity]]'s single summary r.
    *
    * Scale shape: symmetrized-distinct edges, one degree agg, one
    * min-endpoint-degree projection — then the corpus collapses into
    * TWO bounded histograms (degree-value and min-degree-value), and
    * every threshold evaluates against the histograms joined to the
    * literal k list (broadcast, a few rows). No per-k corpus pass, no
    * induced-subgraph materialization. All counts exact longs; φ is
    * ONE double division per k. Thresholds with fewer than two rich
    * nodes are dropped (φ undefined).
    *
    * Output: one row per viable k — (k, n_rich, e_rich_x2, phi), with
    * e_rich_x2 counting directed (symmetrized) edges = 2·E(>k).
    */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    // und feeds the degree agg AND the min-degree projection, deg feeds
    // the histogram AND both endpoint joins — truncate once each or the
    // whole edge derivation replans (and rescans) per reference
    val und = Checkpoints.truncate(symmetrize(edges).distinct())
    val deg = Checkpoints.truncate(
      und.groupBy(col("src")).agg(count(lit(1)).as("_deg")))
    val degHist = deg.groupBy(col("_deg").as("dg"))
      .agg(count(lit(1)).as("dcnt"))
    val mdHist = und
      .join(deg.select(col("src"), col("_deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("_deg").as("dy")),
        Seq("dst"))
      .select(least(col("dx"), col("dy")).as("md"))
      .groupBy(col("md")).agg(count(lit(1)).as("mcnt"))
    val ksDf = edges.sparkSession.range(1)
      .select(explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"))
    val nRich = ksDf
      .join(broadcast(degHist), col("dg") > col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("dcnt")), lit(0L)).as("n_rich"))
    val eRich = ksDf
      .join(broadcast(mdHist), col("md") > col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("mcnt")), lit(0L)).as("e_rich_x2"))
    nRich.join(eRich, Seq("k"))
      .filter(col("n_rich") >= 2L)
      .select(col("k"), col("n_rich"), col("e_rich_x2"),
        (col("e_rich_x2").cast("double") /
          (col("n_rich") * (col("n_rich") - 1L)).cast("double")).as("phi"))
  }

  /** Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    * 2003): for node pairs at distance 2, the common-neighbor count and
    * Jaccard score cn / (deg(u)+deg(w)−cn) — "users who share many
    * co-purchases", "suppliers serving the same orders", the classic
    * recommend-an-edge primitive. Log-free by design (Adamic–Adar's
    * 1/ln(deg) weighting is the same plan with an engine-variant log —
    * rejected for the same reason tf-idf here is log-free).
    *
    * Shape: one degree agg; wedges from each CENTER node's neighbor list
    * via a src-keyed self-equi-join (u < w canonicalizes); a (u,w) hash
    * agg counts common neighbors; two broadcast-scale joins attach
    * degrees; existing edges leave via a canonical-pair anti-join. The
    * wedge fan-out is deg(center)² — hubs above `maxCenterDegree` are
    * EXCLUDED as wedge centers (spec-pinned): the production cap that
    * keeps a celebrity node from emitting 10¹² candidate pairs, at the
    * documented cost of under-counting commons that only hubs witness
    * (popularity-dominated evidence, the noise tier of this signal).
    * `minCommon` bounds the output.
    */
  def linkPredictJaccard(edges: DataFrame, maxCenterDegree: Long,
                         minCommon: Long): DataFrame = {
    // und feeds deg + the center semi-join + the existing-edge anti-join,
    // deg feeds three joins, centers feeds both wedge legs — truncate each
    // once (untruncated, the symmetrize+distinct re-ran from the source
    // scan once per consumer: three full scans in the r16 profile)
    val und = Checkpoints.truncate(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b")).distinct())
    val deg = Checkpoints.truncate(
      und.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree")))
    val centers = Checkpoints.truncate(
      und.join(deg.filter(col("degree") <= maxCenterDegree)
        .select(col("node").as("a")), Seq("a"), "left_semi"))
    val wedges = centers.select(col("a").as("v"), col("b").as("u"))
      .join(centers.select(col("a").as("v"), col("b").as("w")), Seq("v"))
      .filter(col("u") < col("w"))
    val cn = wedges.groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    val existing = und.filter(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("w"))
    cn.join(existing, Seq("u", "w"), "left_anti")
      .join(deg.select(col("node").as("u"), col("degree").as("deg_u")), Seq("u"))
      .join(deg.select(col("node").as("w"), col("degree").as("deg_w")), Seq("w"))
      .select(col("u"), col("w"), col("cn"), col("deg_u"), col("deg_w"),
        (col("cn").cast("double") /
          (col("deg_u") + col("deg_w") - col("cn")).cast("double"))
          .as("jaccard"))
  }
}
