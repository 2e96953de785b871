package graft

/** Physical-plan invariants — the scale guarantees PLANS.md documents,
  * asserted so a regression (an accidental cartesian, a lost broadcast, a
  * widened scan) fails the build rather than surfacing at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("dedup pipelines contain no cartesian product") {
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_exact",
      "q_embed_near_dup", "q_ann_lsh", "q_winnow")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("star joins broadcast the dimension tables") {
    val p = plan("q_join_enrich")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("threshold filter scan is column-pruned") {
    val p = plan("q_threshold_filter")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"))
  }

  test("incremental anti-join is a hash anti-join on pruned keys") {
    val p = plan("q_incremental_antijoin")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dissolve runs as partial+final aggregation") {
    val p = plan("q_geo_dissolve")
    // two ObjectHashAggregate occurrences = partial + final union agg
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2)
  }

  test("bucketed join needs no exchange on the join keys") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), "expected a sort-merge join over buckets")
    // the only exchange is the final groupBy(o_orderstatus); the join reads
    // co-located buckets directly
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(exchanges.size === 1, s"expected 1 agg exchange, got ${exchanges.size}")
    assert(!p.contains("hashpartitioning(o_orderkey"), "join side got re-shuffled")
    assert(!p.contains("hashpartitioning(l_orderkey"), "join side got re-shuffled")
  }

  test("ivf pairs join is an equi-join on the cell id") {
    val p = plan("q_ann_ivf")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop joins are the 16-centroid broadcast, printed
    // once per self-join side (the vec_id exchange above them is reused at
    // runtime, so the assignment executes once); the pair join itself must
    // be the cell equi-join, never corpus × corpus
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "cell pair join missing an equi-join")
  }

  test("temporal joins never plan a nested-loop or cartesian") {
    for (q <- Seq("q_asof_join", "q_range_join")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("sessionize plans a single exchange for both windows and the agg") {
    val p = plan("q_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected 1 user_id exchange, got $exchanges")
  }

  test("enrich default sid mode plans no global sort or single-partition funnel") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Raster.enrich(
      spark.read.parquet(s"$dir/supplier.parquet"),
      lits = Map("source" -> "vtech"), renames = Map.empty,
      sidOrder = Seq(col("s_suppkey")))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), "default sid funnels through one task")
    assert(!p.contains("Window"), "default sid must not use a global window")
    // ids still unique
    assert(df.select("sid").distinct().count() === df.count())
  }

  test("speciesDataExact default sid mode has no single-partition funnel") {
    val gdir = QueriesCore.fixtureGridDir()
    val df = graft.operators.SpeciesPipeline.speciesDataExact(spark, s"$gdir/*.asc")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      "default sid must not funnel the fact table through one task")
    assert(df.select("sid").distinct().count() === df.count())
  }

  test("speciesData default mode funnels at most the distinct-species dim") {
    val gdir = QueriesCore.fixtureGridDir()
    val df = graft.operators.SpeciesPipeline.speciesData(spark, s"$gdir/*.asc")
    val p = df.queryExecution.executedPlan.toString
    // one SinglePartition exchange is allowed: the species_id rank over
    // the DISTINCT species dim (bounded, broadcast back) — never the facts
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1)
    assert(p.contains("BroadcastHashJoin"), "species_id dim must join back broadcast")
    assert(df.select("sid").distinct().count() === df.count())
  }

  test("quality classifier joins the weight table broadcast, never shuffled") {
    val p = plan("q_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      "dim-sized weight table must broadcast to the feature facts")
    assert(!p.contains("SortMergeJoin"),
      "a shuffled weight join moves the whole corpus's features")
  }

  test("ivf centroid assignment aggregates instead of sorting") {
    val p = plan("q_ann_ivf")
    assert(!p.contains("Window"), "argmax should be a max_by hash agg, not a window sort")
  }

  test("corpus pipeline composes without cartesians or global sorts") {
    val p = plan("q_corpus_pipeline")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"), "pipeline must not funnel through one task")
  }

  test("full corpus pipeline (quality/repetition/decon/dedup/split/pack) stays funnel-free") {
    val p = plan("q_corpus_full")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"), "pipeline must not funnel through one task")
    // the decontamination stage must hit the corpus via a broadcast join
    assert(p.contains("BroadcastHashJoin"))
  }

  test("bloom decontamination prunes map-side and keeps the broadcast verify join") {
    val p = plan("q_decontaminate_bloom")
    assert(p.contains("BroadcastHashJoin"), "exact verify must stay a broadcast semi-join")
    assert(!p.contains("CartesianProduct"))
    // the corpus is never shuffled on a gram key: the only exchanges are
    // for the contaminated-id distinct and the final anti-join
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("pq ann broadcasts codebooks and LUT; corpus is never cartesian-joined") {
    val p = plan("q_ann_pq")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "codebook/LUT joins carry equi-keys (sub, code) and must hash-join")
    assert(p.contains("BroadcastHashJoin"),
      "the m*ksub codebook and |Q|*m*ksub LUT are broadcast dims")
  }

  test("kmeans assignment is a hash aggregate, not a window sort") {
    val p = plan("q_kmeans")
    assert(!p.contains("Window"), "argmin must be min_by partial+final agg")
    assert(!p.contains("CartesianProduct"), "centroids must broadcast")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("quantization and pii scrub are shuffle-free scans") {
    for (q <- Seq("q_embed_quantize", "q_pii_scrub")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q is per-row scalar work and must not shuffle")
    }
  }

  test("domain mix shards the cumsum — no whole-domain funnel, offsets broadcast") {
    val p = plan("q_domain_mix")
    assert(!p.contains("Exchange SinglePartition"), "a domain must never collapse to one task")
    assert(p.contains("BroadcastHashJoin"), "the domains-by-shards offsets table must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("substring dedup is equi-joins and hash aggs only") {
    val p = plan("q_substring_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("inverted index never funnels and caps postings before the collect") {
    val p = plan("q_inverted_index")
    assert(!p.contains("Exchange SinglePartition"))
    assert(!p.contains("CartesianProduct"))
  }

  test("tokenize/collocations/corpus-diff stay equi-join + hash-agg shaped") {
    for (q <- Seq("q_tokenize_ids", "q_collocations", "q_corpus_diff")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      // collocations carries ONE sanctioned nested-loop join: the 1-row
      // corpus-total broadcast (same pattern as tf-idf's N). Everything
      // else stays strictly equi-join.
      val bnljBudget = if (q == "q_collocations") 1 else 0
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= bnljBudget,
        s"$q has an unsanctioned nested-loop join")
    }
    // the vocab side of tokenization must reach the corpus via broadcast
    assert(plan("q_tokenize_ids").contains("BroadcastHashJoin"))
  }

  test("semdedup pair stage is an equi-join on the cluster id") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"), "pairs must never go all-pairs")
    assert(!p.contains("Exchange SinglePartition"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "cell pair join missing an equi-join")
  }

  test("dsir scores end in a heap top-N with broadcast score tables") {
    val p = plan("q_dsir_weights")
    assert(p.contains("TakeOrderedAndProject"), "top-N must be per-partition heaps")
    assert(!p.contains("CartesianProduct"))
    // the B-row bucket-score table joins back by broadcast, never a shuffle
    assert(p.contains("BroadcastHashJoin"))
    // one sanctioned nested-loop join: the 1-row (R, T) totals broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
  }

  test("hard negatives: candidates come from a cell equi-join, not all-pairs") {
    val p = plan("q_hard_negatives")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop joins are the 16-centroid broadcast (once per
    // consumer of the assignment subtree); the candidate join must be the
    // cell equi-join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "cell candidate join missing an equi-join")
  }

  test("k-anonymity joins group counts back by broadcast") {
    val p = plan("q_k_anonymity")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both ladder levels must broadcast their count tables")
  }

  test("bm25 takes top-k with heaps, never a global sort") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be per-partition heaps")
    assert(!p.contains("CartesianProduct"))
    // one sanctioned nested-loop join: the 1-row (N, avgdl) stats broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
    // query-term df table is dictionary-sized — must broadcast
    assert(p.contains("BroadcastHashJoin"))
  }

  test("quality gate broadcasts cutoffs and ranks only tie groups") {
    val p = plan("q_quality_gate")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"),
      "no per-domain global sort may reach the physical plan")
    assert(p.contains("BroadcastHashJoin"), "the per-domain cutoff table must broadcast")
  }

  test("cdc chunking windows per document and never funnels") {
    val p = plan("q_cdc_chunks")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("length buckets shard their windows") {
    val p = plan("q_length_buckets")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Exchange SinglePartition"),
      "batch assembly must never sort one bucket on one task")
  }

  test("salted join stays an equi-join, replicated side shuffle-hash-pinned") {
    // r16: saltedJoin pins shuffle_hash on BOTH sides — the replicated
    // side comes from explode(sequence(...)) whose Generate node wrecks
    // size estimates, and a stats-driven broadcast of it would negate
    // the parallelism fix (the r15 FastSS stall class). The former pin
    // here ("replicated dim must broadcast") asserted exactly the
    // regression the hint now forbids.
    val p = plan("q_salted_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ShuffledHashJoin"), "salted join must shuffle-hash")
    assert(!p.contains("BroadcastHashJoin"),
      "the replicated side must never broadcast")
  }

  test("changelog apply is one full-outer equi-join, no funnel") {
    val p = plan("q_upsert")
    assert(p.contains("FullOuter"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("degree histogram is two chained hash aggs") {
    val p = plan("q_graph_degrees")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("sparse cosine candidates come from equi-joins, never all-pairs") {
    val p = plan("q_sparse_cosine")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("funnel and retention are user-keyed joins + hash aggs, no windows") {
    for (q <- Seq("q_funnel", "q_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q should need no window")
      assert(!p.contains("Exchange SinglePartition"))
    }
  }

  test("novelty, split leakage and containment stay equi-join shaped") {
    for (q <- Seq("q_novelty", "q_split_leakage", "q_containment",
      "q_incremental_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
      assert(!p.contains("Exchange SinglePartition"), s"$q funnels")
    }
  }

  test("quantile sketch is slot hash-aggs + group windows, never a funnel") {
    val p = plan("q_quantile_sketch")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"),
      "the sketch must never collapse a group to one task")
    // the operator alone: the slot agg exchange + the group-window
    // exchange — the only passes over data; windows run on the tiny
    // per-group slot table
    import org.apache.spark.sql.functions.{col, expr}
    val v = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
    val sp = graft.operators.Quantile
      .logLinearQuantile(v, Seq("l_returnflag"), "v", 0.5)
      .queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange SinglePartition"))
    assert("Exchange hashpartitioning".r.findAllIn(sp).size <= 2,
      "sketch must be one slot agg + one group window, nothing more")
  }

  /** Executed plans of every query `body` runs — each round's eager or
    * lazy truncation and the final collect — gathered with a
    * QueryExecutionListener, so a checkpointed loop is inspected round by
    * round instead of as one full-lineage plan.
    */
  private def roundPlans(body: => org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body.collect()
      // events arrive asynchronously and in order: the final collect's
      // event means every round's has arrived
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!plans.asScala.exists(_._1 == "collect") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val got = plans.asScala.toSeq
    assert(got.exists(_._1 == "collect"), "the final collect was never reported")
    assert(got.count(_._1 == "localCheckpoint") >= 2, s"no round plans: ${got.map(_._1)}")
    got.map(_._2)
  }

  test("dangling pagerank keeps equi-join routing (every round)") {
    import org.apache.spark.sql.functions.col
    val edges = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_orderkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val ps = roundPlans(graft.operators.Graph
      .pageRank(edges, iters = 1, redistributeDangling = true))
    assert(!ps.exists(_.contains("CartesianProduct")),
      "the dangling scalar must broadcast, never plan a cartesian")
    assert(ps.exists(_.contains("Exchange hashpartitioning")))
    assert(ps.exists(p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin")), "contribution routing must be an equi-join")
  }

  test("pagerank iterations are equi-joins + hash aggs (every round)") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_orderkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = li.union(li.select(col("dst").as("src"), col("src").as("dst")))
    val ps = roundPlans(graft.operators.Graph.pageRank(edges, iters = 1))
    assert(!ps.exists(_.contains("CartesianProduct")))
    // SinglePartition exchanges exist ONLY for the 1-row n_nodes total
    // (inherently single-partition, bounded); the per-destination
    // contribution sums must be hash-partitioned aggs + equi-joins
    assert(ps.exists(_.contains("Exchange hashpartitioning")))
    assert(ps.exists(p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin")), "contribution routing must be an equi-join")
  }

  test("triangle counting is equi-joins only — wedge join never goes cartesian") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("interval merge and ohlc reuse one keyed exchange for windows + agg") {
    // both ops: window partitioning == final grouping prefix, so Catalyst
    // must NOT add a second fact-side exchange (windows and agg share the
    // shuffle; the agg's clustering requirement is satisfied by the
    // window's hashpartitioning)
    for (q <- Seq("q_interval_merge", "q_ohlc")) {
      val p = plan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges === 1, s"$q: expected 1 keyed exchange, got $exchanges")
      assert(!p.contains("Exchange SinglePartition"), s"$q funnels")
    }
  }

  test("scd2 runs all three windows off one keyed exchange") {
    val p = plan("q_scd2")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1,
      s"change-detect lag and valid_to/version windows share one " +
        s"(user_id) sort; got $exchanges exchanges")
    assert(!p.contains("Exchange SinglePartition"), "scd2 funnels")
  }

  test("z-order stats and the sketch register folds are single-agg shapes") {
    // zorder: per-row z arithmetic + one grouped agg — nothing else
    val pz = plan("q_zorder")
    assert(!pz.contains("Window") && !pz.contains("Join"), "zorder must stay scan+agg")
    // hll: register fold is two chained hash aggs, no window/sort funnel
    val ph = plan("q_hll_distinct")
    assert(!ph.contains("Window"))
    assert(!ph.contains("CartesianProduct"))
    // cms: the sketch side must reach the probe join as a BROADCAST
    val pc = plan("q_heavy_hitters")
    assert(pc.contains("BroadcastHashJoin"), "2048-row sketch must broadcast")
    assert(!pc.contains("CartesianProduct"))
  }

  test("exact corr is one partial+final hash agg over the scan") {
    val p = plan("q_corr")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected 1 group-key exchange, got $exchanges")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("r8 queries: no cartesians; nested loops only for 1-row broadcasts") {
    // sanctioned BNLJ budgets = the 1-row scalar broadcasts each query
    // declares (bounds/total/estimate frames); everything else equi-joins
    val budget = Map(
      "q_gap_fill" -> 1,       // day-bounds scalar
      "q_heavy_hitters" -> 1,  // token-total scalar
      "q_hll_union" -> 2,      // two 1-row estimate frames
      "q_ewma" -> 0, "q_incr_agg" -> 0, "q_url_dedup" -> 0,
      "q_bpe_encode" -> 3,     // one 1-row merge-rule broadcast per round
      "q_spatial_join" -> 0, "q_interval_merge" -> 0, "q_ohlc" -> 0)
    for ((q, b) <- budget) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= b, s"$q has $bnlj nested-loop joins (budget $b)")
    }
  }

  test("r10 queries: no cartesians; nested loops only for 1-row broadcasts") {
    val budget = Map(
      "q_hll_sliding" -> 1,     // max-day scalar rides as a 1-row broadcast
      // the ANN path itself is a bucket equi-join; the 4 BNLJs are the
      // brute-force ground-truth harness (5-query broadcast x corpus),
      // whose subtree the plan replays for each of truth's three uses
      "q_ann_ndcg" -> 4,
      "q_context_windows" -> 0, // pure per-row expand
      "q_setsim_join" -> 0,     // prefix-shingle equi-join + id-keyed joins
      "q_mad_outliers" -> 0,    // group aggs + broadcast hash joins
      "q_histogram" -> 0,       // one hash agg
      "q_attribution" -> 0,     // union+window carry-forward, id equi-join
      "q_attribution_linear" -> 0, // binned range equi-join + count join
      "q_top_paths" -> 0,       // sessionize windows + TakeOrdered top-k
      "q_schema_evolution" -> 0) // two writes + one merged-scan agg
    for ((q, b) <- budget) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= b, s"$q has $bnlj nested-loop joins (budget $b)")
    }
    // the context-window expand must not shuffle or window at all
    val cw = plan("q_context_windows")
    assert(!cw.contains("Exchange") && !cw.contains("Window"),
      "context windows must be a pure local expand")
  }

  test("r11 operators keep their scale shapes") {
    // both percentile rewrites: the TypedImperativeAggregate is gone for good
    for (q <- Seq("q_mad_outliers", "q_winsorize", "q_outliers")) {
      val p = plan(q)
      assert(!p.contains("ObjectHashAggregate"), s"$q buffers values in an object agg")
      assert(!p.contains("percentile"), s"$q fell back to the percentile agg")
    }
    // winsorize: every window over raw rows is keyed by (flag, bkt, which) —
    // the only flag-only window runs over the buckets-sized histogram
    val pw = plan("q_winsorize")
    assert(pw.contains("bkt"), "winsorize lost its bucket-histogram cutoff")
    // spatial polygon join: candidates meet in an equi-join; the only
    // nested-loop joins are the 3-row thresholds dim of the speciesdata
    // input (twice: once per side-effect-free reference)
    val ps = plan("q_spatial_join_poly")
    assert(!ps.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(ps).size <= 2)
    // IVF-PQ family: corpus is never cartesian-joined; the only BNLJs are
    // the K-row coarse-centroid broadcasts (once per cells reference)
    for ((q, b) <- Seq("q_ann_ivfpq" -> 2, "q_ann_ivfpq_probe2" -> 2,
      "q_ann_rp" -> 1, "q_temperature_mix" -> 1)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= b, s"$q has $bnlj nested-loop joins (budget $b)")
    }
    // mixture sampling never shuffles the corpus: no window, and the only
    // exchanges feed the domains-sized aggregates
    val pm = plan("q_temperature_mix")
    assert(!pm.contains("Window"), "temperature mix must not window")
  }

  test("url dedup is a pure scan until the canonical-key aggregation") {
    val p = plan("q_url_dedup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    // partial agg -> one canonical-key exchange -> final agg (countDistinct
    // adds its Expand within the same keyed exchange chain)
    assert(exchanges <= 2, s"regex chain must not shuffle: $exchanges exchanges")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("r12 operators keep their scale shapes") {
    // all four are equi-join / hash-agg routed — nothing may go cartesian
    // or nested-loop (no 1-row broadcast dims anywhere in these)
    for (q <- Seq("q_label_prop", "q_dp_counts", "q_rake", "q_record_linkage",
      "q_shard_shuffle", "q_dedup_minhash_weighted", "q_l_diversity",
      "q_span_corruption")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
    // join-size estimator: the sketches meet in a (seed,bucket) equi-join;
    // the only nested loops are the 1-row scalar broadcasts (est × exact ×
    // sizes, twice — one per graded pair)
    val pj = plan("q_join_size_est")
    assert(!pj.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(pj).size <= 6)
    // epoch-shuffle summary: the assignment is a pure projection, so the
    // whole query is scan -> partial agg -> ONE shard-keyed exchange
    val px = plan("q_shard_shuffle")
    assert("Exchange hashpartitioning".r.findAllIn(px).size === 1)
    assert(!px.contains("Window") && !px.contains("Sort"))
    // DP release: one keyed exchange (group counts), scalar noise on top —
    // no second shuffle, no window, no join
    val pd = plan("q_dp_counts")
    assert("Exchange hashpartitioning".r.findAllIn(pd).size === 1)
    assert(!pd.contains("Window") && !pd.contains("Join"))
    // RAKE: windows are the per-document run-numbering prefix sum (key =
    // doc_id), never a corpus-wide window; the vocabulary collapse keeps
    // the corpus-sized windowed subtree to one per consumer chain (word
    // stats + score join = 2)
    val pr = plan("q_rake")
    val winSpecs = "Window \\[".r.findAllIn(pr).size
    assert(winSpecs <= 2, s"rake re-expands its windowed subtree: $winSpecs")
    assert(pr.contains("hashpartitioning(doc_id"), "rake window must key on doc_id")
    // linkage: block sizes broadcast back; the pair join is a hash join on
    // the block key
    val pl = plan("q_record_linkage")
    assert(pl.contains("BroadcastHashJoin") || pl.contains("SortMergeJoin"))
  }

  test("r12 additions keep their scale shapes") {
    for (q <- Seq("q_chi2_terms", "q_cusum", "q_seasonal_anomaly",
      "q_simpson", "q_decayed_sum", "q_auc", "q_link_predict",
      "q_rate_shrinkage", "q_ab_ztest", "q_spatial_nn", "q_tpch_q5")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    // TPC-H Q5: the three dims (supplier, nation⋈region, and the
    // broadcast-hinted sides) hash-join broadcast; the fact side never
    // nested-loops
    val p5 = plan("q_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 3,
      "Q5 dims must broadcast")
    assert(!p5.contains("BroadcastNestedLoopJoin"))
    // skyline: the ONLY nested loop is the domination residual over the
    // pruned candidate set (plus the 1-row range broadcast)
    val ps = plan("q_skyline")
    assert("BroadcastNestedLoopJoin".r.findAllIn(ps).size <= 2)
    // benford/corr-matrix/auc: single corpus scan each
    for (q <- Seq("q_benford", "q_corr_matrix", "q_auc")) {
      val n = "Scan parquet".r.findAllIn(plan(q)).size
      assert(n <= 2, s"$q rescans the corpus: $n scans")
    }
  }

  test("r12 late additions keep their scale shapes") {
    // cartesian-free across the closing batch
    for (q <- Seq("q_density_clusters", "q_hll_intersect", "q_forecast_eval",
      "q_gini", "q_ks_drift", "q_basket_rules", "q_quantile_norm",
      "q_preference_pairs", "q_bpe_fertility", "q_tpch_q1", "q_tpch_q3",
      "q_tpch_q4", "q_tpch_q6", "q_tpch_q18", "q_cuped",
      "q_rendezvous_shards", "q_benford")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q has a cartesian")
    }
    // preference pairs: ONE group-keyed agg, no window, no self-join
    val pp = plan("q_preference_pairs")
    assert(!pp.contains("Window"), "preference pairs must not window")
    // gini & ks: the only ordered windows run over histograms — assert
    // the window input is an AGGREGATED (hash-agg) subtree, not the scan
    for (q <- Seq("q_gini", "q_ks_drift")) {
      val p = plan(q)
      assert(p.contains("Window"), s"$q expected a bounded window")
      assert(p.contains("HashAggregate"), s"$q window must ride a histogram")
    }
    // Q1/Q6: pure scan -> partial/final agg, no join anywhere
    for (q <- Seq("q_tpch_q1", "q_tpch_q6"))
      assert(!plan(q).contains("Join"), s"$q must be join-free")
    // Q4: the EXISTS is a LeftSemi hash join, never a nested loop
    val p4 = plan("q_tpch_q4")
    assert(p4.contains("LeftSemi"), "Q4 EXISTS must plan as left-semi")
    assert(!p4.contains("BroadcastNestedLoopJoin"))
  }

  test("r13 reworked operators keep their scale shapes") {
    // FastSS fuzzy join: candidates from a variant equi-join — no
    // cartesian, no nested loop, and no corpus-ordered window anywhere
    val pf = plan("q_fuzzy_join")
    assert(!pf.contains("CartesianProduct"), "fuzzy join went cartesian")
    assert(!pf.contains("BroadcastNestedLoopJoin"))
    assert(!pf.contains("Window"), "FastSS path must not window")
    // record linkage: the pair join must key on the REFINED block
    // (nk, seg, bb) — the balance band visible in the join key set is
    // what keeps block populations band-density-sized at scale
    val pl = plan("q_record_linkage")
    assert(!pl.contains("CartesianProduct") &&
      !pl.contains("BroadcastNestedLoopJoin"))
    assert(pl.contains("bb#") || pl.contains("bb "),
      "linkage pair join must include the balance band key")
    // containment: array verify — the only joins are the shingle-array
    // groupBys and candidate/doc equi-joins; re-exploded probe joins on
    // (b_id, shingle) would show a join key named shingle
    val pc = plan("q_containment")
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoopJoin"))
    // edit-distance join: deletion-variant equi-join, never all-pairs
    val pe = plan("q_edit_dist_join")
    assert(!pe.contains("CartesianProduct") &&
      !pe.contains("BroadcastNestedLoopJoin"))
  }

  test("r13 late additions keep their scale shapes") {
    // the TPC-H completions: dims broadcast, fact streamed, no
    // cartesian anywhere; Q9's four dims are all broadcast-hash
    for (q <- Seq("q_tpch_q2", "q_tpch_q8", "q_tpch_q9", "q_tpch_q10",
      "q_tpch_q11", "q_tpch_q12", "q_tpch_q16", "q_tpch_q17",
      "q_tpch_q20", "q_tpch_q21")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert("BroadcastHashJoin".r.findAllIn(plan("q_tpch_q9")).size >= 3,
      "Q9 star dims must broadcast")
    // rank statistics never window over corpus rows: the only Window
    // runs AFTER the histogram hash agg (bounded domain)
    for (q <- Seq("q_mann_whitney", "q_kendall_tau", "q_trend_test")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") || q == "q_kendall_tau",
        s"$q has an unexpected cartesian")
    }
    // FD melt is ONE scan: a single parquet scan of orders feeds all
    // candidate pairs (the per-pair union shape would scan 3x)
    val pf = plan("q_fd_check")
    assert("FileScan parquet".r.findAllIn(pf).size === 1,
      "fd melt must scan orders exactly once")
    // growth accounting: the lifecycle classification is a join, not a
    // window — no Window operator in the plan at all
    assert(!plan("q_growth_accounting").contains("Window"),
      "growth ledger must not window")
    // hampel: the ONLY window runs over the per-key day domain AFTER
    // the daily hash agg — the scan side shows the agg below the window
    val ph = plan("q_hampel")
    assert(ph.contains("Window"), "hampel needs its bounded window")
    assert(!ph.contains("CartesianProduct"))
    // blocking quality / split balance: 1-row totals broadcast back —
    // nested loops only for broadcast of the 1-row frame
    for (q <- Seq("q_blocking_quality", "q_split_balance")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
  }

  test("r13 profile curves keep the bounded-shuffle discipline") {
    for (q <- Seq("q_ttr", "q_hapax", "q_token_df_hist", "q_vocab_growth",
      "q_return_rate", "q_repeat_rate", "q_local_clustering", "q_burstiness",
      "q_session_depth_hist", "q_local_trade", "q_order_size_hist",
      "q_discount_lift", "q_embed_norm_hist", "q_prefix_dup",
      "q_ngram_coverage", "q_stickiness")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested-loop join")
    }
    for (q <- Seq("q_order_backlog", "q_supplier_hhi", "q_dim_moments",
      "q_user_lifespan", "q_trade_balance", "q_basket_diversity",
      "q_return_impact")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested-loop join")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    // q_cross_lang_dup inherits ngramJaccardSample's documented
    // bounded-sample BNLJ; its lang joins must still be hash equi-joins
    assert(plan("q_cross_lang_dup").contains("BroadcastHashJoin"),
      "lang attachment should be a hash join")
    // later additions: hash-agg/equi-join shapes, no cartesian;
    // window-free (scalar totals broadcast as 1-row frames)
    for (q <- Seq("q_tax_impact", "q_nation_part_overlap", "q_hour_profile",
      "q_seasonal_revenue", "q_wow_growth", "q_zscore_flags", "q_dead_stock",
      "q_exclusive_parts", "q_lsh_band_load", "q_keyword_burst",
      "q_group_corr", "q_reorder_rate", "q_edge_support",
      "q_attribution_decay")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    // q_cosine_hist / q_knn_purity / q_dedup_source_impact ride the
    // documented bounded-sample / broadcast-query BNLJ regimes — only
    // assert no cartesian (a BNLJ over a broadcast 1-row/sample frame
    // is the intended plan)
    for (q <- Seq("q_cosine_hist", "q_knn_purity", "q_dedup_source_impact"))
      assert(!plan(q).contains("CartesianProduct"), s"$q has a cartesian")
    // window-free hash-agg shapes from the closing batches
    for (q <- Seq("q_hist2d", "q_daily_abandonment", "q_tainted_orders",
      "q_type_rollup", "q_dow_hour_heatmap", "q_price_endings",
      "q_firstorder_ltv_corr")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    // per-key-bounded window shapes (ntile / sessionize / islands): the
    // window must be PARTITIONED, never a single global sort
    for (q <- Seq("q_window_ntile", "q_hourly_conversion",
      "q_activity_streaks")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(p.contains("Window"), s"$q should window per key")
      assert(!p.contains("Window [") ||
        !p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
        s"$q has an unpartitioned window")
    }
    // true dims broadcast; the fact-sized customer⋈orders side must NOT
    assert(plan("q_return_rate").contains("BroadcastHashJoin"),
      "supplier dim should broadcast")
    val plt = plan("q_local_trade")
    assert(plt.contains("BroadcastHashJoin"), "supplier dim should broadcast")
    assert(!plt.contains("BroadcastHashJoin [c_custkey"),
      "customer is fact-sized — must not broadcast")
    // hash-agg-only curves: no corpus-wide window anywhere; the two
    // windowed shapes are bounded (vocab_growth: checkpoint domain;
    // session_depth_hist: per-user sessionize ordering)
    for (q <- Seq("q_ttr", "q_hapax", "q_token_df_hist", "q_return_rate",
      "q_repeat_rate", "q_burstiness", "q_order_size_hist",
      "q_discount_lift", "q_embed_norm_hist", "q_prefix_dup",
      "q_ngram_coverage", "q_stickiness", "q_local_trade",
      "q_local_clustering"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 17: window-free hash-agg/equi-join shapes...
    for (q <- Seq("q_priority_latency", "q_mktseg_priority_mix")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    // ...and per-key-partitioned windows (sessionize / per-customer lag)
    for (q <- Seq("q_entry_exit", "q_interorder_gap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(p.contains("Window"), s"$q should window per key")
      assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
        s"$q has an unpartitioned window")
    }
    // the 25-row segment-totals share join must broadcast
    assert(plan("q_mktseg_priority_mix").contains("BroadcastHashJoin"),
      "segment totals should broadcast")
    // batch 18: single-scan hash-agg grids — no window, no cartesian, and
    // no shuffled join (dims and the 1-row grand total must broadcast)
    for (q <- Seq("q_part_type_size_grid", "q_qty_discount_grid",
        "q_char_class_profile", "q_supplier_workload")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join")
    }
    val swl = plan("q_supplier_workload")
    assert(swl.contains("BroadcastHashJoin"), "supplier dim should broadcast")
    assert(swl.contains("BroadcastNestedLoopJoin"),
      "supplier grand total should broadcast")
    // batch 19: scan-local row work (lambda fold / json extract / explode)
    // feeding small-domain hash aggs — no window, no cartesian, no
    // shuffled join; the lang-totals share join must broadcast
    for (q <- Seq("q_vector_sparsity", "q_word_len_hist", "q_props_key_mix",
        "q_lang_source_matrix")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join")
    }
    assert(plan("q_lang_source_matrix").contains("BroadcastHashJoin"),
      "lang totals should broadcast")
    // batch 20: union/tenure/drift/vocab — window-free, cartesian-free,
    // dims and year-totals broadcast rather than shuffle
    for (q <- Seq("q_customer_tenure_hist", "q_acctbal_sign_mix",
        "q_priority_drift", "q_part_name_vocab")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join")
    }
    for (q <- Seq("q_acctbal_sign_mix", "q_priority_drift"))
      assert(plan(q).contains("BroadcastHashJoin"),
        s"$q dim/totals side should broadcast")
    assert(plan("q_acctbal_sign_mix").contains("Union"),
      "sign mix should union the two role scans")
    // batch 21: min_by/max_by argmin analytics — single-reduction hash
    // aggs, deterministic padded-string ordering keys, no window, the
    // only joins are broadcast dims
    for (q <- Seq("q_first_last_delta", "q_nation_top_supplier",
        "q_daily_peak_hour", "q_order_top_line_share")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join")
    }
    assert(plan("q_nation_top_supplier").contains("BroadcastHashJoin"),
      "nation dim should broadcast")
    // batch 22: vocab jaccard / value bands / independence lift —
    // cartesian- and window-free; the jaccard self-join is token-keyed
    // (equi), its vocab-size sides broadcast
    for (q <- Seq("q_lang_vocab_jaccard", "q_user_value_bands",
        "q_priority_dow_lift")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    assert(plan("q_lang_vocab_jaccard").contains("BroadcastHashJoin"),
      "vocab sizes should broadcast")
    for (q <- Seq("q_user_value_bands", "q_priority_dow_lift"))
      assert(!plan(q).contains("SortMergeJoin"), s"$q shuffles a join")
    // batch 23: degree hists / top-k concentration / first-order cohort —
    // cartesian- and window-free; top-10 must be a TakeOrdered heap, not
    // a global sort
    for (q <- Seq("q_bipartite_degree_hist", "q_top10_user_share",
        "q_new_vs_returning")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    assert(plan("q_top10_user_share").contains("TakeOrderedAndProject"),
      "top-10 should be a bounded top-k heap, not a full sort")
    assert(plan("q_bipartite_degree_hist").contains("Union"),
      "degree hist should union the two sides")
  }

  test("r13 closing batches: quartiles/affinity/series stay scale-safe") {
    // batch 24: lorenz / quartiles / order hist / brand-nation share —
    // never a cartesian; rank selection joins broadcast their targets
    for (q <- Seq("q_lorenz_deciles", "q_lang_len_quartiles",
        "q_cust_order_hist", "q_brand_nation_share")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_lang_len_quartiles", "q_brand_nation_share"))
      assert(plan(q).contains("BroadcastHashJoin"),
        s"$q should broadcast its small side")
    for (q <- Seq("q_cust_order_hist", "q_brand_nation_share"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 25: YoY / quadrants / zipf / token position — top-k is a
    // bounded heap, the YoY lag is a cells self-join not a window
    for (q <- Seq("q_mktseg_yoy", "q_supplier_quadrants", "q_zipf_topk",
        "q_token_position")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(!plan("q_mktseg_yoy").contains("Window"),
      "YoY should be a cells self-join, not a window")
    for (q <- Seq("q_zipf_topk", "q_token_position"))
      assert(plan(q).contains("TakeOrderedAndProject"),
        s"$q top-k should be a bounded heap")
    assert(plan("q_token_position").contains("BroadcastHashJoin"),
      "top-token set should broadcast")
    // batch 26: drawdown / ship span / weighted median / embed dup —
    // the only windows run over bounded (day/quantity) domains AFTER the
    // fact scan is reduced; the pure-agg shapes stay join-free
    for (q <- Seq("q_drawdown", "q_ship_span_hist", "q_weighted_median",
        "q_embed_exact_dup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_ship_span_hist", "q_embed_exact_dup")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a window")
      assert(!p.contains("Join"), s"$q grew a join")
    }
    // batch 27: affinity / cold start / penny drift / dispersion —
    // candidate generation is user-keyed equi, audits are single scans
    for (q <- Seq("q_event_type_affinity", "q_part_cold_start",
        "q_penny_drift", "q_price_dispersion")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(plan("q_event_type_affinity").contains("BroadcastHashJoin"),
      "type totals should broadcast")
    for (q <- Seq("q_penny_drift", "q_price_dispersion"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    assert(plan("q_price_dispersion").contains("TakeOrderedAndProject"),
      "dispersion top-20 should be a bounded heap")
    // batch 28: top tokens / mix stability / loyalty / cohesion — the
    // rank window runs over the aggregated vocab domain; the centroid
    // join broadcasts; the mix grid never goes cartesian on facts
    for (q <- Seq("q_lang_top_tokens", "q_mix_stability",
        "q_brand_loyalty", "q_label_cohesion")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(!plan("q_mix_stability").contains("Window"),
      "mix stability should be a grid self-join, not a window")
    assert(!plan("q_brand_loyalty").contains("Window"),
      "loyalty is a distinct reduction, not a window")
    assert(plan("q_label_cohesion").contains("BroadcastHashJoin"),
      "centroids should broadcast")
  }

  test("r13 closing batches II: set ops, retrieval, audits stay scale-safe") {
    // batch 29: simpson / rolling actives / ref integrity / argmax dim —
    // window-free; the sliding distinct is a bounded 7× fan-out + hash
    // agg, never a range join; integrity rules are hash anti-joins
    for (q <- Seq("q_user_simpson_hist", "q_rolling_active_7d",
        "q_ref_integrity", "q_argmax_dim_hist")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    assert(plan("q_ref_integrity").contains("LeftAnti"),
      "integrity rules should be hash anti-joins")
    assert(!plan("q_argmax_dim_hist").contains("Join"),
      "argmax census is a single scan")
    // batch 30: overlap top-k / line signature / bitmasks / decile rev —
    // co-occurrence keyed on partkey (equi), signatures and masks are
    // two-level hash aggs, the only windows run over dimension domains
    for (q <- Seq("q_supplier_overlap_topk", "q_line_signature",
        "q_type_bitmask_hist", "q_acctbal_decile_rev")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(plan("q_supplier_overlap_topk").contains("TakeOrderedAndProject"),
      "overlap top-20 should be a bounded heap")
    assert(!plan("q_line_signature").contains("Window"),
      "signatures are an ordered agg, not a window")
    // batch 31: division / percentile / collisions / dow — window-free
    // reductions (the native percentile is an aggregate, not a sort)
    for (q <- Seq("q_year_coverage_hist", "q_median_interp_by_nation",
        "q_part_name_collisions", "q_dow_actives")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    // batch 32: skipgram / volatility / key gaps / boolean retrieval /
    // FD histogram / casefold — the skipgram join is (doc, position)
    // equi after a bounded 2× expansion; FD's quartiles come from the
    // reduced value domain, never a fact sort
    for (q <- Seq("q_skipgram_topk", "q_supplier_volatility",
        "q_key_gap_audit", "q_and_search", "q_fd_histogram",
        "q_casefold_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_skipgram_topk", "q_supplier_volatility"))
      assert(plan(q).contains("TakeOrderedAndProject"),
        s"$q top-k should be a bounded heap")
    // r16: skipgram pairs are per-row zipped array slices — the plan must
    // stay JOIN-FREE (the old (doc,position) self-join sorted 3N rows and
    // went 240x superlinear at sf10)
    assert(!plan("q_skipgram_topk").contains("Join"),
      "q_skipgram_topk must be join-free")
    for (q <- Seq("q_key_gap_audit", "q_and_search", "q_casefold_dedup"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
  }

  test("r13 closing batches III: curves, audits, percentile shapes") {
    // batch 33: supplier mix / geo rollup / daily VaR / sample drift —
    // rollup expands locally (no cartesian), VaR's rank window runs over
    // the reduced day domain, the sample predicate is a portable hash
    for (q <- Seq("q_order_supplier_mix", "q_geo_rollup", "q_daily_var",
        "q_sample_drift")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(plan("q_geo_rollup").contains("Expand"),
      "rollup should be a local Expand, not a union of scans")
    for (q <- Seq("q_order_supplier_mix", "q_sample_drift"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 34: percent-rank / calendar gaps / monthly HHI / DOM — the
    // only windows run over dimension or bounded calendar domains
    for (q <- Seq("q_percent_rank_cut", "q_calendar_gaps", "q_monthly_hhi",
        "q_dom_profile")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(!plan("q_monthly_hhi").contains("Window"),
      "HHI is two reductions, not a window")
    // batch 35: inconsistency / median test / latency percentiles /
    // hash balance — value-domain cumulatives, single-scan audits
    for (q <- Seq("q_discount_inconsistency", "q_median_test",
        "q_latency_percentiles", "q_hash_balance")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_discount_inconsistency", "q_hash_balance"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 36: drift / first token / discount curve / co-occurrence /
    // dependence / half-life / type medians — joins stay equi or
    // broadcast; co-occurrence top-k is a bounded heap
    for (q <- Seq("q_brand_share_drift", "q_first_token_mix",
        "q_volume_discount_curve", "q_doc_cooccur", "q_order_dependence",
        "q_ltv_halflife", "q_type_value_median")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(plan("q_doc_cooccur").contains("TakeOrderedAndProject"),
      "co-occurrence top-20 should be a bounded heap")
    for (q <- Seq("q_first_token_mix", "q_volume_discount_curve",
        "q_order_dependence"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 37: edit matrix / week trunc / dim corr / same-day — the
    // vocab² pair set is deliberately bounded (vocab is an aggregated
    // domain); everything else is windows-free reductions
    for (q <- Seq("q_week_trunc_parity", "q_dim_corr",
        "q_same_day_orders")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    // batch 38: lifecycle grid / basket dups / vocab anti-join / SKU gap
    for (q <- Seq("q_lifecycle_grid", "q_basket_dups", "q_vocab_antijoin",
        "q_sku_repeat_gap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    assert(plan("q_vocab_antijoin").contains("LeftAnti"),
      "vocab gap should be a hash anti-join")
  }

  test("r13 closing batches IV: fingerprints, regularity, sentinels") {
    // batch 39: growth streak / xor fingerprint / bucket medians /
    // intensity mix — islands and medians run over bounded or
    // already-reduced domains; fingerprints are single-scan folds
    for (q <- Seq("q_growth_streak", "q_xor_fingerprint",
        "q_bucket_median_consistency", "q_intensity_type_mix")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(!plan("q_xor_fingerprint").contains("Window"),
      "fingerprints are hash folds, not windows")
    assert(plan("q_xor_fingerprint").contains("Union"),
      "three table audits should union")
    // batch 40: imbalance / top-2 / digit uniformity / regularity —
    // dim broadcasts, supplier-dimension rank, per-customer lag only
    for (q <- Seq("q_region_imbalance", "q_top2_gap",
        "q_key_digit_uniformity", "q_order_regularity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    assert(plan("q_region_imbalance").contains("BroadcastHashJoin"),
      "region dims should broadcast")
    assert(!plan("q_key_digit_uniformity").contains("Window"),
      "digit census is a reduction, not a window")
    // batch 41: len-freq corr / event dups / zero discount / empty
    // sentinel — pure reductions; the sentinel must stay one row
    for (q <- Seq("q_token_len_freq_corr", "q_event_dups",
        "q_zero_discount", "q_empty_input_parity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
  }

  test("r13 closing batches V: laws, indexes, runs stay scale-safe") {
    // batch 42: month-end / spearman / log2 bands / survival — the only
    // window ranks the PART dimension (spearman); everything else is
    // reductions with native calendar/bin functions
    for (q <- Seq("q_month_end_loading", "q_spearman",
        "q_log2_value_bands", "q_engagement_survival")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_month_end_loading", "q_log2_value_bands",
        "q_engagement_survival"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 43: stability / basket trend / sign test / realization /
    // mean-median / fano / spread / price index — quarter- and
    // value-domain windows only; lags are cells self-joins
    for (q <- Seq("q_topk_stability", "q_avg_basket_trend", "q_sign_test",
        "q_price_realization", "q_mean_median_gap", "q_type_fano",
        "q_balance_spread", "q_price_index")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_avg_basket_trend", "q_sign_test", "q_type_fano",
        "q_price_realization"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 44: k90 / first basket / underwater / exclusive vocab
    for (q <- Seq("q_supplier_k90", "q_first_basket_repeat",
        "q_underwater_runs", "q_exclusive_vocab")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_first_basket_repeat", "q_exclusive_vocab"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
    // batch 45: weekend latency / ts precision / ARPU / non-positive —
    // pure single-scan (or one fact equi-join) reductions
    for (q <- Seq("q_weekend_latency", "q_ts_precision", "q_monthly_arpu",
        "q_nonpositive_values")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("Window"), s"$q grew a window")
    }
    // batch 46: mobility / rank range / price drift / WAU retention —
    // ntiles and ranks run over customer-dimension or bounded
    // quarter-cell domains; drift is min_by/max_by, retention a
    // (user, wk+1) semi join
    for (q <- Seq("q_decile_mobility", "q_brand_rank_range",
        "q_part_price_drift", "q_wau_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
    for (q <- Seq("q_part_price_drift", "q_wau_retention"))
      assert(!plan(q).contains("Window"), s"$q grew a window")
  }
}
