package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** QueriesX extension queries, part 1 of the family-boundary split; opens with the
  * "unpivot / melt" family. Query/oracle pairs only —
  * shared loaders live in [[QueriesXShared]].
  */
private[graft] trait QueriesXPart1 extends QueriesXShared {




  // ---- unpivot / melt: wide per-group aggregates to (group, metric, value)
  //      long form. Spark's Dataset.unpivot is a zero-shuffle local expand
  //      on top of the (already partial-aggregated) groupBy — the long form
  //      is 3x the rows but never re-shuffles. ----
  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("qty"),
        sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double").as("price"),
        sum(col("l_discount").cast("decimal(20,2)")).cast("double").as("disc"))
    agg.unpivot(
      Array(col("l_returnflag")),
      Array(col("qty"), col("price"), col("disc")),
      "metric", "value")
  }

  val oUnpivot: String =
    """WITH a AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS qty,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS price,
      |    CAST(sum(CAST(l_discount AS DECIMAL(20,2))) AS DOUBLE) AS disc
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
      |  UNION ALL SELECT l_returnflag, 'price', price FROM a
      |  UNION ALL SELECT l_returnflag, 'disc', disc FROM a)""".stripMargin

  // ---- C4-style chunk dedup: split each doc into DISJOINT 10-token
  //      chunks, keep only the globally-first occurrence of each chunk
  //      (ordered by doc_id, then position), report per-doc retention.
  //      The keeper choice is one groupBy on chunk content (hash-
  //      partitioned by chunk — a pathologically common chunk is a skew
  //      key; AQE skew-split handles it, the aggregate itself is just
  //      min(struct)). Differs from q_substring_dedup (overlapping 8-gram
  //      repeated-span coverage): this is the removal policy, not the
  //      measurement. ----
  def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val K = 10
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= K) // docs with no full chunk drop out
    val chunks = toks.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), (size(col("t")) / K).cast("int") - 1),
        i => array_join(slice(col("t"), i * K + 1, lit(K)), " "))).as(Seq("pos", "chunk")))
    val keeper = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("chunk"), col("k.doc_id").as("kd"), col("k.pos").as("kp"))
    chunks.join(keeper, "chunk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kd") === col("doc_id") && col("kp") === col("pos"), 1L)
          .otherwise(0L)).as("n_kept"))
  }

  val oChunkDedup: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ch AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(t) // 10)) AS pos,
      |    unnest(list_transform(range(0, len(t) // 10),
      |      i -> array_to_string(t[i*10+1:i*10+10], ' '))) AS chunk
      |  FROM toks WHERE len(t) >= 10),
      |k AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      |  FROM ch)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM k GROUP BY 1""".stripMargin

  // ---- edit-distance <= 1 self-join via FastSS deletion neighborhoods
  //      (Bocek et al. 2007, public): two equal-or-off-by-one-length
  //      strings within edit distance 1 share at least one single-character
  //      -deletion variant, so emitting L+1 variants per string and
  //      equi-joining on the variant finds ALL such pairs with blocks sized
  //      by true near-neighbor density — never by any fixed prefix scheme
  //      (c_name's constant "Customer#" prefix makes half/third-split
  //      blocking degenerate to all-pairs; deletion variants stay ~10 per
  //      block here). N*(L+1) emitted rows, one shuffle, exact
  //      levenshtein only on candidates. ----
  /** Deletion variants of `nm`: the string itself plus each single-char
    * deletion, as an array column.
    */
  private[graft] def deletionVariants(nm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_union(
      array(nm),
      transform(sequence(lit(1), length(nm)),
        i => concat(nm.substr(lit(1), i - 1), nm.substr(i + 1, length(nm)))))

  def qEditDistJoin(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("nm"))
    val v = names.select(col("id"), col("nm"),
      explode(deletionVariants(col("nm"))).as("v"))
    val a = v.select(col("id").as("a_id"), col("nm").as("a_nm"), col("v"))
    val b = v.select(col("id").as("b_id"), col("nm").as("b_nm"), col("v"))
    // verify INSIDE the join's output stream, dedup only survivors: the
    // old shape (distinct over the full candidate set, THEN levenshtein)
    // exchanged every candidate row — candidates are the quadratic term,
    // true pairs the output-bounded one, so the distinct must run on
    // pairs that already passed the edit-distance check. Only the L+1
    // variant rows per name ever shuffle; the c² candidate rows per block
    // are generated and filtered inside the join task (one codegen'd
    // levenshtein per candidate; d is constant per pair so distinct on
    // (a_id, b_id, d) equals distinct on the pair).
    //
    // shuffle_hash, not the optimizer's pick: Generate (explode) wrecks
    // size estimates, so Catalyst BROADCASTS the 25M-row variant side and
    // the probe side inherits the parquet scan's partitioning — at sf10
    // that was ONE task running 132M levenshteins serially (jstack'd).
    // Exchanging both sides on the ~16M-key variant column spreads the
    // candidate blocks across every core; no side needs a sort.
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("v"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("d", levenshtein(col("a_nm"), col("b_nm")).cast("long"))
      .filter(col("d") <= 1)
      .select(col("a_id"), col("b_id"), col("d")).distinct()
  }

  val oEditDistJoin: String =
    """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS d
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  // ---- Bloom-filter runtime pre-filter: build a 65,536-bit / 3-hash
  //      Bloom filter over the (small) filtered dimension's keys as a
  //      1,024-row (word_index, bits) bitmap — built with one tiny
  //      shuffle, broadcast to the fact side — prefilter fact rows by
  //      testing all 3 bit positions, then remove false positives with the
  //      exact broadcast semi-join. At 100 TB the bloom probe runs inside
  //      the fact scan stage BEFORE any exchange, so rows that cannot join
  //      never reach the shuffle — Spark's own AQE runtime filter does the
  //      same thing implicitly; this is the explicit, tunable form. The
  //      oracle sees only the exact final semantics. ----
  def qBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val m = 1 << 16
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    def positions(key: org.apache.spark.sql.Column) =
      array((0 until 3).map(i => pmod(xxhash64(lit(i), key), lit(m.toLong))): _*)
    val bitmap = cust
      .select(explode(positions(col("c_custkey"))).as("pos"))
      .select((col("pos") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("b"))
      .groupBy("w").agg(bit_or(col("b")).as("bits")) // <= 1,024 rows
    val orders = t(s, dir, "orders")
    val candKeys = orders.select(col("o_custkey")).distinct()
      .select(col("o_custkey"), explode(positions(col("o_custkey"))).as("pos"))
      .select(col("o_custkey"),
        (col("pos") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("b"))
      .join(broadcast(bitmap), "w")
      .filter(col("bits").bitwiseAND(col("b")) =!= 0)
      .groupBy("o_custkey").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === 3) // all 3 bits set -> bloom-maybe
      .select(col("o_custkey"))
    orders
      .join(broadcast(candKeys), Seq("o_custkey"), "left_semi") // bloom prefilter
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"), "left_semi") // exact
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  val oBloomPrefilter: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin

  // ---- first-order Markov transition matrix over per-user event
  //      sequences: one window (shuffle by user_id) for the lag pairing,
  //      one partial-aggregable count, and a broadcast of the tiny
  //      per-prev totals. p = n/tot is exact IEEE long/long division —
  //      bit-identical across engines. ----
  def qMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val tr = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("curr", lead(col("event_type"), 1).over(w))
      .filter(col("curr").isNotNull)
      .groupBy(col("event_type").as("prev"), col("curr"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy("prev").agg(sum("n").as("tot"))
    tr.join(broadcast(tot), "prev")
      .select(col("prev"), col("curr"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
  }

  val oMarkov: String =
    """WITH e AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS curr
      |  FROM events),
      |tr AS (
      |  SELECT event_type AS prev, curr, CAST(count(*) AS BIGINT) AS n
      |  FROM e WHERE curr IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM tr GROUP BY 1)
      |SELECT tr.prev, tr.curr, tr.n,
      |  CAST(tr.n AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS p
      |FROM tr JOIN tot USING (prev)""".stripMargin

  // ---- BFS shortest-path depth (<= 3 hops) from node 0 over the
  //      undirected order/supplier bipartite graph. Frontier-expansion
  //      joins with a distinct() per level keep the frontier bounded by
  //      the node count (not the path count — the recursive-CTE oracle
  //      pays path enumeration; this plan never does). min(d) at the end
  //      collapses revisits. 3 fixed iterations — the unrolled-loop plan
  //      is 3 equi-joins, no lineage blowup at this depth. ----
  def qBfsDepth(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select((col("l_orderkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    // Graph.bfsReached's loop (persisted src-layout edges, each frontier
    // persisted for the next join AND the final union — see its note),
    // except that the last round dedups too; the helper skips that
    // dedup, so calling it here would drop an Exchange from this plan
    val edges = li.union(li.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).distinct().persist()
    val init = s.range(1).select(lit(0L).as("node"), lit(0L).as("d"))
    var reached = init
    var frontier = init
    for (i <- 1 to 3) {
      frontier = frontier.as("f").join(edges.as("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node"), lit(i.toLong).as("d")).distinct().persist()
      reached = reached.union(frontier)
    }
    reached.groupBy("node").agg(min("d").as("d"))
  }

  val oBfsDepth: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
      |  UNION
      |  SELECT DISTINCT l_suppkey * 2 + 1, l_orderkey * 2 FROM lineitem),
      |bfs(node, d) AS (
      |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
      |  UNION
      |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
      |  WHERE bfs.d < 3)
      |SELECT node, min(d) AS d FROM bfs GROUP BY 1""".stripMargin

  // ---- winsorization: clip each value to its group's nearest-rank
  //      [p05, p95] (rank = ceil(q*n), 1-indexed ascending), then an exact
  //      DECIMAL sum of the clipped column. Nearest-rank (not interpolated)
  //      bounds keep every clipped value a real 2-decimal data value, so
  //      the sum stays exact across engines.
  //
  //      The rank VALUE is found without ever sorting a whole group in one
  //      task (the r10 shape was a 3-partition corpus-scale window — one
  //      task per returnflag sorting ~n/3 rows): a coarse VALUE-BUCKET
  //      histogram (bucket = floor(price/64) — monotone in price, so
  //      bucket boundaries respect rank order and ties share a bucket)
  //      locates the bucket holding rank k via a cumulative count over the
  //      buckets-sized table, and only THAT bucket's ~n/buckets rows rank
  //      locally (window keyed by (flag, bucket, which) — parallel, tiny
  //      partitions). Same two-level cutoff as TrainPrep.qualityGate; at
  //      100 TB no task ever holds more than one bucket's population. ----
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val B = 64.0 // bucket width in price units: ~1,700 buckets over the domain
    val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
    val binned = li.withColumn("bkt", floor(col("l_extendedprice") / B).cast("long"))
    val hist = binned.groupBy(col("l_returnflag"), col("bkt"))
      .agg(count(lit(1)).as("nb"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_returnflag")
    val cum = hist
      .withColumn("cum", sum(col("nb")).over(wCum))
      .withColumn("n", sum(col("nb")).over(wAll))
    def rk(q: Double) = ceil(lit(q) * col("n")).cast("long")
    // the bucket containing global rank k, plus the residual rank within it
    def target(q: Double, which: String) = cum
      .filter(col("cum") - col("nb") < rk(q) && rk(q) <= col("cum"))
      .select(col("l_returnflag"), col("bkt"),
        (rk(q) - (col("cum") - col("nb"))).as("r"), lit(which).as("which"))
    val targets = target(0.05, "lo").union(target(0.95, "hi"))
    val wIn = Window.partitionBy(col("l_returnflag"), col("bkt"), col("which"))
      .orderBy(col("l_extendedprice"))
    val bounds = binned
      .join(broadcast(targets), Seq("l_returnflag", "bkt"))
      .withColumn("rn", row_number().over(wIn).cast("long"))
      .filter(col("rn") === col("r"))
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("which") === "lo", col("l_extendedprice"))).as("lo"),
        max(when(col("which") === "hi", col("l_extendedprice"))).as("hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .select(col("l_returnflag"),
        when(col("l_extendedprice") < col("lo"), col("lo"))
          .when(col("l_extendedprice") > col("hi"), col("hi"))
          .otherwise(col("l_extendedprice")).as("v"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(20,2)")).cast("double").as("sum_winsorized"))
  }

  val oWinsorize: String =
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem),
      |b AS (
      |  SELECT l_returnflag,
      |    max(CASE WHEN rn = CAST(ceil(0.05::DOUBLE * n) AS BIGINT)
      |      THEN l_extendedprice END) AS lo,
      |    max(CASE WHEN rn = CAST(ceil(0.95::DOUBLE * n) AS BIGINT)
      |      THEN l_extendedprice END) AS hi
      |  FROM r
      |  WHERE rn = CAST(ceil(0.05::DOUBLE * n) AS BIGINT)
      |     OR rn = CAST(ceil(0.95::DOUBLE * n) AS BIGINT)
      |  GROUP BY 1)
      |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(CASE WHEN l_extendedprice < lo THEN lo
      |    WHEN l_extendedprice > hi THEN hi
      |    ELSE l_extendedprice END AS DECIMAL(20,2))) AS DOUBLE) AS sum_winsorized
      |FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1""".stripMargin

  // ---- top session paths: the event-sequence signature of each 30-min
  //      session (first 5 event types in time order, '>'-joined), counted
  //      corpus-wide, top 20 by frequency — the "what do users actually
  //      do" path-analysis query. Session labeling shares ONE user-keyed
  //      exchange (the sessionize window pair); the path table is
  //      dictionary-sized and the top-k is orderBy+limit
  //      (TakeOrderedAndProject — never a global single-partition
  //      window); ties at the cut broken by path so the selection is
  //      deterministic in both engines. ----
  def qTopPaths(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      expr("ts DIV 1000").as("ts_us"), col("event_type"))
    val labeled = e
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    labeled
      .groupBy(col("user_id"), col("session_idx"))
      .agg(array_join(transform(
        slice(sort_array(collect_list(
          struct(col("ts_us"), col("event_id"), col("event_type")))), 1, 5),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  val oTopPaths: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events),
      |w AS (
      |  SELECT *, CASE WHEN lag(ts_us) OVER win IS NULL
      |      OR ts_us - lag(ts_us) OVER win > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM w),
      |p AS (
      |  SELECT user_id, session_idx,
      |    array_to_string(list(event_type ORDER BY ts_us, event_id)[1:5], '>') AS path
      |  FROM s GROUP BY 1, 2),
      |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY 1)
      |SELECT path, n_sessions FROM c ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // ---- equi-width histogram: binned value distribution per group, the
  //      profiling primitive q_profile's scalar stats don't give. Exact
  //      integer binning via the round-to-cents trick (both engines bin
  //      identically — no float-boundary drift); one partial-aggregable
  //      hash agg, output is bins-sized. ----
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) DIV 1000000").as("bin"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", (col("bin") * 10000L).cast("double"))

  val oHistogram: String =
    """SELECT l_returnflag,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) // 1000000 AS bin,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST((CAST(round(l_extendedprice * 100) AS BIGINT) // 1000000) * 10000
      |    AS DOUBLE) AS bin_lo
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  // ---- last-touch conversion attribution: each purchase attributed to
  //      the latest prior click by the same user, but only within a
  //      2-hour horizon — the productized form of the as-of join
  //      primitive (q_asof_join): horizon gating, revenue carried, and
  //      an attributed verdict per conversion. One user-keyed window
  //      (the carry-forward union trick — never an inequality join) plus
  //      one id-keyed equi-join to bring the revenue back. ----
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Temporal
    val horizonUs = 2L * 3600L * 1000000L
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      expr("ts DIV 1000").as("ts_us"), col("event_type"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val matched = Temporal.asofJoin(purchases, clicks,
      keys = Seq("user_id"), tsCol = "ts_us", idCol = "event_id")
    val gated = matched.select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts_us"),
      when(col("ts_us") - col("matched_ts") <= horizonUs, col("matched_id"))
        .as("click_id"),
      when(col("ts_us") - col("matched_ts") <= horizonUs,
        col("ts_us") - col("matched_ts")).as("gap_us"))
    gated.join(
        e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("value")),
        "purchase_id")
      .select(col("purchase_id"), col("user_id"), col("ts_us"),
        col("click_id"), col("gap_us"), col("value"),
        col("click_id").isNotNull.as("attributed"))
  }

  val oAttribution: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
      |  FROM events),
      |u AS (
      |  SELECT user_id, ts_us, event_id, 1 AS is_ref FROM e WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts_us, event_id, 0 AS is_ref FROM e WHERE event_type = 'purchase'),
      |w AS (SELECT user_id, ts_us, event_id, is_ref,
      |    last_value(CASE WHEN is_ref = 1 THEN event_id END IGNORE NULLS) OVER win AS matched_id,
      |    last_value(CASE WHEN is_ref = 1 THEN ts_us END IGNORE NULLS) OVER win AS matched_ts
      |  FROM u WINDOW win AS (PARTITION BY user_id
      |    ORDER BY ts_us, is_ref DESC, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g AS (
      |  SELECT event_id AS purchase_id, user_id, ts_us,
      |    CASE WHEN ts_us - matched_ts <= 7200000000 THEN matched_id END AS click_id,
      |    CASE WHEN ts_us - matched_ts <= 7200000000 THEN ts_us - matched_ts END AS gap_us
      |  FROM w WHERE is_ref = 0)
      |SELECT g.purchase_id, g.user_id, g.ts_us, g.click_id, g.gap_us,
      |  e.value, g.click_id IS NOT NULL AS attributed
      |FROM g JOIN e ON e.event_id = g.purchase_id""".stripMargin

  // ---- linear (multi-touch) attribution: every click in the 2-hour
  //      window before a purchase shares the credit equally — the
  //      complement of q_attribution's last-touch rule. The
  //      (click, purchase) pair stage is the binned range join (equi-join
  //      on (user, 30-min bin) + exact BETWEEN — never an inequality
  //      BNLJ); credit = value / n_clicks is emitted PER PAIR with one
  //      deterministic division — summing credits across purchases would
  //      be a float sum whose partition order could differ between
  //      engines, so the materialized assignment IS the graded output. ----
  def qAttributionLinear(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Temporal
    val horizonUs = 2L * 3600L * 1000000L
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      expr("ts DIV 1000").as("ts_us"), col("event_type"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts_us") - horizonUs).as("start_us"), col("ts_us").as("end_us"),
        col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
    val pairs = Temporal.rangeJoinBinned(clicks, purchases,
      keys = Seq("user_id"), tsCol = "ts_us",
      startCol = "start_us", endCol = "end_us",
      binMicros = 1800L * 1000000L)
    val perPurchase = pairs.groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"))
    pairs.join(perPurchase, "purchase_id")
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("ts_us").as("click_ts"), col("n_clicks"),
        (col("value") / col("n_clicks").cast("double")).as("credit"))
  }

  val oAttributionLinear: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
      |  FROM events),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    ts_us - 7200000000 AS start_us, ts_us AS end_us, value
      |  FROM e WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, event_id AS click_id, ts_us
      |  FROM e WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT p.purchase_id, p.user_id, c.click_id, c.ts_us AS click_ts, p.value
      |  FROM c JOIN p ON c.user_id = p.user_id
      |    AND c.ts_us BETWEEN p.start_us AND p.end_us),
      |n AS (
      |  SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_clicks
      |  FROM pairs GROUP BY 1)
      |SELECT pairs.purchase_id, user_id, click_id, click_ts, n.n_clicks,
      |  value / CAST(n.n_clicks AS DOUBLE) AS credit
      |FROM pairs JOIN n USING (purchase_id)""".stripMargin

  // ---- sliding-window distinct via HLL register fan-out: 7-day trailing
  //      distinct (user, action) activity pairs, daily. Sliding DISTINCT
  //      doesn't decompose like sliding sums — recounting each window
  //      rescans every event windowDays times; fanning out each day's
  //      <=256 register rows and max-merging per window costs
  //      days×7×256 rows however large the corpus is. The exact recount
  //      rides along as the measurement harness (the q_hll_distinct
  //      pattern); the value is the composite user#event_type so the
  //      per-window cardinality (~750 at sf0.01) sits above the raw
  //      p=8 estimator's ~2.5m small-range bias floor. ----
  def qHllSliding(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketch
    val W = 7
    val e = events(s, dir).select(
      expr("ts DIV 1000 DIV 86400000000").as("day"),
      concat(col("user_id").cast("string"), lit("#"), col("event_type")).as("pair"))
    val est = Sketch.hllSlidingDaily(e, "day", "pair", W)
    // exact side: fan out DISTINCT (day, pair) — the day-grain dedup
    // happens before the ×W expansion, so the harness too stays far
    // smaller than events×W
    val exact = e.select(col("day"), col("pair")).distinct()
      .select(explode(sequence(col("day"), col("day") + (W - 1))).as("win"),
        col("pair"))
      .groupBy(col("win")).agg(countDistinct(col("pair")).as("n_exact"))
    val rel = abs(col("hll_est") - col("n_exact").cast("double")) /
      col("n_exact").cast("double")
    exact.join(est, "win")
      .select(col("win"), col("n_exact"), col("hll_est"),
        rel.as("rel_err"), (rel <= lit(0.195)).as("err_ok"))
  }

  // ---- robust outlier detection via Median Absolute Deviation: the
  //      heavy-tail-safe complement of q_outliers' IQR fences (one wild
  //      value can stretch quartiles; the MAD barely moves). Median and
  //      MAD are interpolated percentiles (bit-compatible with DuckDB
  //      quantile_cont, the q_group_median precedent); the outlier rule
  //      |x - med| > 3*MAD is exact double arithmetic with a rational
  //      multiplier.
  //
  //      Both medians come from the rank-window formulation (the
  //      q_outliers r10 template): `percentile(...)` is a
  //      TypedImperativeAggregate that buffers EVERY group value in a
  //      per-partition OpenHashMap and serializes the maps between
  //      partial and final — 5.7 s at sf0.1 for the two calls here; a
  //      row_number window is one exchange + one codegen'd sort. The
  //      interpolation replays Percentile.getPercentile bit-for-bit:
  //      pos = 0.5*(n-1), (ceil(pos)-pos)*lo + (pos-floor(pos))*hi, with
  //      the floor==ceil and equal-endpoint shortcuts. The second pass
  //      (median of |x-med|) reuses the first exchange's hash(flag)
  //      partitioning — the deviation frame derives from the broadcast
  //      join, so window 2 sorts without re-shuffling, and the final agg
  //      is exchange-free. ----
  def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    def interp(pos: Column, vLo: Column, vHi: Column): Column =
      when(floor(pos) === ceil(pos) || vLo === vHi, vLo)
        .otherwise((ceil(pos) - pos) * vLo + (pos - floor(pos)) * vHi)
    // per-group interpolated median of `v` via ONE rank window over df
    def groupMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val wOrd = Window.partitionBy("l_returnflag").orderBy(v)
      val wAll = Window.partitionBy("l_returnflag")
      def atFloor = col("_rn") === floor(col("_pos")).cast("long")
      def atCeil = col("_rn") === ceil(col("_pos")).cast("long")
      df
        .withColumn("_rn", row_number().over(wOrd).cast("long") - 1)
        .withColumn("_pos",
          lit(0.5) * (count(lit(1)).over(wAll) - 1).cast("double"))
        .filter(atFloor || atCeil)
        .groupBy(col("l_returnflag"))
        .agg(max(when(atFloor, col(v))).cast("double").as("_lo"),
          max(when(atCeil, col(v))).cast("double").as("_hi"),
          max(col("_pos")).as("_p"))
        .select(col("l_returnflag"),
          interp(col("_p"), col("_lo"), col("_hi")).as(out))
    }
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
    // the 3-row median table is referenced by BOTH the MAD pass and the
    // final aggregate; without truncation each reference replays the
    // median's corpus-scale window (no cross-branch plan reuse in Spark) —
    // checkpointing 3 rows costs nothing and halves the query
    val med = graft.util.Checkpoints.truncate(groupMedian(li, "x", "med"))
    val dev = li.join(broadcast(med), "l_returnflag")
      .withColumn("adev", abs(col("x") - col("med")))
    val mad = groupMedian(dev.select(col("l_returnflag"), col("adev")), "adev", "mad")
    dev.join(broadcast(mad), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  val oMadOutliers: String =
    """WITH li AS (SELECT l_returnflag, l_extendedprice AS x FROM lineitem),
      |med AS (
      |  SELECT l_returnflag, quantile_cont(x, 0.5) AS med FROM li GROUP BY 1),
      |d AS (
      |  SELECT li.l_returnflag, x, abs(x - med) AS adev, med
      |  FROM li JOIN med USING (l_returnflag)),
      |m AS (
      |  SELECT l_returnflag, max(med) AS med, quantile_cont(adev, 0.5) AS mad
      |  FROM d GROUP BY 1)
      |SELECT d.l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  max(m.med) AS med, max(m.mad) AS mad,
      |  CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM d JOIN m USING (l_returnflag) GROUP BY 1""".stripMargin


  val oHllSliding: String =
    s"""WITH e AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(user_id AS VARCHAR) || '#' || event_type AS pair
       |  FROM events),
       |mx AS (SELECT max(day) AS mx FROM e),
       |h AS (SELECT day, ${H32.format("pair")} AS h FROM e),
       |r AS (
       |  SELECT day, h // 16777216 AS j,
       |    CASE WHEN h % 16777216 = 0 THEN 25
       |         ELSE 25 - length(bin(h % 16777216)) END AS rho
       |  FROM h),
       |m AS (SELECT day, j, max(rho) AS mj FROM r GROUP BY 1, 2),
       |f AS (
       |  SELECT unnest(range(day, day + 7)) AS win, j, mj FROM m),
       |fm AS (
       |  SELECT win, j, max(mj) AS mj FROM f, mx WHERE win <= mx.mx
       |  GROUP BY 1, 2),
       |sm AS (
       |  SELECT win, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(1::BIGINT << (25 - mj)) AS BIGINT) AS sp
       |  FROM fm GROUP BY 1),
       |est AS (
       |  SELECT win,
       |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
       |      * 65536.0::DOUBLE * 33554432.0::DOUBLE
       |      / CAST((256 - c) * 33554432 + sp AS DOUBLE) AS hll_est
       |  FROM sm),
       |dp AS (SELECT DISTINCT day, pair FROM e),
       |xf AS (SELECT unnest(range(day, day + 7)) AS win, pair FROM dp),
       |x AS (
       |  SELECT win, CAST(count(DISTINCT pair) AS BIGINT) AS n_exact
       |  FROM xf, mx WHERE win <= mx.mx GROUP BY 1)
       |SELECT win, n_exact, hll_est,
       |  abs(hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err,
       |  (abs(hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE))
       |    <= 0.195::DOUBLE AS err_ok
       |FROM x JOIN est USING (win)""".stripMargin

  // ---- winnowing (MOSS) fingerprint overlap: partial-copy detection
  //      via window-min k-gram hashes, stop-fingerprint capped ----
  def qWinnow(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.winnowPairs(t(s, dir, "documents"))

  val oWinnow: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |hs AS (SELECT doc_id,
      |  list_transform(range(1, len(tk) - 2), i ->
      |    ('0x' || substr(md5(array_to_string(tk[i:i+3], ' ')), 1, 8))::BIGINT) AS h
      |  FROM toks WHERE len(tk) >= 4),
      |fp AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(h) >= 4
      |    THEN list_transform(range(1, len(h) - 2), j -> list_min(h[j:j+3]))
      |    ELSE [list_min(h)] END)) AS f
      |  FROM hs),
      |df AS (SELECT f, count(*) AS d FROM fp GROUP BY 1),
      |keep AS (SELECT fp.doc_id, fp.f FROM fp JOIN df USING (f) WHERE d <= 20)
      |SELECT a_id, b_id, shared FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(count(*) AS BIGINT) AS shared
      |  FROM keep a JOIN keep b ON a.f = b.f AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |WHERE shared >= 2""".stripMargin

  // ---- label propagation (deterministic LPA, 2 synchronous rounds) over
  //      the order↔supplier bipartite graph; oracle unrolls both rounds
  //      with a row_number argmax (cnt DESC, lbl ASC) ----
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select((col("l_orderkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
    graft.operators.Graph.labelPropagation(li, iters = 2)
  }

  val oLabelProp: String = {
    def round(cIn: String, i: String) =
      s"""c$i AS (
         |  SELECT n.node, l.lbl, count(*) AS cnt
         |  FROM nbr n JOIN $cIn l ON n.peer = l.node GROUP BY 1, 2),
         |r$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)"""
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_orderkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem),
       |nbr AS (SELECT a AS node, b AS peer FROM e0
       |        UNION ALL SELECT b, a FROM e0),
       |l0 AS (SELECT node, node AS lbl FROM (SELECT DISTINCT node FROM nbr)),
       |${round("l0", "1")},
       |${round("r1", "2")}
       |SELECT node, lbl AS label FROM r2""".stripMargin
  }

  // ---- differentially-private histogram (geometric mechanism, seeded
  //      trailing-zero noise, noisy-threshold suppression) ----
  def qDpCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainPrep.dpCounts(t(s, dir, "documents"), "lang", "source",
      threshold = 5L)

  val oDpCounts: String = {
    def geo(h: String) = {
      val arms = (1 to 11).map { k =>
        val m = 1L << (k + 1); s"WHEN $h % $m = ${m >> 1} THEN $k"
      }.mkString(" ")
      s"CASE WHEN $h % 2 = 1 THEN 0 $arms ELSE 12 END"
    }
    s"""WITH c AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |h AS (
       |  SELECT lang, source, n,
       |    ('0x' || substr(md5('101#' || lang || '|' || source), 1, 8))::BIGINT AS h1,
       |    ('0x' || substr(md5('202#' || lang || '|' || source), 1, 8))::BIGINT AS h2
       |  FROM c),
       |g AS (
       |  SELECT lang, source, n,
       |    ${geo("h1")} AS g1,
       |    ${geo("h2")} AS g2
       |  FROM h)
       |SELECT lang, source, n + (g1 - g2) AS noisy_n,
       |  CAST(g1 - g2 AS BIGINT) AS noise
       |FROM g WHERE n + (g1 - g2) >= 5""".stripMargin
  }

  // ---- RAKE keyword extraction (2^20 fixed-point word scores, top-50
  //      phrases; ties broken on phrase text) ----
  def qRake(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.rakeKeywords(t(s, dir, "documents"))

  val oRake: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tok AS (SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS tok
      |        FROM toks),
      |m AS (SELECT doc_id, pos, tok,
      |        (tok IN ('the','a','of','and','to','in','is')) AS stop
      |      FROM tok),
      |p AS (SELECT doc_id, pos, tok, stop,
      |        sum(CASE WHEN stop THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS UNBOUNDED PRECEDING) AS pid
      |      FROM m),
      |words AS (SELECT doc_id, pid, pos, tok FROM p WHERE NOT stop),
      |phr AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen,
      |          string_agg(tok, ' ' ORDER BY pos) AS phrase
      |        FROM words GROUP BY 1, 2 HAVING count(*) <= 4),
      |mem AS (SELECT w.doc_id, w.pid, w.tok, ph.plen
      |        FROM words w JOIN phr ph ON w.doc_id = ph.doc_id AND w.pid = ph.pid),
      |ws AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
      |         CAST(sum(plen) AS BIGINT) AS deg
      |       FROM mem GROUP BY 1),
      |wsc AS (SELECT tok, (deg * 1048576) // freq AS wscore FROM ws),
      |ps AS (SELECT m.doc_id, m.pid, CAST(sum(wscore) AS BIGINT) AS score
      |       FROM mem m JOIN wsc USING (tok) GROUP BY 1, 2)
      |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ, max(score) AS score
      |FROM phr JOIN ps USING (doc_id, pid)
      |GROUP BY phrase ORDER BY score DESC, phrase LIMIT 50""".stripMargin

  // ---- greedy k-center coreset (farthest-point traversal, k=5, seed =
  //      min vec_id; oracle unrolls all four argmax rounds) ----
  def qKcenterCoreset(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.kCenterCoreset(t(s, dir, "embeddings"), k = 5)

  val oKcenterCoreset: String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), " +
        s"i -> $x[i]::DOUBLE * $y[i]::DOUBLE)), (acc, v) -> acc + v)"
    def cosd(x: String, y: String) =
      s"(1.0::DOUBLE - ${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)})))"
    def round(i: Int) =
      s"""s$i AS (SELECT vec_id, embedding, mind FROM m${i - 1}
         |       ORDER BY mind DESC, vec_id LIMIT 1),
         |m$i AS (SELECT m.vec_id, m.embedding,
         |         least(m.mind, ${cosd("m.embedding", "s.embedding")}) AS mind
         |       FROM m${i - 1} m, s$i s)"""
    s"""WITH c1 AS (SELECT vec_id, embedding FROM embeddings
       |            ORDER BY vec_id LIMIT 1),
       |m1 AS (SELECT e.vec_id, e.embedding,
       |         ${cosd("e.embedding", "c.embedding")} AS mind
       |       FROM embeddings e, c1 c),
       |${round(2)},
       |${round(3)},
       |${round(4)},
       |${round(5)}
       |SELECT 1 AS round, vec_id, 0.0::DOUBLE AS radius FROM c1
       |UNION ALL SELECT 2, vec_id, mind FROM s2
       |UNION ALL SELECT 3, vec_id, mind FROM s3
       |UNION ALL SELECT 4, vec_id, mind FROM s4
       |UNION ALL SELECT 5, vec_id, mind FROM s5""".stripMargin
  }

  // ---- T5 span corruption: hash-seeded masks, contiguous runs collapse
  //      to sentinels; input/target pair per document ----
  def qSpanCorruption(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainPrep.spanCorruption(t(s, dir, "documents"))

  val oSpanCorruption: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tok AS (SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS tok
      |        FROM toks),
      |m0 AS (SELECT doc_id, pos, tok,
      |  ('0x' || substr(md5(doc_id || '#' || pos), 1, 8))::BIGINT % 100 < 15 AS m
      |  FROM tok),
      |r0 AS (SELECT *, m AND NOT coalesce(lag(m) OVER w, false) AS run_start
      |       FROM m0 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |r1 AS (SELECT *,
      |  CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS rid
      |  FROM r0),
      |e AS (SELECT doc_id, pos, m, rid,
      |  CASE WHEN NOT m THEN tok
      |       WHEN run_start THEN '<X' || rid || '>' END AS ein,
      |  CASE WHEN m AND run_start THEN '<X' || rid || '> ' || tok
      |       WHEN m THEN tok END AS etgt
      |  FROM r1)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |  coalesce(max(CASE WHEN m THEN rid END), 0) AS n_spans,
      |  coalesce(string_agg(ein, ' ' ORDER BY pos) FILTER (ein IS NOT NULL), '')
      |    AS input_text,
      |  coalesce(string_agg(etgt, ' ' ORDER BY pos) FILTER (etgt IS NOT NULL), '')
      |    AS target_text
      |FROM e GROUP BY doc_id""".stripMargin

  // ---- CM-sketch join-size estimation (inner product, min over seeds):
  //      an FK join (collision-dominated at w=512 — the BOUND is the
  //      guarantee) and a dimension join (collision-free — est = exact) ----
  def qJoinSizeEst(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketch
    val li = t(s, dir, "lineitem").select(col("l_orderkey").as("token"))
    val ord = t(s, dir, "orders").select(col("o_orderkey").as("token"))
    val cust = t(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("token"))
    val supp = t(s, dir, "supplier")
      .select(col("s_nationkey").cast("long").as("token"))
    Sketch.cmsJoinSizeEstimate(li, ord).withColumn("pair", lit("order_fk"))
      .unionByName(Sketch.cmsJoinSizeEstimate(cust, supp)
        .withColumn("pair", lit("nation_dim")))
  }

  val oJoinSizeEst: String = {
    def half(tag: String, aSel: String, bSel: String) =
      s"""a_$tag AS ($aSel),
         |b_$tag AS ($bSel),
         |sa_$tag AS (
         |  SELECT seed,
         |    ('0x' || substr(md5(seed::VARCHAR || '#' || token::VARCHAR), 1, 8))::BIGINT % 512 AS bucket,
         |    count(*) AS ca
         |  FROM a_$tag CROSS JOIN sd GROUP BY 1, 2),
         |sb_$tag AS (
         |  SELECT seed,
         |    ('0x' || substr(md5(seed::VARCHAR || '#' || token::VARCHAR), 1, 8))::BIGINT % 512 AS bucket,
         |    count(*) AS cb
         |  FROM b_$tag CROSS JOIN sd GROUP BY 1, 2),
         |dot_$tag AS (
         |  SELECT seed, CAST(sum(ca::HUGEINT * cb) AS BIGINT) AS dot
         |  FROM sa_$tag JOIN sb_$tag USING (seed, bucket) GROUP BY 1),
         |est_$tag AS (SELECT min(dot) AS est_join FROM dot_$tag),
         |ex_$tag AS (
         |  SELECT CAST(coalesce(sum(na::HUGEINT * nb), 0::HUGEINT) AS BIGINT)
         |    AS exact_join
         |  FROM (SELECT token, count(*) AS na FROM a_$tag GROUP BY 1) x
         |  JOIN (SELECT token, count(*) AS nb FROM b_$tag GROUP BY 1) y
         |    USING (token)),
         |sz_$tag AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a_$tag) AS n_a,
         |         (SELECT CAST(count(*) AS BIGINT) FROM b_$tag) AS n_b),
         |r_$tag AS (
         |  SELECT est_join, exact_join, n_a, n_b,
         |    est_join - exact_join AS overest,
         |    est_join >= exact_join AS never_under,
         |    est_join <= exact_join + (3 * n_a * n_b) // 512 AS bound_ok,
         |    '$tag' AS pair
         |  FROM est_$tag, ex_$tag, sz_$tag)"""
    s"""WITH sd AS (SELECT unnest([0, 1, 2, 3]) AS seed),
       |${half("order_fk", "SELECT l_orderkey AS token FROM lineitem",
                "SELECT o_orderkey AS token FROM orders")},
       |${half("nation_dim",
                "SELECT CAST(c_nationkey AS BIGINT) AS token FROM customer",
                "SELECT CAST(s_nationkey AS BIGINT) AS token FROM supplier")}
       |SELECT * FROM r_order_fk UNION ALL SELECT * FROM r_nation_dim""".stripMargin
  }

  // ---- distinct l-diversity: groups with < 3 distinct wealth bands get
  //      their quasi-identifiers suppressed (homogeneity-attack guard) ----
  def qLDiversity(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainPrep.lDiversity(t(s, dir, "customer"),
      idCol = "c_custkey", qi1 = "c_nationkey", qi2 = "c_mktsegment",
      sensitive = floor(col("c_acctbal") / 4000).cast("long"), l = 3)

  val oLDiversity: String =
    """WITH d AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 4000) AS BIGINT) AS sv
      |  FROM customer),
      |g AS (SELECT c_nationkey, c_mktsegment,
      |        CAST(count(DISTINCT sv) AS BIGINT) AS ldiv
      |      FROM d GROUP BY 1, 2)
      |SELECT c_custkey,
      |  CASE WHEN ldiv >= 3 THEN CAST(c_nationkey AS VARCHAR) ELSE '*' END AS gen_q1,
      |  CASE WHEN ldiv >= 3 THEN c_mktsegment ELSE '*' END AS gen_q2,
      |  CAST(ldiv >= 3 AS INT) AS released, ldiv
      |FROM d JOIN g USING (c_nationkey, c_mktsegment)""".stripMargin

  // ---- tf-weighted MinHash near-dup pairs (bigram weights capped at 3,
  //      16 hashes in 4 bands; banding candidates verified by EXACT
  //      weighted Jaccard — the oracle replays both halves) ----
  def qDedupMinhashWeighted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.weightedMinhashPairs(t(s, dir, "documents"))

  val oDedupMinhashWeighted: String = {
    val mins = (0 until 16).map(h =>
      s"min(('0x' || substr(md5('$h#' || e || '#' || occ), 1, 8))::BIGINT) AS h$h")
      .mkString(",\n    ")
    val bandSel = (0 until 4).map { b =>
      val key = (0 until 4).map(i => s"h${b * 4 + i}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  unnest(list_transform(range(1, len(t)),
       |    i -> array_to_string(t[i:i+1], ' '))) AS e
       |  FROM toks),
       |tf AS (SELECT doc_id, e, least(count(*), 3) AS w FROM sh GROUP BY 1, 2),
       |rep AS (SELECT doc_id, e, unnest(range(1, w + 1)) AS occ FROM tf),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM rep GROUP BY doc_id),
       |bands AS (
       |  $bandSel),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |tw AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw FROM tf GROUP BY 1),
       |inter AS (
       |  SELECT c.a_id, c.b_id, CAST(sum(least(x.w, y.w)) AS BIGINT) AS n_min
       |  FROM cand c
       |  JOIN tf x ON x.doc_id = c.a_id
       |  JOIN tf y ON y.doc_id = c.b_id AND y.e = x.e
       |  GROUP BY 1, 2)
       |SELECT i.a_id, i.b_id, i.n_min, ta.tw AS tw_a, tb.tw AS tw_b,
       |  CAST(i.n_min AS DOUBLE) / CAST(ta.tw + tb.tw - i.n_min AS DOUBLE) AS jw
       |FROM inter i
       |JOIN tw ta ON i.a_id = ta.doc_id
       |JOIN tw tb ON i.b_id = tb.doc_id
       |WHERE CAST(i.n_min AS DOUBLE) / CAST(ta.tw + tb.tw - i.n_min AS DOUBLE)
       |  >= 0.5::DOUBLE""".stripMargin
  }

  // ---- deterministic epoch shuffle: per-shard summary of the derived
  //      training order (the assignment is a pure projection; the summary
  //      is the one hash agg). order_sig pins membership, and membership
  //      pins the order because the order is SORTED by (sort_key, id) ----
  def qShardShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainPrep.shuffleShards(t(s, dir, "documents"), "doc_id",
      nShards = 16, epoch = 1)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("sort_key")).as("min_key"), max(col("sort_key")).as("max_key"),
        expr("bit_xor(sort_key * 1000003 + doc_id)").as("order_sig"))

  val oShardShuffle: String =
    """WITH a AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('1#' || doc_id), 1, 8))::BIGINT AS k
      |  FROM documents),
      |s AS (SELECT doc_id, k, CAST(k % 16 AS INTEGER) AS shard FROM a)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  min(k) AS min_key, max(k) AS max_key,
      |  bit_xor(k * 1000003 + doc_id) AS order_sig
      |FROM s GROUP BY shard""".stripMargin

  // ---- Fellegi–Sunter record linkage: (nation, segment) blocking +
  //      integer agreement weights, link threshold 20 ----
  def qRecordLinkage(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage.scoredPairs(t(s, dir, "customer"))

  val oRecordLinkage: String =
    """WITH base AS (
      |  SELECT c_custkey AS key, c_nationkey AS nk, c_mktsegment AS seg,
      |         c_acctbal AS bal, c_name AS nm
      |  FROM customer),
      |ok AS (SELECT nk, seg FROM base GROUP BY 1, 2
      |       HAVING count(*) BETWEEN 2 AND 2000),
      |b AS (SELECT base.* FROM base JOIN ok USING (nk, seg)),
      |p AS (
      |  SELECT x.key AS a_key, y.key AS b_key,
      |    (CASE WHEN abs(x.bal - y.bal) < 100 THEN 24
      |          WHEN abs(x.bal - y.bal) < 1000 THEN 8 ELSE -12 END
      |     + CASE WHEN right(x.nm, 2) = right(y.nm, 2) THEN 10 ELSE -6 END
      |     + CASE WHEN floor(x.bal / 1000) = floor(y.bal / 1000)
      |            THEN 6 ELSE -2 END) AS score
      |  FROM b x JOIN b y ON x.nk = y.nk AND x.seg = y.seg AND x.key < y.key)
      |SELECT a_key, b_key, CAST(score AS INTEGER) AS score
      |FROM p WHERE score >= 20""".stripMargin

  // ---- per-source boilerplate scrub (C4/RefinedWeb cleaning): chunks
  //      repeating across >= n_docs/20 documents of the SAME source are
  //      boilerplate; fractional threshold, (source, chunk)-keyed aggs ----
  def qBoilerplateScrub(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainPrep.boilerplateScrub(
      t(s, dir, "documents"), k = 10, denom = 20L)

  val oBoilerplateScrub: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 10),
      |ch AS (
      |  SELECT doc_id, source,
      |    unnest(range(0, len(t) // 10)) AS pos,
      |    unnest(list_transform(range(0, len(t) // 10),
      |      i -> array_to_string(t[i*10+1:i*10+10], ' '))) AS chunk
      |  FROM toks),
      |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM toks GROUP BY 1),
      |dfc AS (SELECT source, chunk,
      |          CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |        FROM ch GROUP BY 1, 2),
      |boiler AS (
      |  SELECT source, chunk FROM dfc JOIN nd USING (source)
      |  WHERE df * 20 >= n_docs)
      |SELECT ch.doc_id, ch.source,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_boiler,
      |  CAST(count(*) - sum(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept
      |FROM ch LEFT JOIN boiler b
      |  ON ch.source = b.source AND ch.chunk = b.chunk
      |GROUP BY 1, 2""".stripMargin

  // ---- TPC-H Q7 shape: bidirectional nation-pair shipping volume by
  //      ship year. Small dims broadcast (supplier, customer, nation x2),
  //      the fact scan carries only cents-exact units; one hash agg ----
  def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        (floor(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100).cast("long")))
          .as("vol_u"))
    val sup = t(s, dir, "supplier")
      .filter(col("s_nationkey").isin(1, 2))
      .select(col("s_suppkey"), col("s_nationkey"))
    val cust = t(s, dir, "customer")
      .filter(col("c_nationkey").isin(1, 2))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(
        concat(lit("NATION_"), col("s_nationkey").cast("string")).as("supp_nation"),
        concat(lit("NATION_"), col("c_nationkey").cast("string")).as("cust_nation"),
        col("l_year"))
      // Σ vol_u (≤1.1·10¹¹/row) over unbounded (nation,nation,year)
      // groups wraps a long at ~8·10⁷ rows/group → DECIMAL(38,0) staging
      .agg(sum(col("vol_u").cast("decimal(38,0)")).as("vol_units"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        (col("vol_units").cast("double") / lit(10000.0)).as("volume"))
  }

  val oTpchQ7: String =
    """SELECT 'NATION_' || s.s_nationkey::VARCHAR AS supp_nation,
      |  'NATION_' || c.c_nationkey::VARCHAR AS cust_nation,
      |  CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
      |  sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
      |           (100 - CAST(floor(l.l_discount * 100) AS BIGINT)))
      |    ::DOUBLE / 10000.0::DOUBLE AS volume
      |FROM lineitem l
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
      |  AND s.s_nationkey IN (1, 2) AND c.c_nationkey IN (1, 2)
      |  AND s.s_nationkey <> c.c_nationkey
      |GROUP BY 1, 2, 3""".stripMargin

  // ---- TPC-H Q13 shape: orders-per-customer distribution with a
  //      filtered LEFT join (customers with zero qualifying orders count
  //      at c_count = 0). Join keyed on custkey, then two integer aggs ----
  def qTpchQ13(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val oTpchQ13: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c.c_custkey, CAST(count(o.o_custkey) AS BIGINT) AS c_count
      |  FROM customer c LEFT JOIN orders o
      |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |GROUP BY 1""".stripMargin

  // ---- bounded-round k-core peeling on the order–supplier graph
  //      (k=4, 3 rounds; oracle unrolls the identical state) ----
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select((col("l_orderkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    graft.operators.Graph.kCore(li, k = 4, rounds = 3)
  }

  val oKcore: String =
    """WITH e0 AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
      |    UNION ALL
      |    SELECT l_suppkey * 2 + 1, l_orderkey * 2 FROM lineitem)),
      |k1 AS (SELECT src FROM e0 GROUP BY 1 HAVING count(*) >= 4),
      |e1 AS (SELECT e0.src, e0.dst FROM e0
      |       JOIN k1 a ON e0.src = a.src JOIN k1 b ON e0.dst = b.src),
      |k2 AS (SELECT src FROM e1 GROUP BY 1 HAVING count(*) >= 4),
      |e2 AS (SELECT e1.src, e1.dst FROM e1
      |       JOIN k2 a ON e1.src = a.src JOIN k2 b ON e1.dst = b.src),
      |k3 AS (SELECT src FROM e2 GROUP BY 1 HAVING count(*) >= 4),
      |e3 AS (SELECT e2.src, e2.dst FROM e2
      |       JOIN k3 a ON e2.src = a.src JOIN k3 b ON e2.dst = b.src)
      |SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
      |FROM e3 GROUP BY 1""".stripMargin

  // ---- degree assortativity of the same graph: exact DECIMAL moments,
  //      one final double expression (identical operation order) ----
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select((col("l_orderkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    graft.operators.Graph.assortativity(li)
  }

  val oAssortativity: String =
    """WITH e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
      |    UNION ALL
      |    SELECT l_suppkey * 2 + 1, l_orderkey * 2 FROM lineitem)),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
      |j AS (
      |  SELECT dx.d AS dx, dy.d AS dy FROM e
      |  JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS m,
      |    CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS HUGEINT) AS syy
      |  FROM j)
      |SELECT CAST(m AS BIGINT) AS n_edges,
      |  CAST(m * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS r
      |FROM mo""".stripMargin

  // ---- domain-level vocabulary overlap: pairwise Jaccard of the
  //      token SETS of every source pair — the dataset-curation "how
  //      much do these domains repeat each other" matrix. Token-keyed
  //      equi-join; the pair fan-out per token is (sources containing
  //      it)², bounded by the SOURCE count, not the corpus — the
  //      bounded-domain-pair regime (like corrMatrix's label pairs) ----
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sizes = tok.groupBy(col("source")).agg(count(lit(1)).as("n"))
    tok.select(col("source").as("a_src"), col("token"))
      .join(tok.select(col("source").as("b_src"), col("token")), "token")
      .filter(col("a_src") < col("b_src"))
      .groupBy(col("a_src"), col("b_src"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("source").as("a_src"), col("n").as("n_a")), "a_src")
      .join(sizes.select(col("source").as("b_src"), col("n").as("n_b")), "b_src")
      .select(col("a_src"), col("b_src"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
  }

  val oSourceOverlap: String =
    """WITH tok AS (
      |  SELECT DISTINCT source, token FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS token
      |    FROM documents)),
      |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
      |          FROM tok GROUP BY 1),
      |i AS (
      |  SELECT a.source AS a_src, b.source AS b_src,
      |    CAST(count(*) AS BIGINT) AS n_inter
      |  FROM tok a JOIN tok b ON a.token = b.token AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT a_src, b_src, n_inter, sa.n AS n_a, sb.n AS n_b,
      |  CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
      |    AS jaccard
      |FROM i
      |JOIN sizes sa ON i.a_src = sa.source
      |JOIN sizes sb ON i.b_src = sb.source""".stripMargin

  // ---- TPC-H Q22 shape: "wealthy but inactive" — customers above the
  //      global positive-balance mean (exact cents-integer mean, one
  //      broadcast scalar) with NO orders (left-anti join), counted per
  //      nation. The scalar mean comparison is exact: bal_cents * n_pos
  //      > sum_cents avoids the division entirely ----
  def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey"), floor(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val avgPos = cust.filter(col("bal_c") > 0L)
      .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("n_pos"))
    // "inactive" = no order since 2000 (every customer has SOME order in
    // the synthetic data; the unrestricted anti-join is empty)
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(avgPos))
      .filter(col("bal_c") * col("n_pos") > col("sum_c"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
      .select(col("c_nationkey"), col("numcust"),
        (col("totacctbal_c").cast("double") / lit(100.0)).as("totacctbal"))
  }

  val oTpchQ22: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer),
      |a AS (
      |  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
      |    CAST(count(*) AS BIGINT) AS n_pos
      |  FROM cust WHERE bal_c > 0)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
      |  sum(bal_c) ::DOUBLE / 100.0::DOUBLE AS totacctbal
      |FROM cust CROSS JOIN a
      |WHERE bal_c * n_pos > sum_c
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = cust.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1""".stripMargin

  // ---- TPC-H Q8 shape: national market share within a region for one
  //      part type. All dims broadcast; the fact scan carries cents-exact
  //      volume units; numerator and denominator are exact integer sums
  //      with ONE final double division per year ----
  def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    val pf = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val asia = t(s, dir, "nation").filter(col("n_regionkey") === 2)
      .select(col("n_nationkey"))
    val cust = t(s, dir, "customer")
      .join(broadcast(asia), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (floor(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100).cast("long")))
          .as("vol_u"))
    li.join(broadcast(pf), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        // per-year revenue sums → DECIMAL(38,0) (q_monthly_hhi class)
        sum(when(col("s_nationkey") === 10, col("vol_u")).otherwise(0L)
          .cast("decimal(38,0)")).as("num_u"),
        sum(col("vol_u").cast("decimal(38,0)")).as("den_u"))
      .select(col("o_year"),
        (col("num_u").cast("double") / col("den_u").cast("double"))
          .as("mkt_share"),
        (col("den_u").cast("double") / lit(10000.0)).as("total_volume"))
  }

  val oTpchQ8: String =
    """SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      |  sum(CASE WHEN s.s_nationkey = 10 THEN
      |      CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(floor(l.l_discount * 100) AS BIGINT)) ELSE 0 END)
      |    ::DOUBLE /
      |  sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(floor(l.l_discount * 100) AS BIGINT)))
      |    ::DOUBLE AS mkt_share,
      |  sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(floor(l.l_discount * 100) AS BIGINT)))
      |    ::DOUBLE / 10000.0::DOUBLE AS total_volume
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey AND n.n_regionkey = 2
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1""".stripMargin

  // ---- TPC-H Q10 shape: returned-item revenue per customer for one
  //      quarter. Customer/nation dims broadcast; one hash agg keyed by
  //      customer; acctbal carried as exact cents ----
  def qTpchQ10(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (floor(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100).cast("long")))
          .as("vol_u"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"))
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("acctbal_c"),
        col("n_name"))
      // per-customer row count is generator-dependent (orders/customer)
      // → DECIMAL(38,0) staging rather than a prose bound
      .agg(sum(col("vol_u").cast("decimal(38,0)")).as("rev_u"))
      .select(col("c_custkey"), col("c_name"),
        (col("acctbal_c").cast("double") / lit(100.0)).as("acctbal"),
        col("n_name"),
        (col("rev_u").cast("double") / lit(10000.0)).as("revenue"))
  }

  val oTpchQ10: String =
    """SELECT c.c_custkey, c.c_name,
      |  CAST(floor(c.c_acctbal * 100) AS BIGINT)::DOUBLE / 100.0::DOUBLE
      |    AS acctbal,
      |  n.n_name,
      |  sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(floor(l.l_discount * 100) AS BIGINT)))
      |    ::DOUBLE / 10000.0::DOUBLE AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |GROUP BY 1, 2, 3, 4""".stripMargin

  // ---- TPC-H Q15 shape: top supplier(s) by quarterly revenue. The
  //      per-supplier revenue aggregate is checkpointed once (the max
  //      self-reference would otherwise replan and rescan the subtree),
  //      then the 1-row max is broadcast back ----
  def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = graft.util.Checkpoints.truncate(
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        // per-supplier quarter revenue: row count per supplier is
        // generator-dependent → DECIMAL(38,0) staging
        .agg(sum((
          floor(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - floor(col("l_discount") * 100).cast("long")))
          .cast("decimal(38,0)"))
          .as("rev_u")))
    val top = rev.agg(max(col("rev_u")).as("max_u"))
    rev.join(broadcast(top), col("rev_u") === col("max_u"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_u").cast("double") / lit(10000.0)).as("total_revenue"))
  }

  val oTpchQ15: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
      |        (100 - CAST(floor(l_discount * 100) AS BIGINT)))
      |      AS BIGINT) AS rev_u
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name,
      |  r.rev_u::DOUBLE / 10000.0::DOUBLE AS total_revenue
      |FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
      |WHERE r.rev_u = (SELECT max(rev_u) FROM revenue)""".stripMargin

  // ---- TPC-H Q16 shape over the lineitem-derived supplier-part pairs
  //      (this schema ships no partsupp table): distinct suppliers per
  //      (brand, type, size), excluding negative-balance suppliers (the
  //      complaints stand-in). Pair distinct is one hash agg; both dims
  //      broadcast ----
  def qTpchQ16(s: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
    val pairs = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val excl = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val pf = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    pairs
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val oTpchQ16: String =
    """SELECT p.p_brand, p.p_type, p.p_size,
      |  CAST(count(DISTINCT sp.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
      |JOIN part p ON sp.l_partkey = p.p_partkey
      |WHERE p.p_brand <> 'Brand#13'
      |  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
      |  AND sp.l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  // ---- TPC-H Q17 shape: small-quantity-order revenue for one brand.
  //      The avg-quantity correlated subquery becomes a per-part hash agg
  //      joined back; qty < 0.2*avg is the exact integer inequality
  //      5*qty*cnt < sum_qty (quantities are integer-valued) ----
  def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    val pf = t(s, dir, "part").filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val avgq = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(broadcast(avgq), col("l_partkey") === col("a_partkey"))
      .filter(col("qty") * lit(5L) * col("cnt") < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        sum(col("price_c")).as("price_sum_c"))
      .select(col("n_small"),
        (col("price_sum_c").cast("double") / lit(700.0)).as("avg_yearly"))
  }

  val oTpchQ17: String =
    """WITH li AS (
      |  SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS qty,
      |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS price_c
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |    AND p.p_brand = 'Brand#13'),
      |a AS (
      |  SELECT l_partkey AS a_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM li GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_small,
      |  sum(price_c) ::DOUBLE / 700.0::DOUBLE AS avg_yearly
      |FROM li JOIN a ON li.l_partkey = a.a_partkey
      |WHERE qty * 5 * cnt < sum_qty""".stripMargin

  // ---- Mann–Whitney U: does the A-return cohort's quantity distribution
  //      dominate the R-return cohort's? Histogram pair counting, exact
  //      tie-corrected variance, one mirrored double expression ----
  def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.mannWhitneyU(
      t(s, dir, "lineitem"), "l_quantity", "l_returnflag", "A", "R")

  val oMannWhitney: String =
    """WITH hist AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v,
      |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 0 ELSE 1 END)
      |      AS BIGINT) AS n2
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
      |sc AS (
      |  SELECT v, n1, n2, n1 + n2 AS t,
      |    COALESCE(CAST(sum(n1 + n2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS cum
      |  FROM hist),
      |a AS (
      |  SELECT CAST(sum(n1) AS BIGINT) AS na, CAST(sum(n2) AS BIGINT) AS nb,
      |    sum(CAST(n1 AS HUGEINT) * (2 * cum + t + 1)) AS r1x2,
      |    sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
      |      - CAST(t AS HUGEINT)) AS tsum
      |  FROM sc)
      |SELECT na AS n_a, nb AS n_b,
      |  CAST(r1x2 - CAST(na AS HUGEINT) * (na + 1) AS BIGINT) AS u1_x2,
      |  CAST(r1x2 - CAST(na AS HUGEINT) * (na + 1)
      |      - CAST(na AS HUGEINT) * nb AS DOUBLE) /
      |    (2.0::DOUBLE * sqrt(
      |      CAST(CAST(na AS HUGEINT) * nb *
      |        (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
      |          - (na + nb) - tsum) AS DOUBLE) /
      |      CAST(12 * CAST(na + nb AS HUGEINT) * (na + nb - 1) AS DOUBLE)))
      |    AS z
      |FROM a""".stripMargin

  // ---- Kendall tau-b: monotone association between quantity and line
  //      number via the joint-value histogram (cell x cell pair counting,
  //      never corpus pairs) ----
  def qKendallTau(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.kendallTauB(
      t(s, dir, "lineitem"), "l_quantity", "l_linenumber")

  val oKendallTau: String =
    """WITH cells AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(l_linenumber AS BIGINT) AS y,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT
      |    sum(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * b.c
      |      ELSE 0 END) AS conc,
      |    sum(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * b.c
      |      ELSE 0 END) AS disc
      |  FROM cells a JOIN cells b ON a.x < b.x),
      |xm AS (
      |  SELECT sum(CAST(tx AS HUGEINT) * (tx - 1)) AS tiex2,
      |    CAST(sum(tx) AS HUGEINT) AS n
      |  FROM (SELECT CAST(sum(c) AS BIGINT) AS tx FROM cells GROUP BY x)),
      |ym AS (
      |  SELECT sum(CAST(ty AS HUGEINT) * (ty - 1)) AS tiey2
      |  FROM (SELECT CAST(sum(c) AS BIGINT) AS ty FROM cells GROUP BY y))
      |SELECT CAST(n AS BIGINT) AS n, CAST(conc AS BIGINT) AS conc,
      |  CAST(disc AS BIGINT) AS disc,
      |  2.0::DOUBLE * CAST(conc - disc AS DOUBLE) /
      |    (sqrt(CAST(n * (n - 1) - tiex2 AS DOUBLE)) *
      |      sqrt(CAST(n * (n - 1) - tiey2 AS DOUBLE))) AS tau_b
      |FROM p CROSS JOIN xm CROSS JOIN ym""".stripMargin

  // ---- Cochran–Armitage trend: is order finality monotonically
  //      associated with the priority tier? One bounded hash agg, exact
  //      moments, one mirrored z expression ----
  def qTrendTest(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      substring(col("o_orderpriority"), 1, 1).cast("int").as("w"),
      (col("o_orderstatus") === "F").as("y"))
    graft.operators.Stats.trendTest(base, "w", "y")
  }

  val oTrendTest: String =
    """WITH rows0 AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |g AS (
      |  SELECT w, CAST(sum(y) AS BIGINT) AS a,
      |    CAST(count(*) AS BIGINT) AS ni
      |  FROM rows0 GROUP BY 1),
      |m AS (
      |  SELECT CAST(sum(a) AS HUGEINT) AS r1,
      |    CAST(sum(ni) AS HUGEINT) AS nn,
      |    sum(CAST(w AS HUGEINT) * a) AS swa,
      |    sum(CAST(w AS HUGEINT) * (ni - a)) AS swb,
      |    sum(CAST(w AS HUGEINT) * ni) AS swn,
      |    sum(CAST(w AS HUGEINT) * w * ni) AS sw2n
      |  FROM g)
      |SELECT CAST(nn AS BIGINT) AS n, CAST(r1 AS BIGINT) AS r1,
      |  CAST((nn - r1) * swa - r1 * swb AS BIGINT) AS t_stat,
      |  CAST((nn - r1) * swa - r1 * swb AS DOUBLE) *
      |    sqrt(CAST(nn AS DOUBLE)) /
      |    sqrt(CAST(r1 * (nn - r1) * (nn * sw2n - swn * swn) AS DOUBLE))
      |    AS z
      |FROM m""".stripMargin

  // ---- TPC-H Q2 shape (schema ships no partsupp): per-part minimum
  //      unit cost among one region's suppliers, ties kept. Unit cost is
  //      exact integer division (DIV/"//" — cents DIV qty); the cost
  //      table is checkpointed once so the min self-reference does not
  //      rescan the corpus ----
  def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    val pf = t(s, dir, "part").filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_name"))
    val eur = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") === 3)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        floor(col("s_acctbal") * 100).cast("long").as("bal_c"))
    val cost = graft.util.Checkpoints.truncate(
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) DIV " +
            "CAST(l_quantity AS BIGINT)").as("unit_c"))
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"), col("bal_c"))
        .agg(min(col("unit_c")).as("cost_c")))
    val best = cost.groupBy(col("p_partkey").as("b_partkey"))
      .agg(min(col("cost_c")).as("min_c"))
    cost.join(broadcast(best),
        col("p_partkey") === col("b_partkey") &&
          col("cost_c") === col("min_c"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("cost_c"),
        (col("bal_c").cast("double") / lit(100.0)).as("acctbal"))
  }

  val oTpchQ2: String =
    """WITH cost AS (
      |  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
      |    CAST(floor(s.s_acctbal * 100) AS BIGINT) AS bal_c,
      |    min(CAST(floor(l.l_extendedprice * 100) AS BIGINT) //
      |        CAST(l.l_quantity AS BIGINT)) AS cost_c
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size = 15
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |    AND n.n_regionkey = 3
      |  GROUP BY 1, 2, 3, 4, 5, 6),
      |best AS (
      |  SELECT p_partkey AS b_partkey, min(cost_c) AS min_c
      |  FROM cost GROUP BY 1)
      |SELECT c.p_partkey, c.p_name, c.s_name, c.n_name, c.cost_c,
      |  c.bal_c::DOUBLE / 100.0::DOUBLE AS acctbal
      |FROM cost c JOIN best b
      |  ON c.p_partkey = b.b_partkey AND c.cost_c = b.min_c""".stripMargin

  // ---- TPC-H Q9 shape: profit by supplier nation and order year for a
  //      part-name family, with p_retailprice standing in for the absent
  //      ps_supplycost. profit units are cents x percent, exact ----
  def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    val pf = t(s, dir, "part").filter(col("p_name").like("%gear%"))
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("retail_c"))
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    t(s, dir, "lineitem")
      .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      // Σ profit_u over unbounded (nation, year) groups → DECIMAL(38,0)
      .agg(sum((
        floor(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100).cast("long")) -
          lit(100L) * col("l_quantity").cast("long") * col("retail_c"))
        .cast("decimal(38,0)"))
        .as("profit_u"))
      .select(col("n_name"), col("o_year"),
        (col("profit_u").cast("double") / lit(10000.0)).as("profit"))
  }

  val oTpchQ9: String =
    """SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      |  sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(floor(l.l_discount * 100) AS BIGINT)) -
      |      100 * CAST(l.l_quantity AS BIGINT) *
      |        CAST(floor(p.p_retailprice * 100) AS BIGINT))
      |    ::DOUBLE / 10000.0::DOUBLE AS profit
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear%'
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1, 2""".stripMargin

  // ---- TPC-H Q11 shape: shipped-value concentration for one nation's
  //      suppliers — parts whose value exceeds 1/1000 of the national
  //      total, the fraction test done by exact integer multiplication
  //      (value x 1000 > total), never division ----
  def qTpchQ11(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier").filter(col("s_nationkey") === 7)
      .select(col("s_suppkey"))
    val value = graft.util.Checkpoints.truncate(
      t(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        // qty·cents product summed over generator-dependent per-part row
        // counts, then re-summed nation-wide → DECIMAL(38,0) staging
        .agg(sum((col("l_quantity").cast("long") *
          floor(col("l_extendedprice") * 100).cast("long"))
          .cast("decimal(38,0)")).as("val_u")))
    val total = value.agg(sum(col("val_u")).as("total_u"))
    value.crossJoin(broadcast(total))
      .filter(col("val_u") * lit(1000L) > col("total_u"))
      .select(col("l_partkey"),
        (col("val_u").cast("double") / lit(100.0)).as("value"))
  }

  val oTpchQ11: String =
    """WITH value AS (
      |  SELECT l.l_partkey,
      |    sum(CAST(l.l_quantity AS HUGEINT) *
      |        CAST(floor(l.l_extendedprice * 100) AS BIGINT))
      |      AS val_u
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = 7
      |  GROUP BY 1)
      |SELECT l_partkey, val_u::DOUBLE / 100.0::DOUBLE AS value
      |FROM value
      |WHERE val_u * 1000 > (SELECT sum(val_u) FROM value)"""
      .stripMargin

  // ---- TPC-H Q12 shape (schema ships no l_shipmode): late-shipment
  //      priority mix by line status — late = shipped more than 60 days
  //      after the order date; priority split via exact CASE sums ----
  def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
  }

  val oTpchQ12: String =
    """SELECT l.l_linestatus,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1""".stripMargin

  // ---- TPC-H Q20 shape: suppliers who shipped more of the red part
  //      family in 1996 than a fifth of their all-years volume (the
  //      availqty correlation recast per-supplier: 5 x qty_1996 >
  //      qty_total, exact — above the ~1/7 uniform-year share) — one
  //      conditional hash agg, no second scan ----
  def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    val red = t(s, dir, "part").filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    t(s, dir, "lineitem")
      .join(broadcast(red), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        sum(when(year(col("l_shipdate")) === 1996,
          col("l_quantity").cast("long")).otherwise(0L)).as("qty_1996"),
        sum(col("l_quantity").cast("long")).as("qty_total"))
      .filter(col("qty_1996") * lit(5L) > col("qty_total"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("n_name"), col("qty_1996"),
        col("qty_total"))
  }

  val oTpchQ20: String =
    """WITH q AS (
      |  SELECT l.l_suppkey,
      |    CAST(sum(CASE WHEN year(l.l_shipdate) = 1996
      |      THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS qty_1996,
      |    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_total
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'red%'
      |  GROUP BY 1)
      |SELECT s.s_name, n.n_name, q.qty_1996, q.qty_total
      |FROM q JOIN supplier s ON q.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE q.qty_1996 * 5 > q.qty_total""".stripMargin

  // ---- TPC-H Q21 shape: suppliers who were the ONLY late shipper in a
  //      multi-supplier finalized order (late = shipped >90 days after
  //      the order date; the schema ships no receipt/commit dates). The
  //      per-(order, supplier) aggregate is checkpointed once; the
  //      EXISTS / NOT EXISTS pair becomes integer predicates on the
  //      per-order rollup ----
  def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    val ordF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val pairs = graft.util.Checkpoints.truncate(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L).otherwise(0L))
          .as("has_late")))
    val stats = pairs.groupBy(col("o_orderkey").as("k_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("has_late")).as("n_late"))
    pairs.filter(col("has_late") === 1L)
      .join(stats,
        col("o_orderkey") === col("k_orderkey") &&
          col("n_supp") > 1L && col("n_late") === 1L)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
  }

  val oTpchQ21: String =
    """WITH pairs AS (
      |  SELECT l.l_orderkey, l.l_suppkey,
      |    max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      |      THEN 1 ELSE 0 END) AS has_late
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |    AND o.o_orderstatus = 'F'
      |  GROUP BY 1, 2),
      |stats AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supp,
      |    CAST(sum(has_late) AS BIGINT) AS n_late
      |  FROM pairs GROUP BY 1)
      |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM pairs p
      |JOIN stats t ON p.l_orderkey = t.l_orderkey
      |  AND t.n_supp > 1 AND t.n_late = 1
      |JOIN supplier s ON p.l_suppkey = s.s_suppkey
      |WHERE p.has_late = 1
      |GROUP BY 1""".stripMargin

  // ---- local-peak detection: days strictly above both neighbors and
  //      the event type's mean; integer cross-multiplied mean test ----
  def qPeaks(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"), expr("ts DIV 86400000000000").as("d"))
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("n"))
    graft.operators.Temporal.peakDetect(daily, "event_type", "d", "n")
  }

  val oPeaks: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
      |    CAST(count(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY 1),
      |x AS (
      |  SELECT event_type, d, n,
      |    lag(n) OVER (PARTITION BY event_type ORDER BY d) AS prev_n,
      |    lead(n) OVER (PARTITION BY event_type ORDER BY d) AS next_n
      |  FROM daily)
      |SELECT x.event_type, x.d, x.n, x.prev_n, x.next_n,
      |  CAST(x.n * t.n_days AS DOUBLE) / CAST(t.tot AS DOUBLE) AS lift
      |FROM x JOIN tot t ON x.event_type = t.event_type
      |WHERE x.prev_n IS NOT NULL AND x.next_n IS NOT NULL
      |  AND x.n > x.prev_n AND x.n > x.next_n
      |  AND x.n * t.n_days > t.tot""".stripMargin

  // ---- rich-club coefficient of the co-purchase graph (same projection
  //      as q_triangles): hub interconnection density per degree
  //      threshold, evaluated against bounded histograms ----
  def qRichClub(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 26)
      .select(col("l_orderkey").as("k"), col("l_partkey"))
    val pairs = li.select(col("k"), col("l_partkey").as("src"))
      .join(li.select(col("k"), col("l_partkey").as("dst")), "k")
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    graft.operators.Graph.richClub(pairs, Seq(2, 4, 8, 16))
  }

  val oRichClub: String =
    """WITH li AS (
      |  SELECT l_orderkey AS k, l_partkey FROM lineitem
      |  WHERE l_quantity >= 26),
      |e0 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |und AS (SELECT u AS s, v AS d FROM e0
      |        UNION SELECT v, u FROM e0),
      |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS dg
      |        FROM und GROUP BY 1),
      |degh AS (SELECT dg, CAST(count(*) AS BIGINT) AS dcnt
      |         FROM deg GROUP BY 1),
      |ed AS (
      |  SELECT least(dx.dg, dy.dg) AS md
      |  FROM und u JOIN deg dx ON u.s = dx.s JOIN deg dy ON u.d = dy.s),
      |edh AS (SELECT md, CAST(count(*) AS BIGINT) AS mcnt
      |        FROM ed GROUP BY 1),
      |ks AS (SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS k),
      |nr AS (
      |  SELECT ks.k, CAST(COALESCE(sum(degh.dcnt), 0) AS BIGINT)
      |    AS n_rich
      |  FROM ks LEFT JOIN degh ON degh.dg > ks.k GROUP BY 1),
      |er AS (
      |  SELECT ks.k, CAST(COALESCE(sum(edh.mcnt), 0) AS BIGINT)
      |    AS e_rich_x2
      |  FROM ks LEFT JOIN edh ON edh.md > ks.k GROUP BY 1)
      |SELECT nr.k, nr.n_rich, er.e_rich_x2,
      |  CAST(er.e_rich_x2 AS DOUBLE) /
      |    CAST(nr.n_rich * (nr.n_rich - 1) AS DOUBLE) AS phi
      |FROM nr JOIN er ON nr.k = er.k
      |WHERE nr.n_rich >= 2""".stripMargin

  // ---- blocking-quality audit for the record-linkage blocking key:
  //      per-block candidate pairs, work share, global reduction ratio ----
  def qBlockingQuality(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage.blockingQuality(
      t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"))

  val oBlockingQuality: String =
    """WITH blocks AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT)
      |    AS n_rows
      |  FROM customer GROUP BY 1, 2),
      |t AS (
      |  SELECT CAST(sum(n_rows) AS HUGEINT) AS nn,
      |    sum(CAST(n_rows AS HUGEINT) * (n_rows - 1)) AS cand_x2
      |  FROM blocks)
      |SELECT b.c_nationkey, b.c_mktsegment, b.n_rows,
      |  CAST(b.n_rows * (b.n_rows - 1) AS BIGINT) AS pairs_x2,
      |  CAST(CAST(b.n_rows AS HUGEINT) * (b.n_rows - 1) AS DOUBLE) /
      |    CAST(t.cand_x2 AS DOUBLE) AS pair_share,
      |  1.0::DOUBLE - CAST(t.cand_x2 AS DOUBLE) /
      |    CAST(t.nn * (t.nn - 1) AS DOUBLE) AS reduction_ratio
      |FROM blocks b CROSS JOIN t""".stripMargin

  // ---- landmark harmonic closeness on the order-supplier graph:
  //      multi-source bounded BFS from 5 deterministic supplier
  //      landmarks; reciprocal distances fold via lcm(1..3)=6 scaling ----
  def qLandmarkCloseness(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val edges = li.select((col("l_orderkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    val lms = li.filter(col("l_suppkey") < 5)
      .select((col("l_suppkey") * 2 + 1).as("lm")).distinct()
    graft.operators.Graph.landmarkCloseness(edges, lms, rounds = 3)
  }

  val oLandmarkCloseness: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |    FROM lineitem
      |    UNION ALL
      |    SELECT l_suppkey * 2 + 1, l_orderkey * 2 FROM lineitem)),
      |lm AS (
      |  SELECT DISTINCT l_suppkey * 2 + 1 AS lm FROM lineitem
      |  WHERE l_suppkey < 5),
      |bfs(lm, node, d) AS (
      |  SELECT lm, lm, CAST(0 AS BIGINT) FROM lm
      |  UNION
      |  SELECT bfs.lm, e.dst, bfs.d + 1 FROM bfs
      |  JOIN e ON e.src = bfs.node WHERE bfs.d < 3),
      |md AS (SELECT lm, node, min(d) AS d FROM bfs GROUP BY 1, 2)
      |SELECT node, CAST(count(*) AS BIGINT) AS n_lm,
      |  CAST(sum(6 // d) AS BIGINT) AS h_scaled,
      |  sum(6 // d) ::DOUBLE / 6.0::DOUBLE AS harmonic
      |FROM md WHERE d > 0 GROUP BY 1""".stripMargin

  // ---- functional-dependency discovery over candidate pairs: one
  //      melted scan, per-group rhs cardinality, per-pair rollup ----
  def qFdCheck(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.fdProfile(t(s, dir, "orders"), Seq(
      ("o_orderkey", "o_orderstatus"),
      ("o_custkey", "o_orderpriority"),
      ("o_orderpriority", "o_orderstatus")))

  val oFdCheck: String =
    """WITH m AS (
      |  SELECT 'o_orderkey->o_orderstatus' AS fd,
      |    CAST(o_orderkey AS VARCHAR) AS lhs, o_orderstatus AS rhs
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey->o_orderpriority',
      |    CAST(o_custkey AS VARCHAR), o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority->o_orderstatus',
      |    o_orderpriority, o_orderstatus FROM orders),
      |g AS (
      |  SELECT fd, lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS card,
      |    CAST(count(*) AS BIGINT) AS nr
      |  FROM m GROUP BY 1, 2)
      |SELECT fd, CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violating,
      |  max(card) AS max_card,
      |  CAST(sum(nr) AS BIGINT) AS n_rows,
      |  sum(CASE WHEN card <= 1 THEN nr ELSE 0 END) ::DOUBLE
      |    / sum(nr) ::DOUBLE AS clean_frac
      |FROM g GROUP BY 1""".stripMargin

  // ---- split-balance chi^2: is source composition independent of the
  //      content-hash train/val/test assignment? Exact per-cell
  //      contributions, Benford discipline ----
  def qSplitBalance(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.TrainPrep.deterministicSplit(
      t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
    graft.operators.Profiling.splitBalance(docs, "source", "split")
  }

  val oSplitBalance: String =
    s"""WITH s0 AS (
       |  SELECT source,
       |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM (SELECT source,
       |          ${H32.format("CAST(doc_id AS VARCHAR)")} % 100 AS h
       |        FROM documents)),
       |cells AS (
       |  SELECT source, split, CAST(count(*) AS BIGINT) AS n_obs
       |  FROM s0 GROUP BY 1, 2),
       |r AS (SELECT source, CAST(sum(n_obs) AS HUGEINT) AS r
       |      FROM cells GROUP BY 1),
       |c AS (SELECT split, CAST(sum(n_obs) AS HUGEINT) AS c
       |      FROM cells GROUP BY 1),
       |t AS (SELECT CAST(sum(n_obs) AS HUGEINT) AS nn FROM cells)
       |SELECT cells.source, cells.split, cells.n_obs,
       |  CAST(r.r * c.c AS DOUBLE) / CAST(t.nn AS DOUBLE) AS expected,
       |  CAST((CAST(cells.n_obs AS HUGEINT) * t.nn - r.r * c.c) *
       |       (CAST(cells.n_obs AS HUGEINT) * t.nn - r.r * c.c) AS DOUBLE)
       |    / CAST(t.nn * r.r * c.c AS DOUBLE) AS contrib
       |FROM cells JOIN r ON cells.source = r.source
       |JOIN c ON cells.split = c.split CROSS JOIN t""".stripMargin

  // ---- growth accounting: weekly active-user ledger decomposed into
  //      new / retained / resurrected / churned via a shifted
  //      full-outer self-join on the (user, week) activity grid ----
  def qGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val weekly = events(s, dir)
      .select(col("user_id"), expr("ts DIV 604800000000000").as("w"))
    graft.operators.Sessions.growthAccounting(weekly, "user_id", "w")
  }

  val oGrowthAccounting: String =
    """WITH weekly AS (
      |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS w
      |  FROM events),
      |f AS (SELECT u, min(w) AS fw FROM weekly GROUP BY 1),
      |cur AS (SELECT u, w, 1 AS c FROM weekly),
      |prv AS (SELECT u, w + 1 AS w, 1 AS p FROM weekly),
      |j AS (
      |  SELECT COALESCE(cur.u, prv.u) AS u, COALESCE(cur.w, prv.w) AS w,
      |    cur.c, prv.p
      |  FROM cur FULL JOIN prv ON cur.u = prv.u AND cur.w = prv.w)
      |SELECT j.w,
      |  CAST(sum(CASE WHEN j.c = 1 AND j.w = f.fw THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN j.c = 1 AND j.p = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_retained,
      |  CAST(sum(CASE WHEN j.c = 1 AND j.p IS NULL AND j.w > f.fw
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
      |  CAST(sum(CASE WHEN j.c IS NULL AND j.p = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_churned
      |FROM j JOIN f ON j.u = f.u GROUP BY 1""".stripMargin

  // ---- bipartite audit: parity 2-coloring of the co-purchase graph's
  //      4-hop ball; any same-parity edge witnesses an odd cycle ----
  def qBipartiteCheck(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 26)
      .select(col("l_orderkey").as("k"), col("l_partkey"))
    val pairs = li.select(col("k"), col("l_partkey").as("src"))
      .join(li.select(col("k"), col("l_partkey").as("dst")), "k")
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    graft.operators.Graph.bipartiteCheck(pairs, sourceNode = 1L, rounds = 4)
  }

  val oBipartiteCheck: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey AS k, l_partkey FROM lineitem
      |  WHERE l_quantity >= 26),
      |e0 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |e AS (SELECT u AS src, v AS dst FROM e0
      |      UNION SELECT v, u FROM e0),
      |bfs(node, d) AS (
      |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |  UNION
      |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
      |  WHERE bfs.d < 4),
      |dep AS (SELECT node, min(d) AS d FROM bfs GROUP BY 1),
      |chk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_edges_x2,
      |    CAST(sum(CASE WHEN (du.d + dv.d) % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_conflicts_x2
      |  FROM e JOIN dep du ON e.src = du.node
      |  JOIN dep dv ON e.dst = dv.node)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM dep) AS n_reached,
      |  chk.n_edges_x2, chk.n_conflicts_x2,
      |  chk.n_conflicts_x2 = 0 AS is_bipartite_ball
      |FROM chk""".stripMargin

  // ---- Hampel filter: trailing-7-day median/MAD spike flags, exact
  //      order statistics of integer lists (odd window, no floats) ----
  def qHampel(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"), expr("ts DIV 86400000000000").as("d"))
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("n"))
    graft.operators.Temporal.hampelFilter(daily, "event_type", "d", "n")
  }

  val oHampel: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |x AS (
      |  SELECT event_type, d, n,
      |    list(n) OVER (PARTITION BY event_type ORDER BY d
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS lst
      |  FROM daily),
      |y AS (
      |  SELECT event_type, d, n, lst,
      |    CAST(list_sort(lst)[4] AS BIGINT) AS med
      |  FROM x WHERE len(lst) = 7),
      |z AS (
      |  SELECT event_type, d, n, med, abs(n - med) AS dev,
      |    CAST(list_sort(list_transform(lst, v -> abs(v - med)))[4]
      |      AS BIGINT) AS mad
      |  FROM y)
      |SELECT event_type, d, n, med, dev, mad,
      |  dev > 3 * mad AS is_outlier
      |FROM z""".stripMargin

  // ---- global transitivity of the co-purchase graph (same projection
  //      as q_triangles): 6 x triangles / sum d(d-1), exact counts ----
  def qTransitivity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 26)
      .select(col("l_orderkey").as("k"), col("l_partkey"))
    val pairs = li.select(col("k"), col("l_partkey").as("a"))
      .join(li.select(col("k"), col("l_partkey").as("b")), "k")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    graft.operators.Graph.transitivity(pairs)
  }

  val oTransitivity: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  WHERE a.l_quantity >= 26 AND b.l_quantity >= 26),
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS d
      |  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
      |  GROUP BY 1),
      |o AS (
      |  SELECT
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
      |         THEN e0.u ELSE e0.v END AS src,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
      |         THEN e0.v ELSE e0.u END AS dst,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
      |         THEN dv.d ELSE du.d END AS ddst
      |  FROM e0 JOIN deg du ON e0.u = du.node JOIN deg dv ON e0.v = dv.node),
      |w AS (
      |  SELECT e1.dst AS y, e2.dst AS z
      |  FROM o e1 JOIN o e2 ON e1.src = e2.src
      |  WHERE e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst)),
      |t AS (
      |  -- each wedge row matches at most one oriented (y,z) edge, and
      |  -- wedges with the same (y,z) but different centers each count
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM w JOIN o ON w.y = o.src AND w.z = o.dst),
      |wd AS (SELECT CAST(sum(d::HUGEINT * (d - 1)) AS BIGINT) AS wedges_x2
      |       FROM deg)
      |SELECT t.n_triangles, wd.wedges_x2,
      |  CAST(6 * t.n_triangles AS DOUBLE) / CAST(wd.wedges_x2 AS DOUBLE)
      |    AS transitivity
      |FROM t CROSS JOIN wd""".stripMargin

  // ---- dedup threshold sweep: the "how much would we delete at
  //      threshold theta" curve every curation decision needs - pair
  //      counts and flagged-doc counts at four Jaccard cutoffs from ONE
  //      pair computation (explode a literal theta list, no re-scan) ----
  def qDedupSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup.ngramJaccardSample(
      t(s, dir, "documents"), n = 3, targetSample = 60,
      minJaccard = 0.2, hashedIds = true)
    pairs.select(col("a_id"), col("b_id"), col("jaccard"),
        explode(array(Seq(0.2, 0.4, 0.6, 0.8).map(lit): _*)).as("theta"))
      .filter(col("jaccard") >= col("theta"))
      .groupBy(col("theta"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("b_id")).as("n_docs_flagged"))
  }

  val oDedupSweep: String =
    """WITH m AS (
      |  SELECT greatest(1, CAST(ceil(count(*) / 60.0) AS BIGINT)) AS mod
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g
      |  FROM documents, m
      |  WHERE ('0x' || substr(md5('7#' || CAST(doc_id AS VARCHAR)), 1, 8))
      |          ::BIGINT % m.mod = 0),
      |p AS (
      |  SELECT a_id, b_id, jaccard FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |      CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
      |        len(list_distinct(a.g || b.g)) AS jaccard
      |    FROM g a, g b WHERE a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.2)
      |SELECT theta, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT b_id) AS BIGINT) AS n_docs_flagged
      |FROM p, (SELECT unnest([0.2, 0.4, 0.6, 0.8]::DOUBLE[]) AS theta) t
      |WHERE p.jaccard >= t.theta
      |GROUP BY 1""".stripMargin

  // ---- cohort LTV: cumulative revenue per first-order-month cohort by
  //      month offset - the revenue-weighted companion to retention.
  //      Cents-exact sums; the cumulative window runs over the bounded
  //      month-offset domain per cohort ----
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = t(s, dir, "orders").select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("m"),
      floor(col("o_totalprice") * 100).cast("long").as("price_c"))
    val first = graft.util.Checkpoints.truncate(
      ord.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m")))
    val sizes = first.groupBy(col("cohort_m")).agg(count(lit(1)).as("n_cohort"))
    val cells = ord.join(first, Seq("o_custkey"))
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("offset"))
      .agg(sum(col("price_c")).as("rev_c"),
        countDistinct(col("o_custkey")).as("n_active"))
    val w = Window.partitionBy(col("cohort_m")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_rev_c", sum(col("rev_c")).over(w))
      .join(broadcast(sizes), Seq("cohort_m"))
      .select(col("cohort_m"), col("offset"), col("n_active"),
        col("n_cohort"),
        (col("cum_rev_c").cast("double") / lit(100.0)).as("cum_rev"),
        (col("cum_rev_c").cast("double") /
          (lit(100L) * col("n_cohort")).cast("double")).as("ltv_per_customer"))
  }

  val oCohortLtv: String =
    """WITH ord AS (
      |  SELECT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
      |      AS m,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
      |  FROM orders),
      |f AS (SELECT o_custkey, min(m) AS cohort_m FROM ord GROUP BY 1),
      |sz AS (SELECT cohort_m, CAST(count(*) AS BIGINT) AS n_cohort
      |       FROM f GROUP BY 1),
      |cells AS (
      |  SELECT f.cohort_m, ord.m - f.cohort_m AS "offset",
      |    CAST(sum(price_c) AS BIGINT) AS rev_c,
      |    CAST(count(DISTINCT ord.o_custkey) AS BIGINT) AS n_active
      |  FROM ord JOIN f ON ord.o_custkey = f.o_custkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_m, "offset", n_active,
      |    CAST(sum(rev_c) OVER (PARTITION BY cohort_m ORDER BY "offset"
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_rev_c
      |  FROM cells)
      |SELECT c.cohort_m, c."offset", c.n_active, sz.n_cohort,
      |  c.cum_rev_c::DOUBLE / 100.0::DOUBLE AS cum_rev,
      |  c.cum_rev_c::DOUBLE / CAST(100 * sz.n_cohort AS DOUBLE)
      |    AS ltv_per_customer
      |FROM cum c JOIN sz ON c.cohort_m = sz.cohort_m""".stripMargin

  // ---- duplicate-payment audit: same customer, same amount bucket
  //      (nearest $100 - this synthetic price domain never repeats to
  //      the cent), different order, within 90 days - the classic AP
  //      double-charge screen as a (customer, amount) equi-join ----
  def qDupInvoices(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT) DIV 10000")
        .as("amt_b"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("ts_us"))
    o.select(col("o_custkey"), col("amt_b"),
        col("o_orderkey").as("a_key"), col("ts_us").as("a_ts"))
      .join(o.select(col("o_custkey"), col("amt_b"),
        col("o_orderkey").as("b_key"), col("ts_us").as("b_ts")),
        Seq("o_custkey", "amt_b"))
      .filter(col("a_key") < col("b_key") &&
        abs(col("a_ts") - col("b_ts")) <= lit(90L * 86400000000L))
      .select(col("o_custkey"), col("a_key"), col("b_key"),
        (col("amt_b") * lit(100L)).as("amount_bucket"),
        // DIV, not `/` (which widens longs to DOUBLE and then truncates
        // differently than integer floor) — the binning discipline
        expr("abs(a_ts - b_ts) DIV 86400000000").as("day_gap"))
  }

  val oDupInvoices: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) // 10000 AS amt_b,
      |    epoch_us(o_orderdate) AS ts_us
      |  FROM orders)
      |SELECT a.o_custkey, a.o_orderkey AS a_key, b.o_orderkey AS b_key,
      |  CAST(a.amt_b * 100 AS BIGINT) AS amount_bucket,
      |  CAST(abs(a.ts_us - b.ts_us) // 86400000000 AS BIGINT) AS day_gap
      |FROM o a JOIN o b
      |  ON a.o_custkey = b.o_custkey AND a.amt_b = b.amt_b
      |  AND a.o_orderkey < b.o_orderkey
      |  AND abs(a.ts_us - b.ts_us) <= 90 * 86400000000""".stripMargin

  // ---- sample-ratio mismatch: the experimentation guardrail - a
  //      hash-based 50/50 assignment whose observed split drifts is a
  //      broken experiment, not a treatment effect. Exact integer flag
  //      (na-nb)^2 > 4(na+nb) = |z| > 2; z itself is the one float ----
  def qAbSrm(s: SparkSession, dir: String): DataFrame = {
    val users = events(s, dir).select(col("user_id")).distinct()
      .select(col("user_id"),
        (graft.functions.Portable.hash32(col("user_id"), 11) % 2)
          .as("variant"))
    users.agg(
        sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) >
          lit(4L) * (col("n_a") + col("n_b"))).as("srm_flag"),
        ((col("n_a") - col("n_b")).cast("double") /
          sqrt((col("n_a") + col("n_b")).cast("double"))).as("z"))
  }

  val oAbSrm: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |v AS (
       |  SELECT ${H32.format("'11#' || CAST(user_id AS VARCHAR)")} % 2
       |    AS variant
       |  FROM u),
       |a AS (
       |  SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b
       |  FROM v)
       |SELECT n_a, n_b,
       |  (n_a - n_b) * (n_a - n_b) > 4 * (n_a + n_b) AS srm_flag,
       |  CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE)) AS z
       |FROM a""".stripMargin

  // ---- funnel conversion-latency histogram: days from first view to
  //      the (windowed) purchase for fully converting users ----
  def qFunnelLatency(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessions.windowedFunnel(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us")),
        steps = Seq("view", "click", "purchase"),
        windowMicros = 604800000000L)
      .filter(col("stage") === 3L)
      .groupBy(expr("(t3 - t1) DIV 86400000000").as("day_bucket"))
      .agg(count(lit(1)).as("n_users"))

  val oFunnelLatency: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND ts_us > t1
      |         AND ts_us <= t1 + 604800000000 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts_us > t2
      |         AND ts_us <= t2 + 604800000000 GROUP BY 1)
      |SELECT (s3.t3 - s1.t1) // 86400000000 AS day_bucket,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM s3 JOIN s1 USING (user_id) GROUP BY 1""".stripMargin
}
