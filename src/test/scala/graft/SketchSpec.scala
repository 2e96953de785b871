package graft

import org.apache.spark.sql.functions._

/** Approximate-aggregate capabilities (HyperLogLog distinct, quantile
  * sketch). These cannot hash-match a cross-engine oracle (sketch
  * internals differ), so they are verified here against the exact
  * aggregates instead — the standard accuracy contract a 100 TB pipeline
  * relies on when exact distinct/percentile would need a full shuffle.
  */
class SketchSpec extends SparkSpec {

  private lazy val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("approx_count_distinct within 5% of exact") {
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect()(0)
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact drift too large")
  }

  test("logLinearQuantile honors its 1/(2k) relative-error contract at several q") {
    import org.apache.spark.sql.expressions.Window
    val v = li.select(col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
    for (q <- Seq(0.25, 0.5, 0.9)) {
      val sk = graft.operators.Quantile
        .logLinearQuantile(v, Seq("l_returnflag"), "v", q, subBuckets = 16)
      val byFlag = Window.partitionBy(col("l_returnflag"))
      val exact = v
        .withColumn("rn", row_number().over(byFlag.orderBy(col("v"))).cast("long"))
        .withColumn("n2", count(lit(1)).over(byFlag))
        .filter(col("rn") === ceil(lit(q) * col("n2")).cast("long"))
        .select(col("l_returnflag"), col("v").as("exact_v"))
      val rows = sk.join(exact, "l_returnflag")
        .select(col("est"), col("exact_v").cast("double")).collect()
      assert(rows.length === 3)
      for (r <- rows) {
        val (est, ex) = (r.getDouble(0), r.getDouble(1))
        // slot midpoint vs true slot member: ≤ half a slot, relative to
        // the slot's lower edge → 1/(2·16)
        assert(math.abs(est - ex) / ex <= 1.0 / 32 + 1e-12,
          s"q=$q est=$est exact=$ex")
      }
    }
  }

  test("logLinearQuantile is partition-independent") {
    val v = li.select(col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
    val a = graft.operators.Quantile
      .logLinearQuantile(v, Seq("l_returnflag"), "v", 0.5).collect().toSet
    val b = graft.operators.Quantile
      .logLinearQuantile(v.repartition(7), Seq("l_returnflag"), "v", 0.5)
      .collect().toSet
    assert(a === b)
  }

  test("portable HLL estimates within its error regime and is partition-independent") {
    import graft.operators.Sketch
    val exact = li.agg(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val est = Sketch.hllDistinct(li.select(lit(1).as("g"), col("l_partkey")),
      Seq("g"), "l_partkey").select(col("hll_est"))
      .collect()(0).getDouble(0)
    // sf0.001 has ~200 distinct parts — below the raw estimator's 2.5m
    // sweet spot, so allow the documented low-range upward bias; the
    // estimate must still land within a small constant factor
    assert(est > exact * 0.7 && est < exact * 3.0, s"est=$est exact=$exact")
    // registers are max-folds of a pure value hash: layout-independent
    val est2 = Sketch.hllDistinct(
      li.repartition(7).select(lit(1).as("g"), col("l_partkey")),
      Seq("g"), "l_partkey").select(col("hll_est")).collect()(0).getDouble(0)
    assert(est === est2)
  }

  test("portable HLL register math matches a Scala replay of the estimator") {
    import graft.operators.Sketch
    import spark.implicits._
    val vals = (1L to 500L)
    val df = vals.map(v => ("g", v)).toDF("g", "v")
    val got = Sketch.hllDistinct(df, Seq("g"), "v")
      .select("hll_est").collect()(0).getDouble(0)
    // replay: same md5-truncated hash, same integer register fold
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val regs = vals.map(v => h32(v.toString))
      .groupBy(_ >> 24)
      .view.mapValues { hs =>
        hs.map { h =>
          val w = h & 0xFFFFFF
          if (w == 0) 25 else 25 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        }.max
      }.toMap
    val s = (256 - regs.size).toLong * (1L << 25) +
      regs.values.map(m => 1L << (25 - m)).sum
    val expected = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 33554432.0 / s.toDouble
    assert(got === expected)
  }

  test("HLL registers max-merge losslessly: union sketch == direct sketch") {
    import graft.operators.Sketch
    import spark.implicits._
    // two disjoint slices with an overlap — the union's registers must be
    // the per-slice max, and the merged estimate must equal a direct scan
    val a = (1L to 300L).map(v => ("a", v)).toDF("slice", "v")
    val b = (200L to 500L).map(v => ("b", v)).toDF("slice", "v")
    val both = a.union(b)
    val merged = Sketch.hllEstimate(
      Sketch.hllRegisters(both, Seq("slice"), "v")
        .groupBy(col("_j")).agg(max(col("_m")).as("_m")), Nil)
      .collect()(0).getDouble(0)
    val direct = Sketch.hllEstimate(
      Sketch.hllRegisters(both.select(col("v")), Nil, "v"), Nil)
      .collect()(0).getDouble(0)
    assert(merged === direct, "max-merged registers must reproduce the direct sketch")
  }

  test("count-min cell tables sum-merge losslessly across slices") {
    import graft.operators.Sketch
    import spark.implicits._
    val a = (1 to 3000).map(i => s"tok${i % 97}").toDF("token")
    val b = (1 to 2000).map(i => s"tok${(i * 3) % 211}").toDF("token")
    val mergedCells = Sketch.cmsSketch(a)
      .unionByName(Sketch.cmsSketch(b))
      .groupBy(col("seed"), col("bucket"))
      .agg(sum(col("cell_cnt")).as("cell_cnt"))
      .as[(Int, Long, Long)].collect().toSet
    val directCells = Sketch.cmsSketch(a.unionByName(b))
      .as[(Int, Long, Long)].collect().toSet
    assert(mergedCells === directCells,
      "cell-wise sum of slice sketches must equal the union's sketch")
  }

  test("grouped count-min: each key's cells == the ungrouped sketch of its slice") {
    import graft.operators.Sketch
    import spark.implicits._
    val rows = (1 to 300).map(i => ("a", s"tok${i % 40}")) ++
      (1 to 80).map(i => ("b", s"word${i % 11}")) ++
      (1 to 250).map(i => ("a", s"tok${i % 25}"))
    val toks = rows.toDF("key", "token")
    val grouped = Sketch.cmsSketchBy(toks, Seq("key"), d = 4, w = 64)
      .as[(String, Int, Long, Long)].collect()
    for (k <- Seq("a", "b")) {
      val keyCells = grouped.filter(_._1 == k).map(r => (r._2, r._3, r._4)).toSet
      val sliceCells = Sketch.cmsSketch(
          toks.filter(col("key") === k).select("token"), d = 4, w = 64)
        .as[(Int, Long, Long)].collect().toSet
      assert(keyCells === sliceCells,
        s"key $k: grouped cells must equal the sketch of its slice")
    }
    // every (key, seed) row of counters sums to the key's token count
    val nTokens = rows.groupBy(_._1).map { case (k, rs) => k -> rs.size.toLong }
    val seedSums = grouped.groupBy(r => (r._1, r._2))
      .map { case (ks, rs) => ks -> rs.map(_._4).sum }
    assert(seedSums === (for (k <- nTokens.keys; s <- 0 until 4)
      yield (k, s) -> nTokens(k)).toMap)
  }

  test("quantile slot histograms sum-merge losslessly across slices") {
    import graft.operators.Quantile
    import spark.implicits._
    val a = (1L to 5000L).map(v => ("a", v * 3 % 7919 + 1)).toDF("slice", "v")
    val b = (1L to 4000L).map(v => ("b", v * 17 % 4231 + 1)).toDF("slice", "v")
    val both = a.union(b)
    val merged = Quantile.quantileFromSlots(
      Quantile.slotHistogram(both, Seq("slice"), "v")
        .groupBy(col("e"), col("sub"))
        .agg(sum(col("cnt")).as("cnt")), Nil, q = 0.75)
      .select("n", "est").as[(Long, Double)].head()
    val direct = Quantile.logLinearQuantile(
      both.select(col("v")), Nil, "v", q = 0.75)
      .select("n", "est").as[(Long, Double)].head()
    assert(merged === direct, "summed slice histograms must replay the direct sketch")
  }

  test("count-min never under-estimates and is exact for solo-bucket tokens") {
    import graft.operators.Sketch
    val tokens = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("token"))
    val r = Sketch.cmsHeavyHitters(tokens, minFracDenom = 1000L)
    val bad = r.filter(col("est_cnt") < col("exact_cnt")).count()
    assert(bad === 0L, "count-min must only over-estimate")
    assert(r.count() > 0L, "heavy-hitter report must be non-empty at this threshold")
    // layout-independence of the whole report
    val r2 = Sketch.cmsHeavyHitters(tokens.repartition(7), minFracDenom = 1000L)
    assert(r.collect().toSet === r2.collect().toSet)
  }

  test("sliding HLL window estimate == direct sketch of the window's slice") {
    import graft.operators.Sketch
    import spark.implicits._
    // synthetic 5 days × overlapping values; window = 3 days
    val df = spark.range(500).select(
      (col("id") % 5).as("day"), (col("id") % 137).cast("string").as("v"))
    val sliding = Sketch.hllSlidingDaily(df, "day", "v", windowDays = 3)
      .as[(Long, Double)].collect().toMap
    // every window present, none past the last day
    assert(sliding.keySet === (0L to 4L).toSet)
    for (win <- 0L to 4L) {
      val direct = Sketch.hllDistinct(
        df.filter(col("day") >= win - 2 && col("day") <= win), Nil, "v")
        .as[Double].head()
      assert(sliding(win) === direct,
        s"window $win: register fan-out must replay the direct window sketch")
    }
    // partition-independence of the fan-out + max-merge
    val repart = Sketch.hllSlidingDaily(df.repartition(7), "day", "v", 3)
      .as[(Long, Double)].collect().toMap
    assert(repart === sliding)
  }

  test("cms join-size estimate never underestimates and honors the inner-product bound") {
    import graft.operators.Sketch
    import spark.implicits._
    // heavy-collision regime: 5000 distinct keys vs 512 buckets, zipf-ish
    // fan-out on the b side
    val a = spark.range(0, 5000).select(col("id").as("token"))
    val b = spark.range(0, 20000).select((col("id") % 5000).as("token"))
    val r = Sketch.cmsJoinSizeEstimate(a, b)
      .as[(Long, Long, Long, Long, Long, Boolean, Boolean)].collect()(0)
    val (est, exact, na, nb, over, neverUnder, boundOk) = r
    assert(exact === 20000L) // every a key matches its 4 b copies
    assert(neverUnder && est >= exact, s"est=$est < exact=$exact")
    assert(boundOk, s"est=$est exceeded exact + 3*na*nb/w (na=$na nb=$nb)")
    assert(over === est - exact)
    // collision-free regime: 20 keys in 512 buckets -> the cross terms
    // vanish with these hash seeds and the estimate is exact
    val a2 = spark.range(0, 20).select(col("id").as("token"))
    val b2 = spark.range(0, 200).select((col("id") % 20).as("token"))
    val r2 = Sketch.cmsJoinSizeEstimate(a2, b2)
      .as[(Long, Long, Long, Long, Long, Boolean, Boolean)].collect()(0)
    assert(r2._1 === r2._2, s"tiny key domain must estimate exactly: $r2")
    // partition invariance
    val rp = Sketch.cmsJoinSizeEstimate(a.repartition(7), b.repartition(5))
      .as[(Long, Long, Long, Long, Long, Boolean, Boolean)].collect()(0)
    assert(rp === r)
  }

  test("percentile_approx brackets the exact median") {
    val r = li.agg(
      expr("percentile(l_quantity, 0.5)").as("exact"),
      expr("percentile_approx(l_quantity, 0.5, 10000)").as("approx")).collect()(0)
    val exact = r.getDouble(0)
    val approx = r.getDouble(1)
    // accuracy=10000 on ~6k rows: the sketch must land within one
    // quantity unit of the true median
    assert(math.abs(approx - exact) <= 1.0, s"approx=$approx exact=$exact")
  }
}
