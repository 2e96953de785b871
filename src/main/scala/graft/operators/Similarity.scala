package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.DotFold

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers, by scale:
  * - [[bruteTopK]]: exact top-k for a SMALL query set against the full
  *   corpus — a broadcast join (query side broadcast), linear in corpus.
  * - [[nearDupByBlock]]: pairwise cosine restricted to a blocking key
  *   (label / shard / cluster id) — equi-join, quadratic only in block size.
  * - [[lshPairs]]: random-hyperplane LSH — signature is linear scalar math,
  *   candidates come from an equi-join on the bucket id, exact cosine only
  *   on candidates. This is the 100 TB path: no cartesian anywhere.
  *
  * The inner loop is [[graft.plans.DotFold]], a codegen'd Catalyst
  * expression with the same left-fold order as the DuckDB oracle's
  * `list_reduce(list_transform(...))` — bit-identical results, ~20× the
  * throughput of the interpreted higher-order-function formulation.
  * L2 norms are computed ONCE per vector before any join, so each candidate
  * pair costs exactly one fold (the cross-pair dot), not three.
  */
object Similarity {

  /** Salt factor for the block/cell candidate equi-joins. An equi-join's
    * task parallelism is bounded by its DISTINCT KEY COUNT, not the
    * shuffle partition count — the graded corpora block on 8–16 cells or
    * 10 labels, so an unsalted candidate join runs ≤16 tasks however many
    * cores exist (the r15 sf10 bench measured q_ann_ivf_probe2 at 3/32
    * cores busy for 30+ min). [[Skew.saltedJoin]] splits every key
    * `pairJoinSalt(df, keyCardinality)` ways — deterministic hash salt on the a-side,
    * replication on the b-side — multiplying parallelism by 32 for an
    * O(32·N)-row replication cost, trivial against the join's O(Σ d²)
    * work. Output rows are identical for ANY salt value (it is purely a
    * physical knob), so the factor is environment-derived, not pinned:
    * the sub-key target is 16× the core count (`defaultParallelism`,
    * floor 32 — the oversubscription absorbs within-key size skew), the
    * per-key salt is `ceil(target / keyCardinality)` when the caller
    * knows the key count (IVF cells, k-means clusters), and it drops to
    * 1 when the keys alone already saturate the target — a K=447
    * centroid run pays no ×32 embedding replication for parallelism it
    * already has. `SPARK_GRAFT_PAIR_SALT` overrides the base for
    * cluster-side tuning. SkewSpec pins salt-invariance of the output.
    */
  private[graft] def pairJoinSalt(df: DataFrame,
                                  keyCardinality: Option[Int] = None): Int = {
    val base = sys.env.get("SPARK_GRAFT_PAIR_SALT").map(_.toInt).getOrElse(
      math.max(32, df.sparkSession.sparkContext.defaultParallelism))
    keyCardinality match {
      case Some(k) if k > 0 =>
        math.min(base, math.max(1, (16 * base + k - 1) / k))
      case _ => base
    }
  }

  /** (vec_id, embedding, norm) with the L2 norm precomputed per row. */
  private def withNorm(vecs: DataFrame, extra: Column*): DataFrame = {
    DotFold.register(vecs.sparkSession)
    vecs.select(col("vec_id") +: col("embedding") +:
      sqrt(DotFold.dot(col("embedding"), col("embedding"))).as("norm") +: extra: _*)
  }

  /** Exact top-k neighbours for each query vector (queries = a filtered
    * subset of the corpus). Broadcast the small query side; rank with a
    * window over (similarity desc, vec_id) for a deterministic total order.
    */
  def bruteTopK(vecs: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val n = withNorm(vecs)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (DotFold.dot(col("q_emb"), col("embedding")) /
          (col("q_norm") * col("norm"))).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Near-duplicate vector pairs within a blocking key (exact within block).
    * The blocking column makes this an equi-join: shuffle partitions by
    * block, never all-pairs across blocks.
    */
  def nearDupByBlock(vecs: DataFrame, blockCol: String, minCosine: Double): DataFrame = {
    val n = withNorm(vecs, col(blockCol).as("block"))
    val a = n.select(col("block"), col("vec_id").as("a_id"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = n.select(col("block"), col("vec_id").as("b_id"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    Skew.saltedJoin(a, b, "block", Seq(col("a_id")), pairJoinSalt(vecs))
      .filter(col("a_id") < col("b_id"))
      .select(col("block"), col("a_id"), col("b_id"),
        (DotFold.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Random-hyperplane LSH signature: `numPlanes` pseudo-random ±1
    * hyperplanes derived from the portable hash (plane p, dim d -> parity of
    * hash32(p*97+d)), signature bit p = (dot(v, plane_p) >= 0). Plane
    * vectors are literal arrays, so each plane dot is one codegen'd fold.
    */
  /** The ±1 plane family shared by [[lshBucket]] (sign-thresholded) and
    * [[rpTopK]] (real-valued): plane p, dim d → parity of the first 32
    * md5 bits of the decimal string `p*97+d`. Oracle mirror:
    * `('0x' || substr(md5(CAST(p*97+d AS VARCHAR)), 1, 8))::BIGINT % 2`.
    */
  private def planeSigns(numPlanes: Int, dim: Int): Array[Double] =
    Array.tabulate(numPlanes * dim) { i =>
      val p = i / dim; val d = i % dim
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(String.valueOf(p * 97 + d).getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if ((java.lang.Long.parseLong(md5hex, 16) & 1L) == 1L) 1.0 else -1.0
    }

  def lshBucket(vecs: DataFrame, numPlanes: Int, dim: Int): DataFrame = {
    val planes = planeSigns(numPlanes, dim)
    vecs.withColumn("bucket",
      graft.plans.LshBucketExpr(vecs.sparkSession, col("embedding"), planes, numPlanes, dim))
  }

  /** IVF-style near-neighbour pairs: a deterministic coarse quantizer (the
    * first `numCentroids` vectors, norms precomputed) assigns every vector
    * to its best cell by cosine; exact cosine runs only within a cell.
    *
    * Scale shape: centroids broadcast (K rows), assignment is a linear
    * N×K scan folded by a max_by hash aggregate — partial aggregation
    * collapses the K candidate rows per vector on the map side, so the
    * one exchange carries ~N rows (not N×K) and nothing sorts. The pair
    * stage is an equi-join on `cell` — quadratic only in cell population
    * (~N/K), never in the corpus. This is the index-build + within-cell
    * mining half of IVF; query-time probing reuses the same `cell` column
    * as the equi-join key.
    */
  def ivfPairs(vecs: DataFrame, numCentroids: Int, minCosine: Double): DataFrame = {
    val assigned = ivfAssign(vecs, numCentroids)
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    Skew.saltedJoin(a, b, "cell", Seq(col("a_id")),
        pairJoinSalt(vecs, Some(numCentroids)))
      .filter(col("a_id") < col("b_id"))
      .select(col("cell"), col("a_id"), col("b_id"),
        (DotFold.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** The coarse assignment behind [[ivfPairs]]: first-`numCentroids`
    * seeds, deterministic cosine argmax. Zero vectors have no defined
    * cosine (x/0 = NaN here, NULL in the oracle — and Spark's nan-safe
    * compare would let NaN pass the threshold); excluded from index and
    * pairs on both sides. The argmax is max_by over an orderable
    * struct: ties on cscore break to the LOWEST centroid id (-cid
    * maximized). A hash agg, not a window — no sort, and the partial
    * phase folds per-vector candidates before the exchange.
    */
  private def ivfAssign(vecs: DataFrame, numCentroids: Int): DataFrame = {
    val n = withNorm(vecs).filter(col("norm") > 0)
    val cents = n.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("norm").as("cnorm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cid"),
        (DotFold.dot(col("embedding"), col("cemb")) /
          (col("norm") * col("cnorm"))).as("cscore"))
    scored
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("cid"), col("embedding"), col("norm")),
        struct(col("cscore"), -col("cid"))).as("best"))
      .select(col("best.cid").as("cell"), col("vec_id"),
        col("best.embedding").as("embedding"), col("best.norm").as("norm"))
  }

  /** Int8 scalar quantization — the standard 4× memory reduction before an
    * ANN index ships to serving: per-vector affine map of each coordinate
    * onto the [-128, 127] grid (`q = floor((x-mn)/((mx-mn)/255) + 0.5) - 128`),
    * with the (mn, mx) pair kept for dequantization. Constant vectors
    * (mx == mn) map to -128. floor(+0.5) instead of round() because the
    * two engines' round() disagree on half-even vs half-away ties while
    * floor is unambiguous IEEE math. Pure per-row scalar — no shuffle,
    * streams over 100 TB like the text hygiene filters.
    */
  def quantizeInt8(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("mn", array_min(col("embedding")).cast("double"))
      .withColumn("mx", array_max(col("embedding")).cast("double"))
      .withColumn("q", when(col("mx") > col("mn"),
          transform(col("embedding"), x =>
            floor((x.cast("double") - col("mn")) /
                ((col("mx") - col("mn")) / lit(255.0)) + lit(0.5)).cast("long") - lit(128L)))
        .otherwise(transform(col("embedding"), _ => lit(-128L))))

  /** Lloyd's k-means over the embedding column as PURE DataFrame algebra —
    * the clustering step of an IVF index build (replacing [[ivfPairs]]'s
    * fixed coarse quantizer with trained centroids) and of corpus
    * auto-curation (cluster-then-sample).
    *
    * Deterministic BY CONSTRUCTION, like everything in this engine:
    * - init = the first k vectors by id (no RNG);
    * - assignment = argmin of squared L2 distance via a `min_by` HASH
    *   aggregate (ties break to the lowest centroid id) — per-row double
    *   math only, no cross-row accumulation, so partitioning can't move it;
    * - the centroid mean — the one place floating-point SUM ORDER could
    *   leak partition layout into results — snaps each coordinate to a
    *   2^40 fixed-point grid and sums LONGS (exact, associative,
    *   commutative), then divides once in double. Re-running on any
    *   cluster size yields bit-identical centroids.
    *
    * Scale shape per iteration: centroids broadcast (k rows); assignment
    * is a linear N×k scan collapsed map-side by the min_by partial
    * aggregate; the mean is a (cid, pos) hash aggregate — k×dim groups —
    * with map-side partials. The corpus is never shuffled; per iteration
    * the exchanges carry N assignment rows and k×dim partial sums.
    * Empty clusters drop (standard Lloyd semantics).
    */
  private[operators] def kmeansAssign(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    DotFold.register(vecs.sparkSession)
    val S = 1099511627776.0 // 2^40: the fixed-point grid of the exact mean
    val base = vecs
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
      .withColumn("x2", DotFold.dot(col("emb"), col("emb")))
    def assign(cents: DataFrame): DataFrame =
      base.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("emb"), col("cid"),
          ((col("x2") + col("c2")) -
            lit(2.0) * DotFold.dot(col("emb"), col("cemb"))).as("dist2"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("cid").as("cell"), col("emb")),
          struct(col("dist2"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cell").as("cell"), col("best.emb").as("emb"))
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cell").as("cid"), posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(floor(col("x") * lit(S) + lit(0.5)).cast("long")).cast("double") /
          count(lit(1)).cast("double") / lit(S)).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cemb"))
        .withColumn("c2", DotFold.dot(col("cemb"), col("cemb")))
    var cents = base.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("emb").as("cemb"),
        col("x2").as("c2"))
    // checkpoint the k-row centroid table each round (same pattern as
    // Contiguity's star loop): without it the plan embeds the FULL prior
    // lineage in every assign, growing super-linearly with iters; the
    // eager truncate materializes the new round before release frees the
    // previous round's blocks
    for (_ <- 1 to iters) {
      val prev = cents
      cents = graft.util.Checkpoints.truncate(update(assign(cents)))
      graft.util.Checkpoints.release(prev)
    }
    assign(cents)
  }

  def kmeans(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansAssign(vecs, k, iters).select(col("vec_id"), col("cell"))

  /** SemDeDup (Abbas et al. 2023): semantic deduplication = cluster the
    * embedding space, then prune near-identical vectors WITHIN each
    * cluster — document-level near-dup detection that catches paraphrases
    * exact/MinHash dedup cannot see, without an all-pairs scan. Keep-one
    * semantics: in every near-dup pair the higher id drops, so the lowest
    * id of a duplicate neighborhood survives.
    *
    * Scale shape: the clustering is [[kmeans]] (broadcast centroids,
    * min_by hash aggs); the pair stage is an EQUI-JOIN on the cluster id —
    * quadratic only in cluster population, exactly like [[ivfPairs]]. The
    * cluster count is the knob that bounds pair work as the corpus grows.
    * Zero-norm vectors have no cosine to anything — they skip the pair
    * stage and are always kept.
    *
    * Output: one row per vector — (vec_id, cell, is_kept ∈ {0,1}).
    */
  def semDedup(vecs: DataFrame, k: Int, iters: Int, minCosine: Double): DataFrame = {
    val assigned = kmeansAssign(vecs, k, iters)
    val n = assigned
      .withColumn("norm", sqrt(DotFold.dot(col("emb"), col("emb"))))
      .filter(col("norm") > 0)
    val a = n.select(col("cell"), col("vec_id").as("a_id"),
      col("emb").as("emb_a"), col("norm").as("norm_a"))
    val b = n.select(col("cell"), col("vec_id").as("b_id"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    val dropped = Skew.saltedJoin(a, b, "cell", Seq(col("a_id")),
        pairJoinSalt(vecs, Some(k)))
      .filter(col("a_id") < col("b_id"))
      .filter((DotFold.dot(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b"))) >= minCosine)
      .select(col("b_id").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cell"))
      .join(dropped.withColumn("dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup").isNull.cast("int").as("is_kept"))
  }

  /** Sparse document cosine over TERM-FREQUENCY vectors — the similarity
    * path that needs no embeddings: documents are sparse vectors in term
    * space, candidate pairs come from co-occurrence on RARE terms
    * (df <= maxDf — the prefix-filtering trick: ubiquitous terms
    * generate quadratic candidates and contribute least to
    * discrimination), and the exact cosine over ALL shared terms runs
    * only on candidates.
    *
    * Bit-deterministic by construction: numerators are exact LONG sums
    * of tf products, norms are exact long sums under one sqrt, the
    * division is the only float op — no float accumulation anywhere, so
    * no partition-order sensitivity and the oracle replays bit-for-bit.
    *
    * Scale shape: everything is term- or doc-keyed equi-joins and hash
    * aggs; the candidate join is bounded by rare-term posting sizes
    * (≤ maxDf² pairs per term), never corpus².
    */
  def sparseCosinePairs(docs: DataFrame, maxDf: Long, minCosine: Double,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc"), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val norms = tf.groupBy(col("doc"))
      .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("nrm"))
    val rare = tf.join(dfc.filter(col("df") <= maxDf), "term")
    val cand = rare.select(col("term"), col("doc").as("d1"))
      .join(rare.select(col("term"), col("doc").as("d2")), "term")
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    // expand candidates by d1's vector, then match d2's entries on
    // (d2, term): cost is |cand| × doc length — NOT the full term
    // self-join (a stopword posting would make that quadratic)
    val num = cand
      .join(tf.select(col("doc").as("d1"), col("term"), col("tf").as("tf1")), "d1")
      .join(tf.select(col("doc").as("d2"), col("term"), col("tf").as("tf2")),
        Seq("d2", "term"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(col("tf1") * col("tf2")).as("num"))
    num
      .join(norms.select(col("doc").as("d1"), col("nrm").as("n1")), "d1")
      .join(norms.select(col("doc").as("d2"), col("nrm").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (col("num").cast("double") / (col("n1") * col("n2"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Recall of the LSH ANN path against brute-force ground truth — the
    * index-quality measurement every ANN deployment runs before trusting
    * candidates at scale: per query vector, what fraction of its true
    * top-k neighbours does the bucketed candidate set recover?
    *
    * Scale shape: ground truth runs only over the (small) query set; the
    * candidate set is symmetrized by a union of two projections and the
    * hit count is a semi-join on (q_id, vec_id) — equi-joins throughout,
    * recall = one exact long division per query.
    */
  def annRecall(vecs: DataFrame, queryPred: Column, k: Int,
                numPlanes: Int, dim: Int, minCosine: Double,
                multiProbe: Boolean = false): DataFrame = {
    val truth = bruteTopK(vecs, queryPred, k).select(col("q_id"), col("vec_id"))
    val ann =
      if (multiProbe) multiProbeLshPairs(vecs, numPlanes, dim, minCosine)
      else lshPairs(vecs, numPlanes, dim, minCosine)
    val sym = ann.select(col("a_id").as("q_id"), col("b_id").as("vec_id"))
      .unionByName(ann.select(col("b_id").as("q_id"), col("a_id").as("vec_id")))
    val hits = truth.join(sym, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("q_id")).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall"))
  }

  /** Rank-aware complement of [[annRecall]]: set recall says WHETHER the
    * true neighbours were found; this grades WHERE the ANN path ranks
    * them. Binary relevance (membership in the brute-force top-k),
    * harmonic position discount 1/(rank+1) — chosen over nDCG's classic
    * log₂ discount deliberately: log2(3) differs in the last ulp across
    * libm builds, while the harmonic weights become EXACT integers after
    * scaling by 27720 (divisible by 2..11, so exact for every rank ≤ 10).
    * Per query: the LSH candidate set re-ranked by the same exact cosine
    * the ground truth used, gains summed as integers, one final
    * dcg/idcg division — bit-identical across engines and partitionings.
    * ndcg = 1 ⟺ the ANN top-k IS the true top-k in order; missing or
    * late-ranked neighbours decay it smoothly.
    */
  def annNdcg(vecs: DataFrame, queryPred: Column, k: Int,
              numPlanes: Int, dim: Int, minCosine: Double): DataFrame = {
    require(k <= 10, "harmonic discount table is exact for ranks <= 10")
    val truth = bruteTopK(vecs, queryPred, k) // (q_id, vec_id, cosine, rank)
    val pairs = lshPairs(vecs, numPlanes, dim, minCosine)
    val sym = pairs.select(col("a_id").as("q_id"), col("b_id").as("vec_id"),
        col("cosine"))
      .unionByName(pairs.select(col("b_id").as("q_id"), col("a_id").as("vec_id"),
        col("cosine")))
      // candidates of the graded query set only
      .join(truth.select(col("q_id")).distinct(), Seq("q_id"), "left_semi")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val annTop = sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
    // integer DIV (Column./ would be float division): exact since 27720
    // is divisible by every rank+1 <= 11
    val disc = expr("CAST(27720 AS BIGINT) DIV (rank + 1)")
    val dcg = annTop
      .join(truth.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"),
        "left_semi")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_hit"), sum(disc).as("dcg_i"))
    val idcg = truth.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"), sum(disc).as("idcg_i"))
    idcg.join(dcg, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("dcg_i"), lit(0L)).cast("double") /
          col("idcg_i").cast("double")).as("ndcg_h"))
  }

  /** Mutual nearest-neighbor pairs — the embedding-ALIGNMENT primitive
    * (the matching rule behind unsupervised translation lexicons,
    * cross-corpus record alignment, and high-precision near-dup seeds):
    * keep (a, b) only when b is a's top-1 AND a is b's top-1 within the
    * same block. One-directional top-1 matches are popularity-polluted
    * (hubs attract everything); mutuality is the cheap symmetric filter
    * that kills hub captures without thresholds.
    *
    * Determinism: per side, top-1 is a map-side-foldable max_by over
    * (cosine, −id) — exact [[graft.plans.DotFold]] cosine with ties to
    * the smaller neighbor id; the mutual check is an equi-join of the
    * two argmax tables and the pair canonicalizes as a < b.
    *
    * Scale shape: candidate pairs come from the block equi-join (the
    * [[graft.QueriesExt.qEmbedNearDup]] discipline — pairs exist only
    * within a block, never corpus²); two argmax hash aggs; one (a,b)
    * equi-join. The within-block join is still quadratic in the block,
    * and for EXACT top-1 that is irreducible on a near-orthogonal corpus
    * (the graded embeddings measure mean within-label cosine ≈ 0.001 at
    * best-neighbor ≈ 0.34 — no metric-tree/IVF bound prunes anything in
    * that geometry), so the 100 TB discipline is the `maxPairs` budget:
    * a [[graft.util.PairBudget]] cap derived from the block-size
    * histogram drops oversized hub blocks LOUDLY (WARN + accounting)
    * instead of dying quadratically. Corpora whose geometry DOES cluster
    * get the approximate path: [[mutualNearestPairsAnn]] feeds IVF
    * candidates into this same argmax+mutual tail.
    */
  def mutualNearestPairs(vecs: DataFrame, blockCol: String = "label",
                         maxPairs: Option[Long] = None): DataFrame = {
    val n0 = withNorm(vecs, col(blockCol).as("_blk"))
    val n = maxPairs match {
      case Some(budget) =>
        val cap = graft.util.PairBudget
          .capFor(n0, Seq("_blk"), budget, "mutualNearestPairs").cap
        graft.util.PairBudget.applyCap(n0, Seq("_blk"), cap)
      case None => n0
    }
    val a = n.select(col("_blk"), col("vec_id").as("a_id"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = n.select(col("_blk"), col("vec_id").as("b_id"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    val scored = Skew.saltedJoin(a, b, "_blk", Seq(col("a_id")), pairJoinSalt(vecs))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (DotFold.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
    mutualTail(scored)
  }

  /** The argmax + mutual tail shared by the exact and ANN mutual-NN
    * paths: deterministic per-side top-1 (max_by over (cosine, −id) — a
    * hash agg with map-side partials, no window) and the symmetric
    * equi-join canonicalized as a < b. Candidate generation is the only
    * thing the two paths disagree on.
    */
  private def mutualTail(scored: DataFrame): DataFrame = {
    val top1 = scored.groupBy(col("a_id"))
      .agg(max_by(struct(col("b_id"), col("cosine")),
        struct(col("cosine"), (-col("b_id")).cast("long"))).as("_t"))
      .select(col("a_id"), col("_t.b_id").as("best_id"),
        col("_t.cosine").as("cosine"))
    top1.as("x").join(top1.as("y"),
        col("x.best_id") === col("y.a_id") &&
          col("y.best_id") === col("x.a_id") &&
          col("x.a_id") < col("y.a_id"))
      .select(col("x.a_id").as("a_id"), col("y.a_id").as("b_id"),
        col("x.cosine").as("cosine"))
  }

  /** Approximate mutual-NN: per-block IVF candidate generation feeding
    * the SAME argmax + mutual tail as [[mutualNearestPairs]] — the
    * 100 TB path for corpora whose embedding geometry actually clusters
    * (on such data the true top-1 lives in a probed cell and this is
    * exact; SimilaritySpec proves equality on a clustered corpus and
    * measures recall on the near-orthogonal graded one).
    *
    * Index build, per block: seed centroids = the `centroidsPerBlock`
    * lowest vec_ids (deterministic, no RNG — the [[ivfPairs]]
    * discipline); every vector's top-`nprobe` cells come from ONE hash
    * agg (collect the ≤ K cell scores, sort, slice — the
    * [[ivfPairsProbe2]] shape, never a window over the corpus).
    * Candidates: each vector probes its `nprobe` best cells and meets
    * the vectors ASSIGNED (top-1) there — a (block, cell) equi-join, so
    * candidate volume is Σ cell² instead of Σ block², and the centroid
    * count is the knob that flattens it as blocks grow.
    *
    * Determinism: assignment ties break to the lowest centroid id
    * ((−cscore, cid) ascending = the single-cell argmax's total order);
    * every pair's cosine is exact [[graft.plans.DotFold]]; the tail's
    * tie-break is unchanged. Zero-norm vectors have no defined cosine
    * and are excluded (the [[ivfPairs]] rule).
    */
  def mutualNearestPairsAnn(vecs: DataFrame, blockCol: String = "label",
                            centroidsPerBlock: Int = 16,
                            nprobe: Int = 2): DataFrame = {
    val n = withNorm(vecs, col(blockCol).as("_blk")).filter(col("norm") > 0)
    val seedW = Window.partitionBy(col("_blk")).orderBy(col("vec_id"))
    val cents = n.withColumn("_rk", row_number().over(seedW))
      .filter(col("_rk") <= centroidsPerBlock)
      .select(col("_blk"), col("vec_id").as("cid"),
        col("embedding").as("cemb"), col("norm").as("cnorm"))
    val cellScores = n.join(broadcast(cents), Seq("_blk"))
      .select(col("_blk"), col("vec_id"), col("embedding"), col("norm"),
        col("cid"),
        (DotFold.dot(col("embedding"), col("cemb")) /
          (col("norm") * col("cnorm"))).as("cscore"))
    // topP feeds BOTH the assignment projection and the probe explode —
    // untruncated, the broadcast(cents) scoring + collect_list agg
    // subtree re-planned and re-ran once per consumer (r17)
    val topP = graft.util.Checkpoints.truncate(
      cellScores.groupBy(col("_blk"), col("vec_id"))
        .agg(slice(array_sort(collect_list(
            struct((-col("cscore")).as("ns"), col("cid")))), 1, nprobe).as("tp"),
          first(col("embedding")).as("embedding"), first(col("norm")).as("norm")),
      eager = false)
    val assigned = topP.select(col("_blk"),
      element_at(col("tp"), 1).getField("cid").as("cell"),
      col("vec_id").as("b_id"), col("embedding").as("emb_b"),
      col("norm").as("norm_b"))
    val probes = topP
      .select(col("_blk"), col("vec_id").as("a_id"),
        col("embedding").as("emb_a"), col("norm").as("norm_a"),
        explode(col("tp")).as("p"))
      .select(col("_blk"), col("p.cid").as("cell"), col("a_id"),
        col("emb_a"), col("norm_a"))
    // no distinct needed: b_id is assigned to exactly ONE cell, so a
    // given (a, b) pair can surface from at most one probed cell
    val cand = probes.join(assigned, Seq("_blk", "cell"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (DotFold.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
    mutualTail(cand)
  }

  /** Mean reciprocal rank @ k — the retrieval-eval companion to recall
    * (did we find a relevant item?) and NDCG (how well is the whole list
    * ordered?): MRR grades only WHERE THE FIRST relevant result lands,
    * the metric of record for known-item search and RAG context hit-rate.
    * Relevance = same `label` as the query (the labeled-corpus
    * convention annRecall's ground truth also leans on).
    *
    * Exact arithmetic: reciprocal ranks are folded as 27720 DIV r (27720
    * = lcm(1..12), so every 1/r with r ≤ k ≤ 12 is an exact integer
    * multiple of 1/27720 — the [[annNdcg]] discount-table discipline);
    * both the per-query rr and the corpus MRR are then ONE double
    * division of exact longs, bit-identical across engines and
    * partitionings. A float Σ(1/r) would be fold-order-dependent.
    *
    * Output: one row per query — (q_id, first_rank, rr) with first_rank
    * = 0 / rr = 0.0 when no relevant item makes the top-k — plus the
    * corpus-level `mrr` repeated per row (1-row broadcast; per-query
    * detail and the headline number in one graded table).
    *
    * Scale shape: ranking comes from [[bruteTopK]] (tiny-query-side
    * BNLJ; swap in an ANN candidate set at large |Q|); relevance is a
    * broadcast join of the k·|Q|-row top-k table against labels; the
    * rest is |Q|-sized aggs.
    */
  def mrrAtK(vecs: DataFrame, queryPred: Column, k: Int): DataFrame = {
    require(k <= 12, "27720 = lcm(1..12): reciprocal table exact for k <= 12")
    val ranked = bruteTopK(vecs, queryPred, k)
    val labels = vecs.select(col("vec_id"), col("label"))
    val qlab = vecs.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val firstRel = ranked.join(labels, Seq("vec_id"))
      .join(broadcast(qlab), Seq("q_id"))
      .filter(col("label") === col("q_label"))
      .groupBy(col("q_id")).agg(min(col("rank")).as("fr"))
    val perq = qlab.select(col("q_id")).join(firstRel, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("fr"), lit(0L)).as("first_rank"))
      .withColumn("rr_scaled",
        when(col("first_rank") === 0L, lit(0L))
          .otherwise(expr("CAST(27720 AS BIGINT) DIV first_rank")))
    val global = perq.agg(count(lit(1)).as("nq"), sum(col("rr_scaled")).as("srr"))
      .select(col("nq"),
        (col("srr").cast("double") / (lit(27720L) * col("nq")).cast("double"))
          .as("mrr"))
    perq
      .select(col("q_id"), col("first_rank"),
        (col("rr_scaled").cast("double") / lit(27720.0)).as("rr"))
      .crossJoin(broadcast(global.select(col("mrr"))))
  }

  /** Multi-probe LSH pairs: candidates whose signatures agree exactly OR
    * differ in one plane — the standard recall/table-count trade (Lv et
    * al. 2007, "Multi-Probe LSH"): instead of building more hash tables
    * for recall, the PROBE side also visits the `numPlanes` buckets at
    * hamming distance 1 (bit flips of its own signature). One side
    * explodes ×(numPlanes+1); the join stays a bucket EQUI-join, so the
    * scale shape is unchanged — candidate volume grows by the extra
    * probes' bucket populations, never toward corpus².
    */
  def multiProbeLshPairs(vecs: DataFrame, numPlanes: Int, dim: Int,
                         minCosine: Double): DataFrame = {
    DotFold.register(vecs.sparkSession)
    val sig = lshBucket(vecs, numPlanes, dim)
      .withColumn("norm", sqrt(DotFold.dot(col("embedding"), col("embedding"))))
    val a = sig.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val flips = array(lit(0L) +: (0 until numPlanes).map(p => lit(1L << p)): _*)
    val b = sig.select(col("bucket"), col("vec_id").as("b_id"),
        col("embedding").as("emb_b"), col("norm").as("norm_b"),
        explode(flips).as("_f"))
      .select(col("bucket").bitwiseXOR(col("_f")).as("bucket"), col("b_id"),
        col("emb_b"), col("norm_b"))
    a.join(b, "bucket")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (DotFold.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
  }

  /** IVF with nprobe = 2: every vector's candidate search also probes its
    * SECOND-best cell — the IVF analog of [[multiProbeLshPairs]] (recall
    * lost to cell-boundary splits recovered without more centroids; the
    * standard nprobe knob of IVF indexes). The top-2 assignment is one
    * hash agg (collect the K=16 candidate cells, sort, slice — no window
    * over the corpus); the pair stage stays a cell equi-join.
    */
  def ivfPairsProbe2(vecs: DataFrame, numCentroids: Int,
                     minCosine: Double): DataFrame = {
    val n = withNorm(vecs).filter(col("norm") > 0)
    val cents = n.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("norm").as("cnorm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cid"),
        (DotFold.dot(col("embedding"), col("cemb")) /
          (col("norm") * col("cnorm"))).as("cscore"))
    // (-cscore, cid) ascending == (cscore desc, cid asc): the same total
    // order as the single-cell argmax's tie-break. embedding/norm ride
    // along (first() — constant per vec_id) so the pair join computes
    // cosine INLINE: the r15 sf10 bench caught the previous shape —
    // skinny (a,b) candidates + distinct() + two billion-row rejoins —
    // spilling 20+ GB at 3/32 cores. The distinct was a provable no-op
    // anyway: the a-side carries only top-1(a) and b's two cells are
    // DISTINCT, so each (a,b) matches on exactly one cell row.
    val top2 = scored.groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("cscore")).as("ns"), col("cid")))), 1, 2).as("t2"),
        first(col("embedding")).as("embedding"), first(col("norm")).as("norm"))
    val a = top2.select(col("vec_id").as("a_id"),
      element_at(col("t2"), 1).getField("cid").as("cell"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = top2.select(col("vec_id").as("b_id"),
        explode(col("t2")).as("p"), col("embedding").as("emb_b"),
        col("norm").as("norm_b"))
      .select(col("b_id"), col("p.cid").as("cell"), col("emb_b"),
        col("norm_b"))
    Skew.saltedJoin(a, b, "cell", Seq(col("a_id")),
        pairJoinSalt(vecs, Some(numCentroids)))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (DotFold.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Product quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): split each `dim`-vector into
    * `m` subvectors of `subDim`, learn a `ksub`-codeword codebook PER
    * SUBSPACE (deterministic Lloyd: init = the first `ksub` vectors' slices,
    * one exact fixed-point update — same 2^40 grid as [[kmeans]]), encode
    * every vector as `m` small codes, then answer queries by Asymmetric
    * Distance Computation: the query precomputes a `m × ksub` table of
    * exact subspace distances and every database vector's approximate
    * distance is just `m` TABLE LOOKUPS — no full-width math per candidate.
    *
    * Scale shape — this is the memory-bound regime's answer, complementing
    * [[lshPairs]]/[[ivfPairs]] (which prune CANDIDATES, while PQ compresses
    * the VECTORS ~`dim*4/m` : 1 so a 100 TB corpus's index fits a cluster's
    * RAM): codebooks are `m*ksub` rows trained with broadcast joins + hash
    * aggs (corpus never shuffled, like [[kmeansAssign]]); the LUT is
    * `|Q|*m*ksub` rows, broadcast; the ADC join is an equi-join on
    * `(sub, code)` followed by a `(query, vector)` hash agg summing `m`
    * FIXED-POINT longs — exact and associative, so the ranking is
    * partitioning-independent (a double sum here would let Spark's agg
    * order pick the neighbor list). Top-k per query via window over the
    * per-query candidate set.
    *
    * Returns (query_id, neighbor_id, adc_dist2, rank), rank 1..topK by
    * (approximate distance, neighbor_id); queries match `queryPred` and
    * never list themselves.
    */
  def pqTopK(vecs: DataFrame, m: Int, subDim: Int, ksub: Int,
             queryPred: Column, topK: Int): DataFrame = {
    val (codes, lut) = pqCodesAndLut(vecs, m, subDim, ksub, queryPred)
    val adc = codes
      .join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid") &&
          lut("query_id") =!= codes("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2fx")).as("afx"))
    pqRank(adc, topK)
  }

  /** Shared PQ index build: per-subspace codebooks (deterministic init +
    * ONE exact fixed-point Lloyd update), every vector's m codes, and the
    * queries' ADC lookup table of fixed-point subspace distances. Returns
    * (codes = (vec_id, sub, code), lut = (query_id, sub, cid, d2fx)).
    */
  private def pqCodesAndLut(vecs: DataFrame, m: Int, subDim: Int, ksub: Int,
                            queryPred: Column): (DataFrame, DataFrame) = {
    DotFold.register(vecs.sparkSession)
    val S = 1099511627776.0 // 2^40 fixed-point grid (shared with kmeans)
    // sv feeds FOUR consumers (codebook seed, codebook update join, final
    // code assignment, query LUT) — untruncated, each one re-ran the
    // scan+explode+slice subtree, and the duplicated subtrees quadrupled
    // the plan Catalyst analyzes per job (the ivfpq family's cold cost is
    // dominated by driver planning, r17 profile: 5.2 s of an 11.3 s cold
    // run). Lazy truncate: the cb1 checkpoint below materializes it.
    val sv = graft.util.Checkpoints.truncate(vecs
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"),
        explode(array((0 until m).map(lit): _*)).as("sub"))
      .select(col("vec_id"), col("sub"),
        slice(col("emb"), col("sub") * subDim + 1, lit(subDim)).as("svec"))
      .withColumn("s2", DotFold.dot(col("svec"), col("svec"))), eager = false)
    val cb0 = sv.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").cast("int").as("cid"),
        col("svec").as("cvec"), col("s2").as("c2"))
    // nearest codeword per (vector, subspace); ties to the lowest cid —
    // per-row double math only, identical operand order to the oracle
    def assign(cb: DataFrame): DataFrame =
      sv.join(broadcast(cb), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("cid"),
          (col("s2") + col("c2") -
            lit(2.0) * DotFold.dot(col("svec"), col("cvec"))).as("dist2"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min_by(col("cid"), struct(col("dist2"), col("cid"))).as("code"))
    val cb1 = graft.util.Checkpoints.truncate(
      assign(cb0).join(sv, Seq("vec_id", "sub"))
        .select(col("sub"), col("code").as("cid"),
          posexplode(col("svec")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg((sum(floor(col("x") * lit(S) + lit(0.5)).cast("long")).cast("double") /
          count(lit(1)).cast("double") / lit(S)).as("c"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("cvec"))
        .withColumn("c2", DotFold.dot(col("cvec"), col("cvec"))))
    val codes = assign(cb1)
    // ADC lookup table: exact subspace distances, snapped to the fixed-point
    // grid HERE so the downstream sum of m longs is order-free
    val lut = sv.filter(queryPred)
      .join(broadcast(cb1), Seq("sub"))
      .select(col("vec_id").as("query_id"), col("sub"), col("cid"),
        floor((col("s2") + col("c2") -
          lit(2.0) * DotFold.dot(col("svec"), col("cvec"))) * lit(S) + lit(0.5))
          .cast("long").as("d2fx"))
    (codes, lut)
  }

  private def pqRank(adc: DataFrame, topK: Int): DataFrame = {
    val S = 1099511627776.0
    val w = Window.partitionBy(col("query_id")).orderBy(col("afx"), col("vec_id"))
    adc
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("afx").cast("double") / lit(S)).as("adc_dist2"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ — the IVFADC composition (Jégou et al., TPAMI 2011, §IV): the
    * coarse inverted file restricts WHICH vectors a query scores (its own
    * coarse cell, nprobe = 1), and PQ's asymmetric distance scores them
    * with m table lookups each. This is the memory-resident 100 TB ANN
    * index: cells bound candidate volume (~N/K per query, like
    * [[ivfPairs]]) while codes compress the scanned vectors `dim*4/m : 1`
    * (like [[pqTopK]]) — candidate PRUNING and vector COMPRESSION at
    * once, each inherited unchanged from its component.
    *
    * The coarse quantizer is the deterministic first-`numCoarse` rule of
    * [[ivfPairs]] but under the SQUARED-L2 metric (argmin dist², ties to
    * the lowest cell id) so coarse routing and ADC scoring agree on one
    * metric. Plain-PQ-on-raw-vectors variant (no residual re-encoding):
    * codebooks, codes, and LUT are IDENTICAL to [[pqTopK]]'s — only the
    * candidate set shrinks, which is exactly the knob IVF adds.
    *
    * Scale shape: coarse centroids broadcast (K rows) over a linear scan
    * folded by a min_by hash agg; the ADC join gains `cell` as one more
    * equi-key (routing never widens a shuffle); per-query work drops from
    * N×m lookups to (N/K)×m.
    *
    * Returns (query_id, neighbor_id, cell, adc_dist2, rank), rank 1..topK
    * by (approximate distance, neighbor_id) within the query's cell.
    */
  def ivfPqTopK(vecs: DataFrame, numCoarse: Int, m: Int, subDim: Int,
                ksub: Int, queryPred: Column, topK: Int): DataFrame = {
    DotFold.register(vecs.sparkSession)
    val base = vecs
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
      .withColumn("x2", DotFold.dot(col("emb"), col("emb")))
    val coarse = base.filter(col("vec_id") < numCoarse)
      .select(col("vec_id").cast("int").as("ccid"), col("emb").as("cemb"),
        col("x2").as("cc2"))
    // cells is re-derived per consumer on purpose: an r17 experiment
    // truncating it measured +0.3-0.4 s (the extra materialization
    // barrier costs more than the duplicated index-metadata-sized
    // subtree it saves; the sv truncate in pqCodesAndLut is where the
    // plan-size win was)
    val cells = base.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("ccid"),
        ((col("x2") + col("cc2")) -
          lit(2.0) * DotFold.dot(col("emb"), col("cemb"))).as("dist2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("ccid"), struct(col("dist2"), col("ccid"))).as("cell"))
    val (codes, lut) = pqCodesAndLut(vecs, m, subDim, ksub, queryPred)
    val codesC = codes.join(cells, Seq("vec_id"))
    val lutC = lut.join(
      cells.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("cell", "qcell"), Seq("query_id"))
    val adc = codesC
      .join(broadcast(lutC),
        codesC("sub") === lutC("sub") && codesC("code") === lutC("cid") &&
          codesC("cell") === lutC("qcell") &&
          lutC("query_id") =!= codesC("vec_id"))
      .groupBy(col("query_id"), col("vec_id"), col("cell"))
      .agg(sum(col("d2fx")).as("afx"))
    val S = 1099511627776.0
    val w = Window.partitionBy(col("query_id")).orderBy(col("afx"), col("vec_id"))
    adc
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
        (col("afx").cast("double") / lit(S)).as("adc_dist2"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= topK)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009): merge two
    * rankings of the same id space by summing `1/(c + rank)` per list —
    * the standard HYBRID-RETRIEVAL combiner (lexical BM25 ⊕ embedding
    * cosine) because it needs no score normalization across
    * incomparable scales, only ranks. An id absent from one list
    * contributes 0 from it (full outer join). c = 60 is the paper's
    * constant; both inputs must carry (`id`, `rank_a`) / (`id`,
    * `rank_b`) with 1-based ranks.
    *
    * Determinism: ranks are integers, each contribution is one double
    * division, and the two contributions add in fixed (a, b) order —
    * bit-identical across engines. The final ordering window is GLOBAL
    * but runs over at most |a| + |b| rows — two top-k lists, never a
    * corpus — so the single-partition sort is bounded by construction.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, c: Int, topK: Int): DataFrame = {
    val fused = a.join(b, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_a").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_b").cast("double")), lit(0.0)))
    val w = Window.orderBy(col("rrf").desc, col("id"))
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ with nprobe = 2: the query side also probes its SECOND-best
    * coarse cell (the standard IVFADC recall knob — cell-boundary
    * neighbors lost to nprobe=1 routing come back without retraining
    * anything). Database vectors stay in their single primary cell, so a
    * (query, vector) pair meets through at most one probe — no dedup
    * stage. Candidate volume doubles at most; the join stays the same
    * (sub, code, cell) equi-join as [[ivfPqTopK]].
    */
  def ivfPqTopKProbe2(vecs: DataFrame, numCoarse: Int, m: Int, subDim: Int,
                      ksub: Int, queryPred: Column, topK: Int): DataFrame = {
    DotFold.register(vecs.sparkSession)
    val base = vecs
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
      .withColumn("x2", DotFold.dot(col("emb"), col("emb")))
    val coarse = base.filter(col("vec_id") < numCoarse)
      .select(col("vec_id").cast("int").as("ccid"), col("emb").as("cemb"),
        col("x2").as("cc2"))
    val scored = base.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("ccid"),
        ((col("x2") + col("cc2")) -
          lit(2.0) * DotFold.dot(col("emb"), col("cemb"))).as("dist2"))
    // not truncated — single consumer here; see ivfPqTopK's cells note (r17)
    val cells = scored.groupBy(col("vec_id"))
      .agg(min_by(col("ccid"), struct(col("dist2"), col("ccid"))).as("cell"))
    // query-side top-2 cells: same hash-agg collect/sort/slice as
    // ivfPairsProbe2 — (dist2, ccid) ascending replays the argmin
    // tie-break. Scored against the coarse table for QUERY ROWS ONLY
    // (r11 ADVICE: the corpus-wide form did |corpus|×numCoarse work to
    // feed an aggregate whose output only ever joins query_ids — at the
    // 100 TB shape that is |Q|-sized work done corpus-wide). Query rows
    // are re-scored here (they are corpus rows too) — |Q|×numCoarse
    // arithmetic, negligible beside the corpus scan it replaces.
    val qcells = base.filter(queryPred).crossJoin(broadcast(coarse))
      .select(col("vec_id"),
        struct(((col("x2") + col("cc2")) -
          lit(2.0) * DotFold.dot(col("emb"), col("cemb"))).as("dist2"),
          col("ccid")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(col("dc"))), 1, 2).as("t2"))
      .select(col("vec_id").as("query_id"),
        explode(col("t2")).as("p"))
      .select(col("query_id"), col("p.ccid").as("qcell"))
    val (codes, lut) = pqCodesAndLut(vecs, m, subDim, ksub, queryPred)
    val codesC = codes.join(cells, Seq("vec_id"))
    val lutC = lut.join(qcells, Seq("query_id"))
    val adc = codesC
      .join(broadcast(lutC),
        codesC("sub") === lutC("sub") && codesC("code") === lutC("cid") &&
          codesC("cell") === lutC("qcell") &&
          lutC("query_id") =!= codesC("vec_id"))
      .groupBy(col("query_id"), col("vec_id"), col("cell"))
      .agg(sum(col("d2fx")).as("afx"))
    val S = 1099511627776.0
    val w = Window.partitionBy(col("query_id")).orderBy(col("afx"), col("vec_id"))
    adc
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
        (col("afx").cast("double") / lit(S)).as("adc_dist2"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= topK)
  }

  /** Random-projection (Johnson–Lindenstrauss) top-k: project every
    * embedding from `dim` to `rpDim` dimensions through a deterministic
    * ±1 matrix (the md5-parity plane family of [[lshBucket]], kept
    * REAL-VALUED instead of thresholded to sign bits — LSH's buckets are
    * this projection quantized to 1 bit/dim), then rank neighbors by
    * cosine in the PROJECTED space. JL: pairwise angles survive the
    * projection within (1±ε), so a 4× narrower vector gives a faithful
    * first-pass ranking — the third compression lever beside int8
    * quantization (4×, [[quantizeInt8]]) and PQ codes (64×, [[pqTopK]]),
    * sitting between them in fidelity.
    *
    * Determinism / oracle-exactness: each projected coordinate is an
    * ORDERED left fold over input dims (acc + sign·x_d, d ascending) — the
    * same fold both engines replay bit-for-bit; no partition order can
    * touch it because it is a per-row scalar.
    *
    * Scale shape: projection is one codegen'd per-row pass (no shuffle);
    * the top-k is a broadcast of the |Q| projected queries against a
    * linear scan of projected vectors — never corpus × corpus. At 100 TB
    * the projected table (rpDim/dim of the bytes) is what feeds the
    * LSH/IVF candidate stages.
    */
  def rpTopK(vecs: DataFrame, rpDim: Int, dim: Int, queryPred: Column,
             topK: Int): DataFrame = {
    // codegen'd projection (one tight loop) — the rpDim×dim interpreted
    // HOF formulation produced the same bits ~4× slower
    val projected = vecs
      .select(col("vec_id"),
        graft.plans.RpProjectExpr(vecs.sparkSession, col("embedding"),
          planeSigns(rpDim, dim), rpDim, dim).as("proj"))
      .withColumn("pnorm", sqrt(graft.functions.Portable.dotDouble(col("proj"), col("proj"))))
      .filter(col("pnorm") > 0)
    val q = projected.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("proj").as("qproj"),
        col("pnorm").as("qnorm"))
    val scored = projected.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (graft.functions.Portable.dotDouble(col("qproj"), col("proj")) /
          (col("qnorm") * col("pnorm"))).as("pcos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    scored
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("pcos"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= topK)
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-k highest-cosine corpus vectors with a DIFFERENT label —
    * near-misses that teach an embedding model the decision boundary
    * (the in-batch-negatives upgrade used by DPR, Karpukhin et al. 2020).
    *
    * Scale shape: centroids (`vec_id < numCentroids`, same deterministic
    * convention as [[ivfPairs]]) are broadcast; every vector's cell
    * assignment is one linear broadcast pass (argmax via a min-of-struct
    * hash agg — map-side foldable, no window over the corpus). Queries
    * probe their top-2 cells; candidates come from the `cell` EQUI-join
    * of the (small) query-cell table against the corpus-cell table, so
    * cost is |corpus ∩ probed cells|, never all-pairs. Exact cosine +
    * per-query top-k window runs only on candidates (queries are a
    * bounded set, so the window partitions are bounded).
    *
    * Returns (q_id, n_id, cosine, rank), rank 1..k by (cosine desc, n_id).
    */
  def hardNegatives(vecs: DataFrame, numCentroids: Int, queryPred: Column,
                    k: Int): DataFrame = {
    val n = withNorm(vecs, col("label")).filter(col("norm") > 0)
    val cents = n.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("norm").as("cnorm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cid"),
        (DotFold.dot(col("embedding"), col("cemb")) /
          (col("norm") * col("cnorm"))).as("cscore"))
    // corpus side: single argmax cell; (-cscore, cid) min-struct == the
    // (cscore desc, cid) tie-break of the oracle's row_number
    val corpusCell = scored.groupBy(col("vec_id"), col("label"))
      .agg(min(struct((-col("cscore")).as("ns"), col("cid"))).as("t1"))
      .select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("t1.cid").as("cell"))
    // query side only (the r11-ADVICE lesson from ivfPqTopKProbe2: never
    // pay a corpus-wide top-2 aggregate for a |Q|-sized consumer)
    val qCells = scored.filter(queryPred)
      .groupBy(col("vec_id"), col("label"))
      .agg(slice(array_sort(collect_list(
        struct((-col("cscore")).as("ns"), col("cid")))), 1, 2).as("t2"))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        explode(col("t2")).as("p"))
      .select(col("q_id"), col("q_label"), col("p.cid").as("cell"))
    val cand = qCells.join(corpusCell, "cell")
      .filter(col("n_id") =!= col("q_id") && col("n_label") =!= col("q_label"))
      .select(col("q_id"), col("n_id")).distinct()
    val qv = n.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("norm").as("q_norm"))
    val nv = n.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("norm").as("n_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    cand.join(qv, "q_id").join(nv, "n_id")
      .select(col("q_id"), col("n_id"),
        (DotFold.dot(col("q_emb"), col("n_emb")) /
          (col("q_norm") * col("n_norm"))).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** LSH candidate pairs + exact cosine verify (the ANN scale path). */
  def lshPairs(vecs: DataFrame, numPlanes: Int, dim: Int, minCosine: Double): DataFrame = {
    DotFold.register(vecs.sparkSession)
    val sig = lshBucket(vecs, numPlanes, dim)
      .withColumn("norm", sqrt(DotFold.dot(col("embedding"), col("embedding"))))
    val a = sig.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = sig.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, "bucket")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (DotFold.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 — the farthest-
    * point traversal, a 2-approximation to the metric k-center optimum).
    * Training-data use: pick k maximally-spread exemplars per corpus
    * slice (diverse few-shot pools, eval subset selection, cluster
    * seeding that — unlike random init — cannot collapse onto one dense
    * region).
    *
    * Deterministic by construction: the seed is the smallest vec_id, and
    * each round selects the point with MAXIMUM distance to its nearest
    * chosen center, ties toward the smaller vec_id. Distance is
    * 1 − cosine with [[graft.functions.Portable.cosine]]'s exact
    * left-fold — the same arithmetic the oracle replays, so argmax
    * comparisons agree bit-for-bit across engines.
    *
    * Scale shape: k−1 rounds of {distributed TakeOrdered(1) argmax →
    * 1-ROW driver collect → fold the new center back as a LITERAL into
    * a `least(mind, dist)` projection}. The collect is k rows total over
    * the whole call (the [[Graph.hits]] scalar-normalizer precedent, not
    * a data collect); the corpus itself is only ever scanned and
    * projected — no shuffle at all beyond each round's top-1 reduction.
    *
    * Output: one row per selected center (round 1..k, vec_id, radius =
    * the point's min-distance at selection; 0 for the seed). The
    * radius column is the classic k-center coverage certificate — after
    * round r, every point lies within radius_r of some chosen center.
    */
  def kCenterCoreset(vecs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = vecs.sparkSession
    require(k >= 1)
    val base = vecs.select(col("vec_id"), col("embedding"))
    def distTo(c: Seq[Float]): Column =
      lit(1.0) - graft.functions.Portable.cosine(col("embedding"),
        array(c.map(lit(_)): _*))
    val seed = base.orderBy(col("vec_id")).limit(1).collect()(0)
    val picked = scala.collection.mutable.ListBuffer[(Int, Long, Double)](
      (1, seed.getLong(0), 0.0))
    var state = base.withColumn("mind", distTo(seed.getSeq[Float](1)))
    for (r <- 2 to k) {
      val next = state.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .collect()(0)
      picked += ((r, next.getLong(0), next.getDouble(2)))
      state = state.withColumn("mind",
        least(col("mind"), distTo(next.getSeq[Float](1))))
    }
    import spark.implicits._
    picked.toSeq.toDF("round", "vec_id", "radius")
  }
}
