package graft

import graft.operators.{Similarity, TextAnalysis}
import graft.functions.Portable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Text-analysis and similarity operators on controlled inputs. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat and the hat", "en"),
    (2L, "customer hash join customer", "de"),
    (3L, "scan data batch scan data", "fr")
  ).toDF("doc_id", "text", "lang")

  test("textStats counts tokens, distincts, stopwords, mean length") {
    val r = TextAnalysis.textStats(docs).orderBy("doc_id")
      .select("doc_id", "n_chars2", "n_tokens", "n_distinct", "n_stop", "mean_token_len")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // doc 1: "the cat and the hat" -> 5 tokens, 4 distinct, 3 stop (the,and,the)
    assert(r(0) === ((1L, 19L, 5L, 4L, 3L, 15.0 / 5.0)))
  }

  test("langId picks the max-scoring language with declaration-order ties") {
    val r = TextAnalysis.langId(docs)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(r(2L) === "de") // 'customer','hash','join' markers x4
    assert(r(3L) === "fr") // 'scan','data','batch' markers x5
    // doc 1 scores 0 everywhere -> first language in order wins (de)
    assert(r(1L) === "de")
  }

  test("quality score composes bounds + ratios deterministically") {
    val q = TextAnalysis.qualityScore(docs).orderBy("doc_id")
      .select("doc_id", "quality").as[(Long, Double)].collect()
    // doc 1: 19 chars (out of [100,450] -> 0) + 3/5*0.3 + 4/5*0.3
    assert(q(0)._2 === 0.0 + 3.0 / 5.0 * 0.3 + 4.0 / 5.0 * 0.3)
  }

  test("tfIdf: tf * N / df with exact ratios") {
    val r = TextAnalysis.tfIdf(docs)
      .filter($"term" === "the").as[(Long, String, Long, Long, Double)].collect()
    // 'the' appears twice in doc 1 only; N=3 docs, df=1
    assert(r.toSeq === Seq((1L, "the", 2L, 1L, 2.0 * 3.0 / 1.0)))
  }

  test("fingerprint is order-sensitive (reordered tokens differ)") {
    val two = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val fp = TextAnalysis.tokenFingerprint(two)
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(fp(1L) !== fp(2L))
  }

  test("bruteTopK ranks by exact cosine with deterministic tie-break") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f), 0), (3L, Seq(0f, 1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteTopK(vecs, col("vec_id") === 0, k = 2)
      .select("vec_id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(top === Array((1L, 1L), (2L, 2L))) // identical vec first, near second
  }

  test("lshPairs candidates are a subset of blocked exact pairs") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val lsh = Similarity.lshPairs(vecs, numPlanes = 4, dim = 16, minCosine = 0.3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val exactAll = Similarity.nearDupByBlock(
        vecs.withColumn("label", lit(0)), "label", minCosine = 0.3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exactAll)) // LSH never invents pairs
  }

  test("encodeTokens maps to vocab ranks in document order, OOV -> 0 and counted") {
    val corpus = Seq((1L, "b a b zz a"), (2L, "a a")).toDF("doc_id", "text")
    // counts: a=4, b=2, zz=1; top-2 vocab: a->1, b->2; zz is OOV
    val vocab = TextAnalysis.vocabulary(corpus, topK = 2)
    assert(vocab.select("token", "rank").as[(String, Long)].collect().toMap
      === Map("a" -> 1L, "b" -> 2L))
    val out = TextAnalysis.encodeTokens(corpus, vocab)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def fp(ids: Seq[Long]) = ids.foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L)
    assert(out(1L) === ((5L, 1L, fp(Seq(2L, 1L, 2L, 0L, 1L))))) // b a b <oov> a
    assert(out(2L) === ((2L, 0L, fp(Seq(1L, 1L)))))
  }

  test("collocations: lift = n_ab*N / (n_a*n_b) on adjacent pairs, threshold applied") {
    val corpus = Seq(
      (1L, "new york new york visit"),
      (2L, "york new has low lift")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.collocations(corpus, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // tokens: N=10; "new"=3, "york"=3; both (new,york) and (york,new)
    // occur twice (once across the two docs for the latter)
    assert(out.keySet === Set(("new", "york"), ("york", "new")))
    val r = out(("new", "york"))
    assert(r.getLong(2) === 2L && r.getLong(3) === 3L && r.getLong(4) === 3L)
    assert(r.getDouble(5) === 2.0 * 10 / (3 * 3))
  }

  test("invertedIndex: df counts all docs, postings cap at maxPostings in id order") {
    val corpus = Seq(
      (5L, "apple banana"),
      (1L, "apple cherry apple"),   // within-doc repeat counts once
      (3L, "apple banana cherry"),
      (2L, "date")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(corpus, maxPostings = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out("apple") === ((3L, "1,3")))   // df=3 but postings capped at 2, lowest ids
    assert(out("banana") === ((2L, "3,5")))
    assert(out("cherry") === ((2L, "1,3")))
    assert(out("date") === ((1L, "2")))
  }

  test("quantizeInt8: affine map onto [-128,127], constant vectors pin to -128") {
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, 0.5f, 0.25f)),
      (2L, Array(3.0f, 3.0f, 3.0f, 3.0f)),   // constant: mx == mn
      (3L, Array(-2.0f, 2.0f, 0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs)
      .select("vec_id", "mn", "mx", "q")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getSeq[Long](3) === Seq(-128L, 127L, 0L, -64L))
    assert(out(2L).getSeq[Long](3) === Seq(-128L, -128L, -128L, -128L))
    assert(out(2L).getDouble(1) === 3.0 && out(2L).getDouble(2) === 3.0)
    // endpoints always hit the grid edges exactly
    assert(out(3L).getSeq[Long](3).head === -128L && out(3L).getSeq[Long](3)(1) === 127L)
  }

  test("kmeans converges to the obvious clusters and is partition-count invariant") {
    // two tight blobs far apart, k=2: init = vec_id 0 (blob A) and 1 (blob B)
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)), (4L, Array(0.0f, 0.1f)),
      (1L, Array(10.0f, 10.0f)), (3L, Array(10.1f, 10.0f)), (5L, Array(10.0f, 10.1f))
    )
    val assign = Similarity.kmeans(pts.toDF("vec_id", "embedding"), k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assign(0L) === 0 && assign(2L) === 0 && assign(4L) === 0)
    assert(assign(1L) === 1 && assign(3L) === 1 && assign(5L) === 1)
    // determinism across partitionings: the exact fixed-point mean makes
    // the assignment independent of how rows are split
    val repart = Similarity.kmeans(
      pts.toDF("vec_id", "embedding").repartition(7), k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(repart === assign)
  }

  test("scrubPii redacts emails, IPv4s and phones with per-category counts") {
    val pii = Seq(
      (1L, "mail bob.smith+x@corp.example.org now or ping 192.168.0.1 and 10.0.0.255 tel 555-123-4567"),
      (2L, "no pii here at all"),
      (3L, "version 1.2.3.4.5 is not an ip boundary test")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(pii)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "scrubbed")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 1 && out(1L).getLong(2) === 2 && out(1L).getLong(3) === 1)
    assert(out(1L).getString(4) ===
      "mail <EMAIL> now or ping <IP> and <IP> tel <PHONE>")
    assert(out(2L).getLong(1) === 0 && out(2L).getString(4) === "no pii here at all")
    // "1.2.3.4.5": the \b-delimited IPv4 pattern matches the leading
    // "1.2.3.4" run (the boundary sits between '4' and '.'), leaving ".5"
    assert(out(3L).getString(4) === "version <IP>.5 is not an ip boundary test")
  }

  test("repetitionStats: repeated phrase and vocabulary collapse are caught") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),       // one repeated bigram
      (2L, "the quick brown fox jumps over walls"),  // clean prose
      (3L, "spam spam spam spam spam spam")          // vocabulary collapse
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "dup_bigram_frac", "dup_token_frac", "keep")
      .as[(Long, Double, Double, Int)].collect().sortBy(_._1)
    // doc 1: 7 bigrams, 2 distinct ("buy now"/"now buy"); 2 distinct of 8 tokens
    assert(out(0)._2 === 1.0 - 2.0 / 7.0 && out(0)._3 === 1.0 - 2.0 / 8.0 && out(0)._4 === 0)
    // doc 2: every bigram unique, every token distinct -> keep
    assert(out(1)._2 === 0.0 && out(1)._3 === 0.0 && out(1)._4 === 1)
    // doc 3: a single repeated token -> both metrics extreme
    assert(out(2)._2 === 1.0 - 1.0 / 5.0 && out(2)._3 === 1.0 - 1.0 / 6.0 && out(2)._4 === 0)
  }

  test("NgramDupFrac native expression matches the declarative formulation") {
    import graft.operators.TrainPrep
    // edge cases: empty string (split -> [""]), single token, token count
    // below n (0 grams -> NaN both ways), all-identical, clean prose
    val docs = Seq(
      (1L, ""), (2L, "solo"), (3L, "a a a a"), (4L, "w x y z w x"),
      (5L, "buy now buy now buy now")
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val grams = TrainPrep.wordNgrams(col("text"), n)
      val declarative = lit(1.0) -
        size(array_distinct(grams)).cast("double") / size(grams)
      // the declarative tower throws ANSI DIVIDE_BY_ZERO on 0-gram rows,
      // so equivalence is asserted where grams exist; the native expr
      // yields NaN there instead (never reached by repetitionStats'
      // consumers — every real doc has tokens)
      val out = docs.filter(size(grams) > 0)
        .withColumn("fast", graft.plans.NgramDupFrac(spark, split(col("text"), " "), n))
        .withColumn("slow", declarative)
        .select("doc_id", "fast", "slow")
        .as[(Long, Double, Double)].collect()
      assert(out.nonEmpty)
      out.foreach { case (id, fast, slow) =>
        assert(fast == slow, s"n=$n doc=$id native=$fast declarative=$slow")
      }
      val degenerate = docs.filter(size(grams) === 0)
        .withColumn("fast", graft.plans.NgramDupFrac(spark, split(col("text"), " "), n))
        .select("fast").as[Double].collect()
      assert(degenerate.forall(_.isNaN))
    }
  }

  test("bm25: rarer query terms dominate, ranks are dense from 1, topK caps") {
    // 'rare' appears in 1 of 4 docs, 'common' in all 4; equal tf and dl
    // mean the rare-term doc must outrank every common-only doc
    val docs = Seq(
      (1L, "common alpha beta gamma"),
      (2L, "common delta epsilon zeta"),
      (3L, "rare alpha beta gamma"),
      (4L, "common eta theta iota")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, Seq("rare", "common"), topK = 3)
      .select("doc_id", "n_matched", "score", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(out.length === 3)
    assert(out.map(_._4).toSeq === Seq(1L, 2L, 3L))
    assert(out.head._1 === 3L, "the rare-term doc must rank first")
    // scores for the identical common-only docs tie; doc_id breaks the tie
    assert(out(1)._1 === 1L && out(2)._1 === 2L)
    assert(out(1)._3 === out(2)._3)
  }

  test("semdedup drops the higher id of a near-identical pair within a cluster") {
    // blob A holds an exact duplicate pair (0, 2); blob B's pair sits at
    // cosine ~0.996 — inside the cluster but outside the dedup threshold
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (4L, Array(0.0f, 1.0f)),
      (1L, Array(-1.0f, -1.0f)), (3L, Array(-1.0f, -1.2f))
    )
    val out = Similarity.semDedup(pts.toDF("vec_id", "embedding"),
      k = 2, iters = 2, minCosine = 0.9999)
      .select("vec_id", "is_kept").as[(Long, Int)].collect().toMap
    assert(out(0L) === 1 && out(2L) === 0, "exact duplicate: lowest id survives")
    assert(out(4L) === 1, "orthogonal vector in the same cluster is kept")
    assert(out(1L) === 1 && out(3L) === 1,
      "0.9999-cosine threshold must not catch the 0.996-cosine pair")
    // determinism under partitioning (fixed-point kmeans + equi-join pairs)
    val repart = Similarity.semDedup(pts.toDF("vec_id", "embedding").repartition(5),
      k = 2, iters = 2, minCosine = 0.9999)
      .select("vec_id", "is_kept").as[(Long, Int)].collect().toMap
    assert(repart === out)
  }

  test("bpe merges are greedy, ranked by weighted count, and stop gracefully") {
    import graft.operators.Bpe
    // (a,b) dominates round 1 (3 weighted sites); (c,d) wins round 2; by
    // round 3 only the excluded self-pair (ab,ab) remains -> no-op round
    val docs = Seq((1L, "abab ab cd")).toDF("doc_id", "text")
    val out = Bpe.bpeMerges(docs, rounds = 3)
      .select("word", "cnt", "n_pieces", "segmented")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("abab") === ("abab", 1L, 2L, "ab ab"))
    assert(out("ab") === ("ab", 1L, 1L, "ab"))
    assert(out("cd") === ("cd", 1L, 1L, "cd"))
    // greedy left-to-right with a != b: no overlapping sites, single pass
    val tricky = Seq((1L, "aab aab bab")).toDF("doc_id", "text")
    val t2 = Bpe.bpeMerges(tricky, rounds = 1)
      .select("word", "segmented").as[(String, String)].collect().toMap
    // round-1 pairs: (a,a) excluded; (a,b) has weight 3 vs (b,a) weight 1
    assert(t2("aab") === "a ab")
    assert(t2("bab") === "b ab")
  }

  test("bpe segmentation always reassembles to the original word") {
    import graft.operators.Bpe
    // pseudo-random corpus over a 4-letter alphabet: merges fire heavily,
    // and whatever they do, concatenating the pieces must reproduce the
    // word exactly (no token eaten, none duplicated, order kept)
    val rnd = new scala.util.Random(42)
    val words = (1 to 60).map(_ =>
      (1 to (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      .distinct
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val out = Bpe.bpeMerges(docs, rounds = 4)
      .select("word", "segmented").as[(String, String)].collect()
    assert(out.map(_._1).toSet === words.toSet)
    out.foreach { case (w, seg) =>
      assert(seg.replace(" ", "") === w, s"pieces of '$w' reassembled to '$seg'")
    }
  }

  test("rakeKeywords scores phrases by hand-computed deg/freq fixed-point") {
    // "red wine | red wine vinegar | red" (split at stopwords the/a):
    //   freq(red)=3 deg(red)=2+3+1=6   -> 6*2^20/3 = 2097152
    //   freq(wine)=2 deg(wine)=2+3=5   -> 5*2^20/2 = 2621440
    //   freq(vinegar)=1 deg=3          -> 3*2^20   = 3145728
    val d = Seq((1L, "red wine the red wine vinegar a red")).toDF("doc_id", "text")
    val r = TextAnalysis.rakeKeywords(d)
      .as[(String, Long, Long)].collect().toList
    assert(r === List(
      ("red wine vinegar", 1L, 2097152L + 2621440L + 3145728L),
      ("red wine", 1L, 2097152L + 2621440L),
      ("red", 1L, 2097152L)))
    // phrases longer than maxPhraseLen never reach the word statistics
    val long = Seq((1L, "v w x y z the v w")).toDF("doc_id", "text")
    val rl = TextAnalysis.rakeKeywords(long, maxPhraseLen = 4)
      .as[(String, Long, Long)].collect().toList
    // only "v w" remains; its words score deg/freq = 2/1 exactly
    assert(rl === List(("v w", 1L, 2L * 2097152L)))
  }

  test("chi2Terms: hand-computed 2x2 cells, full-corpus cut, partition invariance") {
    // 4 docs, 2 labels; 'the' appears in every doc (must be cut),
    // 'apple' is a perfect X-indicator, 'banana' carries no signal
    val docs = Seq(
      (1L, "the apple banana", "X"), (2L, "the apple cherry", "X"),
      (3L, "the dog banana", "Y"), (4L, "the dog cherry", "Y"))
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.chi2Terms(docs, minDf = 1L, topK = 10)
      .select("term", "label", "a", "chi2")
      .as[(String, String, Long, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    // apple@X: a=2 b=0 c=0 d=2 -> chi2 = 4*(4-0)^2/(2*2*2*2) = 4.0
    assert(r(("apple", "X")) === ((2L, 4.0)))
    // banana@X: a=1 b=1 c=1 d=1 -> det=0 -> chi2 = 0
    assert(r(("banana", "X")) === ((1L, 0.0)))
    // 'the' is in all docs: (c+d)=0 would divide by zero -> excluded
    assert(!r.keySet.exists(_._1 == "the"))
    // only presence pairs (a>0) are emitted
    assert(!r.contains(("apple", "Y")))
    // partition invariance of the full ranked output
    val a17 = TextAnalysis.chi2Terms(docs.repartition(17), minDf = 1L, topK = 10)
      .orderBy("label", "rk").collect().toSeq
    val a1 = TextAnalysis.chi2Terms(docs.repartition(1), minDf = 1L, topK = 10)
      .orderBy("label", "rk").collect().toSeq
    assert(a17 === a1)
  }

  test("blocklistFlag: any-token membership, whole-word only, narrow plan") {
    val docs = Seq(
      (1L, "clean words only"), (2L, "has a bad word"),
      (3L, "badword is not the word bad"), (4L, "bad")).toDF("doc_id", "text")
    val r = TextAnalysis.blocklistFlag(docs, Seq("bad", "evil"))
      .select("doc_id", "blocked").as[(Long, Boolean)].collect().toMap
    // whole-token match: 'badword' alone must NOT flag (doc 3 flags via
    // its standalone 'bad'), substring semantics would be a different op
    assert(r === Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
    val only = Seq((1L, "badword compound")).toDF("doc_id", "text")
    assert(!TextAnalysis.blocklistFlag(only, Seq("bad"))
      .select("blocked").as[Boolean].head())
    // the flag is a narrow projection: no exchange in the plan
    val plan = TextAnalysis.blocklistFlag(docs, Seq("bad"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklist flag must not shuffle:\n$plan")
  }

  test("simpsonDiversity: exact rationals from hand-counted token distributions") {
    val docs = Seq(
      (1L, "a a a b"),   // T=4 c={3,1} s2=10 -> (16-10)/16 = 0.375
      (2L, "a b c"),     // all distinct      -> (9-3)/9 = 2/3
      (3L, "x"),         // single token      -> 0
      (4L, "y y y y")    // pure repetition   -> 0
    ).toDF("doc_id", "text")
    val r = TextAnalysis.simpsonDiversity(docs)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) === ((1L, 4L, 2L, 0.375)))
    assert(r(2L) === ((2L, 3L, 3L, 2.0 / 3.0)))
    assert(r(3L) === ((3L, 1L, 1L, 0.0)))
    assert(r(4L) === ((4L, 4L, 1L, 0.0)))
    // the TokenMoments rewrite makes this a pure narrow projection
    val plan = TextAnalysis.simpsonDiversity(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"simpson must not shuffle (token_moments is in-row):\n$plan")
  }

  test("readability: hand-counted Flesch terms, sentence floor, narrow plan") {
    // "the cat sat. it ran!" -> words=5 (split incl. punct-attached),
    // sentences=2 ([.] and [!]), vowel groups: e,a,a,i,a = 5
    val d = Seq((1L, "the cat sat. it ran!"), (2L, "no punctuation here"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.readability(d)
      .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch")
      .as[(Long, Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(1L)._2 === 5L); assert(r(1L)._3 === 2L); assert(r(1L)._4 === 5L)
    assert(r(1L)._5 === 206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (5.0 / 5.0))
    // unpunctuated doc: sentence count floors at 1 (no div-by-zero)
    assert(r(2L)._3 === 1L)
    // vowel groups never span words ("no punctuation here": o,u,ua,io,e,e)
    assert(r(2L)._4 === 6L)
    val plan = TextAnalysis.readability(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"readability must not shuffle:\n$plan")
  }

  test("text-hygiene operators run UNCHANGED on a stream (pure column algebra)") {
    // quality scoring + repetition filtering are per-row scalar algebra,
    // so the exact same operators apply to a readStream DataFrame — the
    // streaming ingest path of the corpus pipeline needs no twin code
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val filtered = graft.operators.TextAnalysis.repetitionStats(
        graft.operators.TextAnalysis.qualityScore(
          graft.operators.TextAnalysis.normalizeText(
            input.toDF().toDF("doc_id", "text"))))
      .select("doc_id", "quality", "keep")
    val q = filtered.writeStream.format("memory").queryName("hygiene_s")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "spam spam spam spam spam spam"))
      q.processAllAvailable()
      val rows = spark.table("hygiene_s")
        .select("doc_id", "keep").as[(Long, Int)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq((1L, 1), (2L, 0))) // prose keeps, spam drops
    } finally q.stop()
  }

  test("pii scrub and int8 quantization run UNCHANGED on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val piiIn = MemoryStream[(Long, String)]
    val scrubbed = graft.operators.TextAnalysis.scrubPii(
        piiIn.toDF().toDF("doc_id", "text"))
      .select("doc_id", "n_emails", "scrubbed")
    val q1 = scrubbed.writeStream.format("memory").queryName("pii_s")
      .outputMode("append").start()
    try {
      piiIn.addData((1L, "write to a@b.io now"))
      q1.processAllAvailable()
      val r = spark.table("pii_s").collect()
      assert(r.length === 1 && r(0).getLong(1) === 1L &&
        r(0).getString(2) === "write to <EMAIL> now")
    } finally q1.stop()
    val vecIn = MemoryStream[(Long, Array[Float])]
    val quant = graft.operators.Similarity.quantizeInt8(
        vecIn.toDF().toDF("vec_id", "embedding"))
      .select("vec_id", "q")
    val q2 = quant.writeStream.format("memory").queryName("quant_s")
      .outputMode("append").start()
    try {
      vecIn.addData((7L, Array(0.0f, 1.0f)))
      q2.processAllAvailable()
      val r = spark.table("quant_s").collect()
      assert(r.length === 1 && r(0).getSeq[Long](1) === Seq(-128L, 127L))
    } finally q2.stop()
  }

}
