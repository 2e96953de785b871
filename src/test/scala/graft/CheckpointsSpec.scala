package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.util.Checkpoints

/** Deterministic block release (r14): a long session must not accumulate
  * one persisted copy per checkpointed round / per query until the heap
  * fills (the sf10 probe OOM'd a 24 GiB JVM exactly this way). Spark's own
  * ContextCleaner frees blocks only after the RDD object is GC'd — these
  * utilities release them at the moment the algorithm knows they're dead.
  */
class CheckpointsSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("releaseAll unpersists every session-persisted RDD") {
    val a = Checkpoints.truncate(spark.range(100).toDF("id"))
    val b = Checkpoints.truncate(spark.range(50).toDF("id"))
    assert(a.count() == 100 && b.count() == 50)
    assert(persistedIds.nonEmpty)
    Checkpoints.releaseAll(spark)
    assert(persistedIds.isEmpty)
  }

  test("release keeps exactly the newest round's blocks") {
    Checkpoints.releaseAll(spark)
    var cur = Checkpoints.truncate(spark.range(10).toDF("v"), eager = false)
    assert(cur.count() == 10) // materialize round 0
    for (round <- 1 to 3) {
      val before = persistedIds
      val prev = cur
      cur = Checkpoints.truncate(cur.select((col("v") + 1).as("v")), eager = false)
      assert(cur.agg(sum("v")).collect()(0).getLong(0) == (0 until 10).map(_ + round).sum)
      val mine = persistedIds -- before
      Checkpoints.release(prev)
      // only this round's blocks survive — every prior round was released
      assert(persistedIds == mine, s"round $round leaked prior-round blocks")
      assert(mine.nonEmpty)
    }
    // the FINAL round stays usable after the loop (its blocks were never
    // released) — this is what callers build their result on
    assert(cur.agg(sum("v")).collect()(0).getLong(0) == (0 until 10).map(_ + 3).sum)
    // anything that is not a truncated table is left alone
    val cached = spark.range(5).toDF("c").persist()
    assert(cached.count() == 5)
    val held = persistedIds
    Checkpoints.release(cached, cur.select(col("v")))
    assert(persistedIds == held)
    Checkpoints.releaseAll(spark)
  }

  test("interleaved loops release only their own rounds") {
    Checkpoints.releaseAll(spark)
    def rddId(df: DataFrame) =
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    def step(df: DataFrame) = Checkpoints.truncate(df.select((col("v") + 1).as("v")))
    def total(df: DataFrame) = df.agg(sum("v")).collect()(0).getLong(0)
    var a = Checkpoints.truncate(spark.range(10).toDF("v"))
    var b = Checkpoints.truncate(spark.range(20).toDF("v"))
    for (round <- 1 to 3) {
      val (prevA, prevB) = (a, b)
      a = step(a)
      b = step(b) // loop B persists a round in the middle of loop A's round
      Checkpoints.release(prevA)
      assert(persistedIds == Set(rddId(a), rddId(prevB), rddId(b)),
        s"round $round: loop A's release touched loop B's blocks")
      Checkpoints.release(prevB)
      assert(persistedIds == Set(rddId(a), rddId(b)))
      assert(total(a) == (0 until 10).map(_ + round).sum)
      assert(total(b) == (0 until 20).map(_ + round).sum)
    }
    Checkpoints.releaseAll(spark)
  }

  test("connectedComponents releases interior rounds and yields the same labels") {
    Checkpoints.releaseAll(spark)
    import spark.implicits._
    // two chains and an isolated node, two key groups
    val edges = Seq(
      ("g", 1L, 2L), ("g", 2L, 3L), ("g", 10L, 11L),
      ("h", 1L, 5L), ("h", 5L, 9L)).toDF("k", "a", "b")
    val nodes = Seq(
      ("g", 1L), ("g", 2L), ("g", 3L), ("g", 10L), ("g", 11L), ("g", 99L),
      ("h", 1L), ("h", 5L), ("h", 9L)).toDF("k", "node")
    val got = operators.Contiguity
      .connectedComponents(edges, nodes, Seq("k"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 1L),
      ("g", 10L, 10L), ("g", 11L, 10L), ("g", 99L, 99L),
      ("h", 1L, 1L), ("h", 5L, 1L), ("h", 9L, 1L)))
    // after the action, at most the final round's blocks remain — the
    // interior rounds (≥2 for these chains) were rotated away in-loop
    assert(persistedIds.size <= 2,
      s"CC left ${persistedIds.size} persisted rounds; rotation not applied")
    Checkpoints.releaseAll(spark)
    assert(persistedIds.isEmpty)
  }
}
