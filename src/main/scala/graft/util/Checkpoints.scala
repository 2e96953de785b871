package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage truncation for iterative operators (PageRank, star-contraction
  * CC, k-means, BPE): every round references its previous round's output
  * more than once, so an untruncated plan doubles per iteration.
  *
  * `localCheckpoint` stores blocks on executors — fine on local[n], but on
  * a real cluster a single executor loss makes the truncated lineage
  * unrecoverable and kills a 100 TB job mid-iteration. So: when the
  * session has a reliable checkpoint directory configured
  * (`sparkContext.setCheckpointDir`, typically HDFS/S3), use the durable
  * `checkpoint()`; otherwise fall back to `localCheckpoint()`. Callers opt
  * in to durability purely through Spark's own session-level setting — no
  * per-operator flags to thread.
  *
  * The lifecycle of an iteration loop is `truncate` each round, then
  * `release` the round it replaced once the new round is materialized:
  *
  * {{{
  *   var cur = Checkpoints.truncate(init)
  *   for (_ <- 1 to iters) {
  *     val prev = cur
  *     cur = Checkpoints.truncate(step(prev))   // eager, or lazy + an action
  *     Checkpoints.release(prev)
  *   }
  * }}}
  *
  * The loop releases only what it truncated itself, so loops running in
  * the same session never free each other's blocks; the final round is
  * never released — callers build their result on it.
  */
object Checkpoints {

  /** @param eager materialize now (default) vs on first use — iterations
    *              whose next action materializes the same blocks anyway
    *              (Contiguity's convergence checksum) pass false to avoid
    *              a separate job per round
    */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    // Default storage level (MEMORY_AND_DISK, deserialized) on purpose:
    // an r14 experiment with MEMORY_AND_DISK_SER — hoping to shrink big
    // checkpointed edge tables — OOM'd the sf10 label-propagation probe
    // at 48 GiB where the deserialized level passes at 24 GiB: RDD-cache
    // serialization of InternalRows goes through the session serializer
    // with per-task unroll buffers that SPIKE transient heap even though
    // the settled blocks are smaller. Deserialized UnsafeRows unroll
    // incrementally and evict to disk per-block under pressure.
    else df.localCheckpoint(eager)

  /** Free the blocks behind DataFrames that [[truncate]] returned: the RDD
    * of their `LogicalRDD`. Spark would reclaim them only once the
    * ContextCleaner notices the RDD object was GC'd, so an N-round loop
    * otherwise holds N copies of its iteration state. A no-op for any
    * other DataFrame, persisted or derived; a durable checkpoint keeps its
    * files.
    *
    * Call it only after every action that reads `dfs` has run: a
    * lineage-truncated RDD cannot recompute, so a later read of a
    * released round fails instead of slowing down. Non-blocking.
    */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    })

  /** Release every RDD this session still holds persisted blocks for
    * (localCheckpoint / cache). Spark frees such blocks only when the
    * async ContextCleaner notices the RDD object itself was GC'd, so a
    * long-lived session running many queries (Bench, Verify, a notebook)
    * accumulates every past query's truncated-lineage blocks until the
    * heap fills — at 100× the graded scale (sf10 probe, r14) the
    * accumulation OOM'd a 24 GiB local[32] JVM after ~15 heavy queries.
    *
    * A harness utility for QUERY BOUNDARIES only — never call it inside
    * an operator: a lineage-truncated RDD cannot recompute, so releasing
    * blocks a still-live DataFrame will be asked for again would fail the
    * later action, not slow it down. Non-blocking (removal proceeds
    * asynchronously on the executors). It leaves the SQL CacheManager
    * entries of `persist()`ed plans registered, so a later `persist()` of
    * the same plan reuses a dead entry and recomputes on every read.
    *
    * SINGLE-THREADED-SESSION assumption: this releases every persisted
    * RDD in the session, so a concurrent query on a shared SparkSession
    * would lose its own truncated-lineage blocks and fail its later
    * actions. Bench/Verify drive queries strictly sequentially; a
    * multi-tenant driver must release its own tables with [[release]].
    */
  def releaseAll(ss: org.apache.spark.sql.SparkSession): Unit =
    ss.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}
