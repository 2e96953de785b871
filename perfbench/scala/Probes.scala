package perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.util.{LinkedHashMap => JMap}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Task-level counters per job group (one group per pass and op). The
  * listener bus is asynchronous, so the counters are read only after
  * `spark.stop()`, which drains it.
  */
final class TaskProbe(sc: SparkContext) extends SparkListener {
  private final class Group {
    var jobs, stages, tasks, retries = 0L
    var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill, input, output = 0L
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.LinkedHashMap.empty[String, Group]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val group = groups.getOrElseUpdate(g, new Group)
        group.jobs += 1
        e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(g => groups(g).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId).map(groups); m <- Option(e.taskMetrics)) {
      g.tasks += 1
      if (e.taskInfo.attemptNumber > 0) g.retries += 1
      g.cpuNs += m.executorCpuTime
      g.runMs += m.executorRunTime
      g.gcMs += m.jvmGCTime
      g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      g.spill += m.diskBytesSpilled
      g.input += m.inputMetrics.bytesRead
      g.output += m.outputMetrics.bytesWritten
      g.durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }

  /** Worst stage of the group: its longest task over its median task. */
  private def skew(g: Group): Double =
    g.durations.values.filter(_.size >= 2).map { d =>
      val s = d.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.maxOption.getOrElse(1.0)

  def toJson: JMap[String, Object] = {
    val out = new JMap[String, Object]()
    groups.foreach { case (name, g) =>
      val m = new JMap[String, Object]()
      Seq("jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks, "retries" -> g.retries,
        "cpu_ns" -> g.cpuNs, "run_ms" -> g.runMs, "gc_ms" -> g.gcMs,
        "shuffle_write" -> g.shuffleWrite, "shuffle_read" -> g.shuffleRead, "spill" -> g.spill,
        "input" -> g.input, "output" -> g.output).foreach { case (k, v) => m.put(k, Long.box(v)) }
      m.put("skew", Double.box(skew(g)))
      out.put(name, m)
    }
    out
  }
}

/** Driver-side figures of an op's result plan: planning phase times from
  * `queryExecution.tracker` and the executed plan's exchange and
  * cached-scan counts. Forcing `executedPlan` here is part of the tracing
  * overhead.
  */
object PlanProbe {
  def apply(df: DataFrame): Map[String, Double] = {
    val qe = df.queryExecution
    val nodes = flatten(qe.executedPlan)
    val phases = qe.tracker.phases
    def phase(k: String) = phases.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    Map(
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }.toDouble,
      "cached_scans" -> nodes.count(_.isInstanceOf[InMemoryTableScanExec]).toDouble)
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec        => flatten(s.plan)
    case other => other +: (other.children.flatMap(flatten) ++ other.subqueries.flatMap(flatten))
  }
}

/** Single-task layer probes on fixed inputs (run after the traced passes):
  * the custom Catalyst expressions, the JTS union aggregator and the grid
  * parser, each as rows per second; plus MinHash candidate accounting on
  * the llm_dedup documents.
  */
object LayerProbes {
  private val Reps = 3

  def run(spark: SparkSession, workload: String, inputs: String,
          p: JsonNode): Map[String, Double] = {
    val texts = cached(spark.range(0, 4000, 1, 1).selectExpr(
      "concat_ws(' ', transform(sequence(1, 60), " +
        "i -> concat('w', cast(pmod(xxhash64(id, i), 5000) as string)))) AS text"))
    val vecs = cached(spark.range(0, 100000, 1, 1).selectExpr(
      "transform(sequence(1, 32), i -> cast(sin(id * 31 + i) as float)) AS embedding"))
    val planes = Array.tabulate(8 * 32)(i => if ((i * 7919) % 3 == 0) 1.0 else -1.0)
    graft.plans.DotFold.register(spark)
    import graft.plans.TextHash
    val out = Map(
      "plans.TextHash.minhash_sig_rows_per_s" -> rate(4000,
        texts.select(sum(size(TextHash.minhashSig(spark, col("text"), 3, 16))))),
      "plans.TextHash.word_shingles_rows_per_s" -> rate(4000,
        texts.select(sum(size(TextHash.wordShingles(spark, col("text"), 3))))),
      "plans.TextHash.simhash64_rows_per_s" -> rate(4000,
        texts.select(bit_xor(TextHash.simhash64(spark, col("text"))))),
      "plans.LshBucket.rows_per_s" -> rate(100000,
        vecs.select(bit_xor(graft.plans.LshBucketExpr(spark, col("embedding"), planes, 8, 32)))),
      "plans.DotFold.rows_per_s" -> rate(100000,
        vecs.select(sum(graft.plans.DotFold.dot(col("embedding"), col("embedding"))))),
      "functions.Geom.union_cells_per_s" -> rate(16384,
        spark.range(0, 16384, 1, 1)
          .select(graft.functions.Geom.stCellRectFrom((col("id") / 64).cast("int"),
            (col("id") % 64).cast("int"), lit(0.0), lit(0.0), lit(0.25), lit(256)).as("g"))
          .agg(graft.functions.Geom.stUnionAgg(col("g")))),
      "sources.EsriAsciiGrid.cells_per_s" -> gridParseRate()) ++
      (if (workload == "llm_dedup") minhashCandidates(spark, inputs, p) else Map.empty)
    texts.unpersist(blocking = true)
    vecs.unpersist(blocking = true)
    out
  }

  private def cached(df: DataFrame): DataFrame = { val c = df.persist(); c.count(); c }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def rate(rows: Long, df: DataFrame): Double =
    rows / median((1 to Reps).map(_ => timed(df.collect(): Unit)))

  private def gridParseRate(): Double = {
    val side = 256
    val sb = new StringBuilder(s"ncols $side\nnrows $side\nxllcorner 0\nyllcorner 0\ncellsize 0.25\nNODATA_value -9999\n")
    for (r <- 0 until side) {
      sb ++= (0 until side).map(c => f"${((r * 31 + c * 17) % 1000) / 1000.0}%.3f").mkString(" ")
      sb += '\n'
    }
    val content = sb.toString
    side.toLong * side / median((1 to Reps).map(_ =>
      timed(graft.sources.EsriAsciiGrid.parse(content)._2.foreach(_ => ()))))
  }

  /** Candidate pairs from the public signature and banding functions, and
    * the share of them that the exact verify keeps.
    */
  private def minhashCandidates(spark: SparkSession, inputs: String,
                                p: JsonNode): Map[String, Double] = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$inputs/docs.parquet")
    val (k, nh, bs) = (p.get("k").asInt, p.get("num_hashes").asInt, p.get("band_size").asInt)
    val bands = Dedup.minhashBands(Dedup.minhashSignature(docs, k, nh), nh, bs)
    val candidates = bands.select(col("band"), col("band_key"), col("doc_id").as("a"))
      .join(bands.select(col("band"), col("band_key"), col("doc_id").as("b")),
        Seq("band", "band_key"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val verified = Dedup.minhashPairs(docs, k, nh, bs, p.get("min_jaccard").asDouble).count()
    Map("operators.Dedup.minhash_candidate_pairs" -> candidates.toDouble,
      "operators.Dedup.minhash_useful_ratio" -> verified.toDouble / math.max(1L, candidates))
  }
}
