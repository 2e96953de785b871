package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in a fresh JVM.
  *
  * Protocol: set-up (session + op list), one untimed warm pass, then timed
  * passes until `--seconds` of pass wall time is spent (at least
  * `--min-passes`). Each op is build → execute → check → release; between
  * passes, outside the timed window, every persisted RDD is released, the
  * run waits until none is left and forces a full GC. Closed loop, one op at
  * a time, on the session conf of `graft.Bench.main`.
  *
  * The warm pass dumps each op's result for the truth checks the caller
  * makes after the run; every timed pass must reproduce the warm pass's
  * rows and checksum. With `--trace 1`, timed passes run untraced and
  * traced in ABBA order, the traced ones adding per-op plan inspection and
  * job-group task accounting; layer probes run after the last pass.
  *
  * Usage: PerfBench --workload W --inputs DIR --work DIR --seconds S
  *                  --trace 0|1 --min-passes N --out FILE
  */
object PerfBench {

  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val inputs = args("inputs")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val minPasses = args("min-passes").toInt
    val params = mapper.readTree(new java.io.File(s"$inputs/params.json"))

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", graft.util.Scratch.warehouseDir)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val probe = if (traced) Some(new TaskProbe(sc)) else None
    val ops = Workloads(workload, spark, inputs, work, params)

    val spans = new Spans
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jitBean = ManagementFactory.getCompilationMXBean
    val threadBean = ManagementFactory.getThreadMXBean
    // CPU time of every live Java thread: the driver, the task threads and
    // Spark's own threads, but not the JIT compiler or GC workers
    def threadCpu(): Map[Long, Long] =
      threadBean.getAllThreadIds.map(id => id -> threadBean.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
    def gcMillis() = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val passes = new JList[Object]()
    var warm: Map[String, OpOutcome] = Map.empty
    var firstTimedEpoch = 0.0
    val runSpan = spans.open("run", -1)

    def onePass(index: Int): Unit = {
      val isWarm = index == 0
      // untraced and traced timed passes in ABBA order (U T T U U T T U ...),
      // so a drift across passes cancels out of the tracing overhead
      val tracedPass = traced && !isWarm && index % 4 >= 2
      if (index == 1) firstTimedEpoch = epochSeconds()
      val cpu0 = osBean.getProcessCpuTime
      val threads0 = threadCpu()
      val jit0 = jitBean.getTotalCompilationTime
      val gc0 = gcMillis()
      val passSpan = spans.open(s"pass$index", runSpan)
      val t0 = System.nanoTime()
      val outcomes = ops.map { op =>
        sc.setJobGroup(s"p$index:${op.name}", op.name, interruptOnCancel = false)
        val o = runOp(spark, op, index, spans, passSpan, tracedPass, isWarm, warm.get(op.name), work)
        sc.clearJobGroup()
        o
      }
      val wall = (System.nanoTime() - t0) / 1e9
      spans.close(passSpan)
      val processCpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      // a thread that starts in the pass counts from 0; one that ends in it is lost
      val cpu = threadCpu().map { case (id, t) => t - threads0.getOrElse(id, 0L) }.sum / 1e9
      val jit = (jitBean.getTotalCompilationTime - jit0) / 1e3
      val gc = (gcMillis() - gc0) / 1e3
      if (isWarm) warm = outcomes.map(o => o.name -> o).toMap
      val settle = settleBetweenPasses(spark, spans, runSpan, index)
      val rec = new JMap[String, Object]()
      rec.put("index", Int.box(index))
      rec.put("warm", Boolean.box(isWarm))
      rec.put("traced", Boolean.box(tracedPass))
      rec.put("wall_s", Double.box(wall))
      rec.put("cpu_s", Double.box(cpu))
      rec.put("process_cpu_s", Double.box(processCpu))
      rec.put("jit_s", Double.box(jit))
      rec.put("gc_s", Double.box(gc))
      settle.foreach { case (k, v) => rec.put(k, v) }
      val opsOut = new JList[Object]()
      outcomes.foreach(o => opsOut.add(o.toJson))
      rec.put("ops", opsOut)
      passes.add(rec)
    }

    onePass(0)
    var timed = 0.0
    var index = 1
    while (index <= minPasses || (timed < seconds && index <= 200)) {
      onePass(index)
      timed += passes.get(index).asInstanceOf[JMap[String, Object]].get("wall_s").asInstanceOf[Double]
      index += 1
    }
    val layerProbes =
      if (traced) LayerProbes.run(spark, workload, inputs, params) else Map.empty[String, Double]
    spans.close(runSpan)
    spark.stop()

    val out = new JMap[String, Object]()
    out.put("workload", workload)
    out.put("cpus", Int.box(cpus))
    out.put("first_timed_pass_epoch_s", Double.box(firstTimedEpoch))
    out.put("passes", passes)
    out.put("spans", spans.toJson)
    val lp = new JMap[String, Object]()
    layerProbes.foreach { case (k, v) => lp.put(k, Double.box(v)) }
    out.put("layer_probes", lp)
    probe.foreach(p => out.put("task_groups", p.toJson))
    mapper.writeValue(new java.io.File(args("out")), out)
  }

  private def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  /** Result of one op in one pass. */
  final case class OpOutcome(name: String, rows: Long, checksum: Long,
                             extras: Map[String, Long], ok: Boolean, error: String,
                             plan: Map[String, Double]) {
    def toJson: JMap[String, Object] = {
      val m = new JMap[String, Object]()
      m.put("name", name)
      m.put("rows", Long.box(rows))
      m.put("checksum", Long.box(checksum))
      val ex = new JMap[String, Object]()
      extras.foreach { case (k, v) => ex.put(k, Long.box(v)) }
      m.put("extras", ex)
      m.put("ok", Boolean.box(ok))
      m.put("error", error)
      val pl = new JMap[String, Object]()
      plan.foreach { case (k, v) => pl.put(k, Double.box(v)) }
      m.put("plan", pl)
      m
    }
  }

  private def runOp(spark: SparkSession, op: Op, pass: Int, spans: Spans, parent: Int,
                    tracedPass: Boolean, isWarm: Boolean, warm: Option[OpOutcome],
                    work: String): OpOutcome = {
    val opSpan = spans.open(op.name, parent)
    val outcome =
      try {
        val df = spans.time("build", opSpan)(op.build())
        val plan = if (tracedPass) spans.time("plan", opSpan)(PlanProbe(df)) else Map.empty[String, Double]
        val (rows, checksum) = spans.time("execute", opSpan)(op.execute(df))
        spans.time("check", opSpan) {
          val extras = op.extras()
          val base = OpOutcome(op.name, rows, checksum, extras, ok = true, error = "", plan)
          if (isWarm) {
            op.dump.foreach(f => f(df).write.mode("overwrite").parquet(s"$work/warm/${op.name}"))
            base
          } else warm match {
            case Some(w) if w.ok && (w.rows, w.checksum, w.extras) == (rows, checksum, extras) => base
            case Some(w) =>
              base.copy(ok = false, error =
                s"pass $pass differs from warm pass: rows $rows/${w.rows} checksum $checksum/${w.checksum} extras $extras/${w.extras}")
            case None => base.copy(ok = false, error = "no warm pass result")
          }
        }
      } catch {
        case e: Throwable =>
          OpOutcome(op.name, -1L, 0L, Map.empty, ok = false,
            error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}",
            plan = Map.empty)
      }
    spans.time("release", opSpan)(graft.util.Checkpoints.releaseAll(spark))
    spans.close(opSpan)
    outcome
  }

  /** Release, wait until no persisted RDD and no storage-memory change is
    * left, then force a full GC; returns the pass record's util fields.
    */
  private def settleBetweenPasses(spark: SparkSession, spans: Spans, runSpan: Int,
                                  index: Int): Seq[(String, Object)] = {
    val sc = spark.sparkContext
    val span = spans.open(s"settle$index", runSpan)
    val t0 = System.nanoTime()
    graft.util.Checkpoints.releaseAll(spark)
    val releaseS = (System.nanoTime() - t0) / 1e9
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def storageUsed() = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    var last = -1L
    var stable = false
    while (!stable && System.nanoTime() < deadline) {
      if (sc.getPersistentRDDs.isEmpty) {
        val used = storageUsed()
        stable = used == last
        last = used
      }
      if (!stable) Thread.sleep(10)
    }
    val waitS = (System.nanoTime() - t0) / 1e9 - releaseS
    // Blocks of broadcasts and shuffles that the first collection makes
    // unreachable are removed by the ContextCleaner thread shortly after,
    // so the live heap is read after a later collection.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    spans.close(span)
    Seq(
      "settle_release_s" -> Double.box(releaseS),
      "release_wait_s" -> Double.box(waitS),
      "persisted_rdds_after_release" -> Int.box(sc.getPersistentRDDs.size),
      "cache_entries_after_release" -> Int.box(cacheEntries(spark)),
      "heap_after_gc_mb" -> Double.box(heapMb))
  }

  /** Entries the SQL CacheManager still holds; its list is private, so this
    * reads the field reflectively (-1 when the field is not found).
    */
  private def cacheEntries(spark: SparkSession): Int =
    try {
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    } catch { case _: ReflectiveOperationException => -1 }
}

/** Flat span log: id, parent, name, start and end in ns since run start. */
final class Spans {
  private val t0 = System.nanoTime()
  private val names = ArrayBuffer.empty[String]
  private val parents = ArrayBuffer.empty[Int]
  private val starts = ArrayBuffer.empty[Long]
  private val ends = ArrayBuffer.empty[Long]

  def open(name: String, parent: Int): Int = {
    names += name; parents += parent; starts += System.nanoTime() - t0; ends += -1L
    names.size - 1
  }

  def close(id: Int): Unit = ends(id) = System.nanoTime() - t0

  def time[T](name: String, parent: Int)(body: => T): T = {
    val id = open(name, parent)
    try body finally close(id)
  }

  def toJson: JList[Object] = {
    val l = new JList[Object]()
    names.indices.foreach { i =>
      val m = new JMap[String, Object]()
      m.put("id", Int.box(i)); m.put("parent", Int.box(parents(i))); m.put("name", names(i))
      m.put("start_ns", Long.box(starts(i))); m.put("end_ns", Long.box(ends(i)))
      l.add(m)
    }
    l
  }
}
