package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

/** Benchmark JVM: one closed-loop client that runs registry queries
  * (`graft.SparkEntry.queries`) pass after pass and writes what it saw as
  * one JSON file. `perfbench/run.py` starts it, checks the digests and
  * turns the file into metrics; see perfbench/README.md.
  *
  * Usage:
  * {{{
  * Harness setup <dataDir> <outFile> <cores>
  * Harness run <dataDir> <outFile> <cores> <seed> <passes> <traced 0|1> <q1,q2,...>
  * }}}
  * `setup` stops after the session is ready (the set-up sample the run
  * script repeats); `run` then measures `passes` passes. In a traced run
  * half the warm passes are traced, so one run yields both the per-layer
  * numbers and the tracing overhead.
  *
  * Every layer is measured from outside the program: spans around the
  * three calls the harness makes per query (the registry builder, Catalyst
  * planning of the returned frame, the materializing collect), a
  * [[SparkListener]] that attributes jobs to those spans through a local
  * property, the frame's `QueryPlanningTracker` phases, the public RDD
  * storage info, and JVM MXBeans. Nothing here calls `System.gc()`.
  */
object Harness {

  private val SpanProp = "perfbench.span"

  /** One timed interval the harness drove; jobs are attributed to it. */
  final class Span(val id: Int, val phase: String) {
    @volatile var startMs: Long = 0L
    @volatile var endMs: Long = Long.MaxValue
  }

  /** Counters the listener sums per span. Written only on the bus thread. */
  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, durationMs = 0L
    var shWriteBytes, shWriteRecords, shWriteNs = 0L
    var shReadBytes, fetchWaitMs = 0L
    var spillBytes, peakExec = 0L
    var inputBytes, inputRecords = 0L
    val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    /** Milliseconds covered by at least one of the span's jobs. */
    def jobMs: Long = jobIntervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - (a max reach), b)
    }._1
  }

  /** Attributes every job, stage and task to the span that was open when
    * the job was submitted. The span id travels as a local property; a job
    * whose property is missing, or was inherited by a pooled thread from an
    * earlier span, is placed by its submission time instead (the client is
    * single-threaded, so spans never overlap). */
  final class Profiler extends SparkListener {
    val spans = new ConcurrentHashMap[Int, Span]()
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
    val counters = new ConcurrentHashMap[Int, Counters]()

    private def covers(s: Span, t: Long): Boolean = t >= s.startMs && t < s.endMs

    private def locate(prop: Option[Int], t: Long): Int =
      prop.flatMap(i => Option(spans.get(i))).filter(covers(_, t)).map(_.id)
        .orElse(spans.values.asScala.filter(covers(_, t)).toSeq
          .sortBy(-_.startMs).headOption.map(_.id))
        .getOrElse(-1)

    private def c(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(_.toIntOption)
      val span = locate(prop, e.time)
      c(span).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, span))
      jobStart.put(e.jobId, (span, e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        c(span).jobIntervals += ((t0, e.time))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.completionTime.isDefined)
        c(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = c(stageSpan.getOrDefault(e.stageId, -1))
      k.tasks += 1
      k.durationMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (e.reason != org.apache.spark.Success) k.failedTasks += 1
      else if (m != null) {
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        k.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        k.shWriteNs += m.shuffleWriteMetrics.writeTime
        k.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        k.peakExec = k.peakExec max m.peakExecutionMemory
        k.inputBytes += m.inputMetrics.bytesRead
        k.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Highest heap in use right after any collection, over the whole JVM. */
  final class PostGcHeap {
    @volatile var peakBytes = 0L
    private val listener = new javax.management.NotificationListener {
      override def handleNotification(n: javax.management.Notification, h: AnyRef): Unit =
        n.getUserData match {
          case cd: javax.management.openmbean.CompositeData
              if n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION =>
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
            val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
              .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peakBytes) peakBytes = used
          case _ =>
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime.max(0L)).sum, gcs.map(_.getCollectionCount.max(0L)).sum)
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  // ---- minimal JSON writer (machine-read by run.py) ----
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Session and fixture check: everything before the first timed query.
    * There is no warm-up query: the JIT and class-loading cost of the first
    * queries is what the cold pass measures. Returns the session and the
    * seconds each step took. */
  private def setUp(dataDir: String, cpus: Int): (SparkSession, Seq[(String, Double)]) = {
    var t = System.nanoTime()
    def lap(): Double = { val now = System.nanoTime(); val d = (now - t) / 1e9; t = now; d }
    val spark = graft.LocalDirs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val session = lap()
    graft.sources.BlogCorpus.ensureFixtures(spark, dataDir)
    graft.sources.ZipImages.ensureFixtures()
    graft.sources.CsvTables.ensureEventsCsv(spark, dataDir)
    graft.sources.JsonTables.ensureEventsJsonl(spark, dataDir)
    graft.sources.OrcTables.ensureEventsOrc(spark, dataDir)
    graft.sources.PartitionedTables.ensureEventsPartitioned(spark, dataDir)
    (spark, Seq("session_s" -> session, "fixtures_s" -> lap()))
  }

  private def context(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val localDir = sc.getConf.getOption("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val firstDir = new java.io.File(localDir.split(",").head).getAbsoluteFile
    val fsType = scala.util.Try(Files.getFileStore(firstDir.toPath).`type`).getOrElse("unknown")
    val graftEnv = sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq.sortBy(_._1)
    obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> q(sc.master),
      "default_parallelism" -> sc.defaultParallelism.toString,
      "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions")),
      "driver_heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark_version" -> q(spark.version),
      "jdk" -> q(System.getProperty("java.runtime.version")),
      "local_dir" -> q(firstDir.getPath),
      "local_dir_fs" -> q(fsType),
      "local_dir_tmpfs" -> (fsType == "tmpfs").toString,
      "graft_env" -> obj(graftEnv.map { case (k, v) => k -> q(v) })))
  }

  private def storageNow(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum)
  }

  private def waitForBus(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(120000L))
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dataDir = args(1)
    val out = Paths.get(args(2))
    val (spark, setupSteps) = setUp(dataDir, args(3).toInt)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val setupJson = obj(("jvm_uptime_s" -> num(setupS)) +: setupSteps.map { case (k, v) => k -> num(v) })
    System.out.println("perfbench ready")
    System.out.flush()
    if (mode == "setup") {
      Files.write(out, obj(Seq("setup" -> setupJson,
        "context" -> context(spark),
        "registry" -> graft.SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")))
        .getBytes(StandardCharsets.UTF_8))
      spark.stop()
      return
    }
    val seed = args(4).toLong
    val passes = args(5).toInt
    val traced = args(6) == "1"
    val names = args(7).split(",").toVector
    val registry = graft.SparkEntry.queries
    names.filterNot(registry.contains).foreach(n => sys.error(s"unknown query $n"))

    val prof = new Profiler
    spark.sparkContext.addSparkListener(prof)
    val heap = new PostGcHeap
    val sc = spark.sparkContext
    var nextSpan = 0
    def open(phase: String): Span = {
      val s = new Span(nextSpan, phase)
      nextSpan += 1
      s.startMs = System.currentTimeMillis()
      prof.spans.put(s.id, s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      s
    }
    def close(s: Span): Unit = {
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanProp, null)
    }

    val passJson = Vector.newBuilder[String]
    for (p <- 0 until passes) {
      // pass 0 is the cold pass; a traced run traces its warm passes in the
      // order T U U T, so the warming the passes still undergo does not
      // bias the tracing overhead
      val tracePass = traced && p > 0 && (p % 4 == 1 || p % 4 == 0)
      // the cold pass keeps the listed order, so every run pays the same
      // first-use costs; the seed permutes each warm pass
      val order = if (p == 0) names else new scala.util.Random(seed * 1000003L + p).shuffle(names)
      val passCpu0 = processCpuNs()
      val passT0 = System.nanoTime()
      val queries = order.map { name =>
        val (gcMs0, gcN0) = gcTotals()
        val t0 = System.nanoTime()
        var status = "ok"
        var rows = -1L
        var digest = 0L
        var buildS, planS, collectS = 0.0
        val spans = Vector.newBuilder[Span]
        var phases = Map.empty[String, Double]
        try {
          val b = open("build"); spans += b
          val df = registry(name)(spark, dataDir)
          close(b)
          buildS = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          val pl = open("plan"); spans += pl
          val fold = df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
            .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x"))
          if (tracePass) fold.queryExecution.executedPlan
          close(pl)
          val t2 = System.nanoTime()
          planS = (t2 - t1) / 1e9
          val ex = open("collect"); spans += ex
          val r = fold.collect().head
          close(ex)
          collectS = (System.nanoTime() - t2) / 1e9
          rows = r.getLong(0)
          digest = if (r.isNullAt(1)) 0L else r.getLong(1)
          phases = fold.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
        } catch {
          case e: Throwable =>
            status = "error:" + e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).linesIterator.take(1).mkString
            spans.result().filter(_.endMs == Long.MaxValue).foreach(close)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val (gcMs1, gcN1) = gcTotals()
        val extra = if (!tracePass) Seq.empty else {
          val (blocks, bytes) = storageNow(spark)
          Seq("storage_blocks" -> blocks.toString, "storage_bytes" -> bytes.toString,
            "gc_ms" -> (gcMs1 - gcMs0).toString, "gc_count" -> (gcN1 - gcN0).toString,
            "analysis_s" -> num(phases.getOrElse("analysis", 0.0)),
            "optimization_s" -> num(phases.getOrElse("optimization", 0.0)),
            "planning_s" -> num(phases.getOrElse("planning", 0.0)))
        }
        obj(Seq("name" -> q(name), "status" -> q(status), "rows" -> rows.toString,
          "digest" -> q(java.lang.Long.toHexString(digest)), "wall_s" -> num(wall),
          "build_s" -> num(buildS), "plan_s" -> num(planS), "collect_s" -> num(collectS),
          "spans" -> spans.result().map(s => obj(Seq("id" -> s.id.toString,
            "phase" -> q(s.phase)))).mkString("[", ",", "]")) ++ extra)
      }
      val passWall = (System.nanoTime() - passT0) / 1e9
      val passCpu = (processCpuNs() - passCpu0) / 1e9
      passJson += obj(Seq("pass" -> p.toString, "traced" -> tracePass.toString,
        "wall_s" -> num(passWall), "cpu_s" -> num(passCpu),
        "queries" -> queries.mkString("[", ",", "]")))
    }
    waitForBus(spark)
    val counters = prof.counters.asScala.toSeq.sortBy(_._1).map { case (id, k) =>
      id.toString -> obj(Seq("jobs" -> k.jobs, "stages" -> k.stages, "tasks" -> k.tasks,
        "failed_tasks" -> k.failedTasks, "run_ms" -> k.runMs, "cpu_ns" -> k.cpuNs,
        "duration_ms" -> k.durationMs, "shuffle_write_bytes" -> k.shWriteBytes,
        "shuffle_write_records" -> k.shWriteRecords, "shuffle_write_ns" -> k.shWriteNs,
        "shuffle_read_bytes" -> k.shReadBytes, "fetch_wait_ms" -> k.fetchWaitMs,
        "spill_bytes" -> k.spillBytes, "peak_exec_bytes" -> k.peakExec,
        "input_bytes" -> k.inputBytes, "input_records" -> k.inputRecords,
        "job_ms" -> k.jobMs)
        .map { case (a, b) => a -> b.toString })
    }
    Files.write(out, obj(Seq(
      "setup" -> setupJson,
      "context" -> context(spark),
      "peak_heap_bytes" -> heap.peakBytes.toString,
      "passes" -> passJson.result().mkString("[", ",", "]"),
      "span_counters" -> obj(counters))).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
