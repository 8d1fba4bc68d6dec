package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}

import graft.{GraftExtensions, SparkEntry}
import graft.api.Wireduck

/** What one query execution returned: collected rows, or the aggregates
  * observed alongside a noop sink. */
final case class Outcome(rows: Array[Row], observed: Map[String, Any],
    schema: org.apache.spark.sql.types.StructType = null)

/** One workload query. `collect` = the client fetches the rows; otherwise
  * the rows go to the noop sink and `observe` aggregates ride along.
  * `check` returns a failure message, or None when the outcome is right. */
final case class BenchQuery(
    name: String,
    build: SparkSession => DataFrame,
    collect: Boolean,
    observe: Seq[Column] = Nil,
    check: Outcome => Option[String] = _ => None)

/** Executor metrics summed per Spark job group; the harness gives every
  * query execution its own group. */
final class StageTotals extends SparkListener {
  final class Agg {
    var cpuNs = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var tasks = 0L
  }
  private val jobGroup = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  val byGroup = TrieMap.empty[String, Agg]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = js.properties.getProperty("spark.jobGroup.id")
    if (g != null) {
      jobGroup(js.jobId) = g
      js.stageIds.foreach(sid => stageJob(sid) = js.jobId)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    for (jid <- stageJob.get(sc.stageInfo.stageId); g <- jobGroup.get(jid)) {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        val a = byGroup.getOrElseUpdate(g, new Agg)
        a.synchronized {
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.tasks += sc.stageInfo.numTasks
        }
      }
    }

  def sum(groups: Seq[String]): Agg = {
    val t = new Agg
    groups.flatMap(byGroup.get).foreach { a =>
      t.cpuNs += a.cpuNs; t.runMs += a.runMs; t.shuffleWrite += a.shuffleWrite
      t.spill += a.spill; t.input += a.input; t.tasks += a.tasks
    }
    t
  }
}

/** Peak heap left after each garbage collection, over the windows in which
  * it is armed. */
final class HeapWatch {
  @volatile var armed = false
  @volatile var peakBytes = 0L
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (armed && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (used > peakBytes) peakBytes = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def gcNanos: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L
}

/** The benchmark's JVM side. It builds the session, prepares what the
  * workload needs, runs the first query cold, then runs the workload's
  * queries in a closed loop from one client thread for the given seconds,
  * checks every outcome, and writes one result file. Input generation and
  * the DuckDB oracle compare happen outside, in run.py.
  *
  * {{{
  * Harness --workload <name> --seconds <s> --trace <0|1>
  *         --inputs <dir> --work <dir> --out <file> --launched-ns <epoch ns>
  *         [--sf <dir>] [--layer-file <capture>]
  * }}}
  */
object Harness {
  private def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Collects garbage, then waits (at most `maxMs`) until the JIT has been
    * idle for `quietMs`, so that set-up's garbage and its trailing
    * compilations do not land inside the cold pass. */
  private def quiesce(quietMs: Long = 300, maxMs: Long = 3000): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    if (jit == null || !jit.isCompilationTimeMonitoringSupported) return
    val end = System.nanoTime() + maxMs * 1000000L
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() < end && System.nanoTime() - quietSince < quietMs * 1000000L) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val tracer = new Tracer(args("trace") == "1")
    val work = Paths.get(args("work"))
    val heap = new HeapWatch
    val root = if (tracer.enabled) Some(tracer.open("run")) else None

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = tracer.span("setup.session") {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.local.dir", work.resolve("local").toString)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val totals = new StageTotals
    spark.sparkContext.addSparkListener(totals)
    tracer.span("setup.extensions")(Wireduck.setup(spark))

    val wl = Workloads(workload, Paths.get(args("inputs")), args.get("sf"))
    wl.prepare.foreach { prep =>
      spark.sparkContext.setJobGroup("setup", "setup", interruptOnCancel = false)
      try tracer.span("setup.prep")(prep(spark, tracer))
      finally spark.sparkContext.clearJobGroup()
    }
    val setupS = (epochNanos() - args("launched-ns").toLong) / 1e9

    var attempted = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(q: BenchQuery, group: String): Outcome = {
      attempted += 1
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try tracer.span(s"query.${q.name}", request = true) {
        val obs = if (q.observe.nonEmpty) Some(Observation(q.name)) else None
        val df = tracer.span(s"query.${q.name}.plan") {
          val d0 = q.build(spark)
          val d = obs.fold(d0)(o => d0.observe(o, q.observe.head, q.observe.tail: _*))
          if (tracer.active) d.queryExecution.executedPlan
          d
        }
        val out = tracer.span(s"query.${q.name}.execute") {
          if (q.collect) Outcome(df.collect(), Map.empty, df.schema)
          else {
            df.write.format("noop").mode("overwrite").save()
            Outcome(Array.empty, obs.fold(Map.empty[String, Any])(_.get))
          }
        }
        q.check(out).foreach(m => failures += s"$group: $m")
        out
      } catch {
        case e: Throwable =>
          failures += s"$group: ${e.getClass.getSimpleName}: ${e.getMessage}"
          Outcome(Array.empty, Map.empty)
      } finally spark.sparkContext.clearJobGroup()
    }

    // a pass runs the given queries once each, in order, as one numbered
    // job group per query
    final case class Pass(index: Int, traced: Boolean, wallNs: Long, gcNs: Long,
        queryNs: Map[String, Long], planNs: Long, executeNs: Long)
    var last = Map.empty[String, Outcome]
    var passCount = 0
    def runPass(queries: Seq[BenchQuery], traced: Boolean, spanName: String): Pass = {
      passCount += 1
      val i = passCount
      val pass = if (tracer.enabled) Some(tracer.open(spanName)) else None
      val firstSpan = tracer.all.size
      tracer.active = traced
      val gc0 = heap.gcNanos
      val p0 = System.nanoTime()
      val qNs = queries.map { q =>
        val q0 = System.nanoTime()
        last += q.name -> run(q, s"p$i/${q.name}")
        q.name -> (System.nanoTime() - q0)
      }.toMap
      val wall = System.nanoTime() - p0
      tracer.active = tracer.enabled
      pass.foreach(tracer.close)
      val inPass = tracer.all.drop(firstSpan)
      def spanNs(suffix: String) = inPass.filter(_.name.endsWith(suffix)).map(_.nanos).sum
      Pass(i, traced, wall, heap.gcNanos - gc0, qNs, spanNs(".plan"), spanNs(".execute"))
    }

    // cold pass: the first execution of every query, in workload order;
    // where the workload says so it is also the first timed pass, except in
    // a traced run, which compares traced with untraced passes that must
    // both run warm
    val quiet0 = System.nanoTime()
    quiesce()
    val quiesceS = (System.nanoTime() - quiet0) / 1e9
    val coldCounts = wl.coldPassTimed && !tracer.enabled
    heap.armed = coldCounts
    val coldStart = System.nanoTime()
    val cold = runPass(wl.queries, tracer.enabled, "pass.cold")
    val coldPassS = cold.wallNs / 1e9
    val firstQueryS = cold.queryNs(wl.queries.head.name) / 1e9
    (1 to wl.warmupPasses).foreach(_ => runPass(wl.queries, tracer.enabled, "warmup"))

    // timed phase: whole passes over the workload's queries until the
    // seconds are spent; a traced run alternates untraced and traced passes
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    if (coldCounts) passes += cold
    heap.armed = true
    val deadline = (if (coldCounts) coldStart else System.nanoTime()) + (seconds * 1e9).toLong
    while (passes.size < wl.minPasses || System.nanoTime() < deadline ||
        (tracer.enabled && passes.size < 2)) {
      val traced = tracer.enabled && passes.size % 2 == 1
      passes += runPass(wl.queries, traced, if (traced) "pass.traced" else "pass.untraced")
    }
    heap.armed = false
    if (heap.peakBytes == 0L) { // no collection ran inside the timed phase
      System.gc()
      heap.peakBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }

    tracer.span("checks")(wl.finalChecks(spark, last, work).foreach { case (ok, msg) =>
      attempted += 1
      if (!ok) failures += msg
    })
    val layerMetrics = args.get("layer-file").filter(_ => tracer.enabled)
      .map(f => Layers.measure(f, tracer)).getOrElse(Nil)
    root.foreach(tracer.close)
    org.apache.spark.BenchBus.drain(spark.sparkContext)

    // each per-pass figure is the sum over the queries of that query's
    // median across the untraced passes, so a stall that hits one query in
    // one pass does not move it
    val measured = passes.filterNot(_.traced).toSeq
    val aggs = (for (p <- measured; q <- wl.queries)
      yield (p.index, q.name) -> totals.sum(Seq(s"p${p.index}/${q.name}"))).toMap
    def perQuery(q: String, f: StageTotals#Agg => Double): Double =
      median(measured.map(p => f(aggs((p.index, q)))))
    def perPass(f: StageTotals#Agg => Double): Double = wl.queries.map(q => perQuery(q.name, f)).sum
    def queryWall(q: String): Double = median(measured.map(_.queryNs(q) / 1e9))
    val wallS = wl.queries.map(q => queryWall(q.name)).sum
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("cold_pass_s", coldPassS, "s"),
      ("wall_s", wallS, "s"),
      ("input_mb_s", perPass(a => a.input / 1e6) / wallS, "MB/s"),
      ("cpu_s", perPass(a => a.cpuNs / 1e9), "s"),
      ("task_s", perPass(a => a.runMs / 1e3), "s"),
      ("shuffle_mb", perPass(a => a.shuffleWrite / 1e6), "MB"),
      ("peak_heap_mb", heap.peakBytes / 1e6, "MB"))

    // per-layer view: generic layers every workload has, then the pcap
    // layer passes; per-query and per-artifact detail go to the table
    val tracedPasses = passes.filter(_.traced).toSeq
    val perLayer = if (!tracer.enabled) Nil else Seq(
      ("setup.session_s", tracer.seconds("setup.session").sum, "s"),
      ("setup.extensions_s", tracer.seconds("setup.extensions").sum, "s"),
      ("query.first_s", firstQueryS, "s"),
      ("query.first_plan_s", tracer.seconds(s"query.${wl.queries.head.name}.plan").head, "s"),
      ("query.plan_s", median(tracedPasses.map(_.planNs / 1e9)), "s"),
      ("query.execute_s", median(tracedPasses.map(_.executeNs / 1e9)), "s"),
      ("spark.gc_s", median(measured.map(_.gcNs / 1e9)), "s"),
      ("spark.tasks", perPass(a => a.tasks.toDouble), "count"),
      ("spark.spill_mb", perPass(a => a.spill / 1e6), "MB"),
      ("trace.overhead_s", median(tracedPasses.map(_.wallNs / 1e9)) - wallS, "s")) ++ layerMetrics

    val detail = if (!tracer.enabled) Nil else {
      val queries = wl.queries.flatMap { q =>
        Seq(
          (s"query.${q.name}.wall_s", queryWall(q.name), "s"),
          (s"query.${q.name}.plan_s", median(tracer.seconds(s"query.${q.name}.plan")), "s"),
          (s"query.${q.name}.cpu_s", perQuery(q.name, a => a.cpuNs / 1e9), "s"),
          (s"query.${q.name}.shuffle_mb", perQuery(q.name, a => a.shuffleWrite / 1e6), "MB"))
      }
      val prep = tracer.all.filter(_.name.startsWith("prep.")).map(s => (s.name + "_s", s.nanos / 1e9, "s"))
      queries ++ prep
    }

    if (tracer.enabled) {
      val dir = work.resolve("trace")
      Files.createDirectories(dir)
      tracer.writeSpans(dir.resolve("spans.jsonl"))
      val table = tracer.selfTimes
      val rootNs = root.fold(0L)(_.nanos)
      val lines = f"${"span"}%-48s ${"count"}%6s ${"total_s"}%10s ${"self_s"}%10s" +:
        table.map { case (n, c, t, s) => f"$n%-48s $c%6d ${t / 1e9}%10.4f ${s / 1e9}%10.4f" } :+
        f"${"sum of self times"}%-48s ${""}%6s ${""}%10s ${table.map(_._4).sum / 1e9}%10.4f" :+
        f"${"traced wall (root span)"}%-48s ${""}%6s ${rootNs / 1e9}%10.4f"
      Files.write(dir.resolve("selftime.txt"), lines.asJava)
    }

    def metricJson(ms: Seq[(String, Double, String)]): String =
      Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "quiesce_s" -> Json.num(quiesceS),
      "pass_walls_s" -> Json.arr(passes.toSeq.map(p => Json.num(p.wallNs / 1e9))),
      "end_to_end" -> metricJson(endToEnd),
      "per_layer" -> metricJson(perLayer),
      "detail" -> metricJson(detail)))
    Files.writeString(Paths.get(args("out")), result)
    spark.stop()
  }
}
