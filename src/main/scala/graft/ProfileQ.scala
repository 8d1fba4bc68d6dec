package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool (optimization rounds): wall time, task time and per-STAGE
  * attribution for each named query. Prints, for each completed stage of
  * an isolated run after a warm run: task count, summed executor run time,
  * GC time, records/bytes read and written, shuffle read/write, and the
  * first line of the stage's call-site name. Also writes the measured
  * run's `.explain("formatted")` to `<out>/<name><suffix>.txt`, so the
  * before/after plan pairs under `plans/rN/` come from the exact code
  * measured. Session confs for an experiment are JVM system properties,
  * which `SparkConf` loads: `sbt 'set run / javaOptions += "-Dspark.k=v"'`
  * (the keys [[GraftSession]] sets itself keep its values).
  * Usage: runMain graft.ProfileQ <query-name>... [-sf <dir>]
  *   [-out <dir> (default target/plans)] [-suffix <s>] */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val dir = opt("-sf").getOrElse("/root/testdata/sf0.1")
    val out = java.nio.file.Paths.get(opt("-out").getOrElse("target/plans"))
    val suffix = opt("-suffix").getOrElse("")
    // positional parse (ADVICE r12): drop each flag and its value by INDEX —
    // a value-based filter silently drops a query whose name happens to
    // equal a flag's value
    val flags = Set("-sf", "-out", "-suffix")
    val names = args.indices
      .filter(i => !flags(args(i)) && !(i > 0 && flags(args(i - 1))))
      .map(args(_))
    names.filterNot(n => SparkEntry.registry.exists(_.name == n))
      .foreach(n => System.err.println(s"[profile] unknown query: $n"))
    val spark = GraftSession()

    final case class StageRow(id: Int, name: String, tasks: Int,
      runMs: Long, gcMs: Long, recIn: Long, recShufR: Long, recShufW: Long,
      shufRMb: Double, shufWMb: Double)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo; val m = si.taskMetrics
        if (m != null) stages.synchronized {
          stages += StageRow(si.stageId, si.name.linesIterator.next(),
            si.numTasks, m.executorRunTime, m.jvmGCTime,
            m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
      }
    })

    // artifacts out of the way so stages measure the operator (Bench shape)
    try SparkEntry.prepareArtifacts(spark, dir)
    catch { case e: Throwable =>
      System.err.println(s"[profile] artifact prep failed: ${e.getMessage}") }

    for (name <- names; q <- SparkEntry.registry.find(_.name == name)) {
      // warm run (fills codegen caches), then the measured run
      spark.catalog.clearCache()
      try q.fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[profile] $name warm failed: ${e.getMessage}") }
      spark.catalog.clearCache()
      stages.synchronized(stages.clear())
      val df = q.fn(spark, dir)
      try {
        java.nio.file.Files.createDirectories(out)
        java.nio.file.Files.writeString(out.resolve(s"$name$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name explain failed: ${e.getMessage}") }
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus by polling for a stable snapshot (ADVICE
      // r12: a fixed sleep silently undercounts stages on a loaded host)
      var prev = -1
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 15000) {
        Thread.sleep(250); waited += 250
        val cur = stages.synchronized(stages.size)
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      val rows = stages.synchronized(stages.sortBy(-_.runMs).toVector)
      println(f"PROFILE $name wall=$wall%.2f s stages=${rows.size} " +
        f"taskTime=${rows.map(_.runMs).sum / 1e3}%.1f s gc=${rows.map(_.gcMs).sum / 1e3}%.1f s")
      rows.take(30).foreach { r =>
        println(f"  stage ${r.id}%4d run=${r.runMs / 1e3}%7.2fs gc=${r.gcMs / 1e3}%5.2fs " +
          f"tasks=${r.tasks}%3d in=${r.recIn}%9d shufR=${r.recShufR}%9d/${r.shufRMb}%7.1fMB " +
          f"shufW=${r.recShufW}%9d/${r.shufWMb}%7.1fMB  ${r.name.take(70)}")
      }
    }
    spark.stop()
  }
}
