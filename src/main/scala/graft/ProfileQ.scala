package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Dev tool (optimization rounds): wall time, task time and per-STAGE
  * attribution for each named query. Prints, for each completed stage of
  * an isolated run after a warm run: task count, summed executor run time,
  * GC time, records/bytes read and written, shuffle read/write, and the
  * operation scopes of the stage's RDDs; the PROFILE line also carries
  * the classes the warm run compiled (`codegen=`). A PREP line first
  * profiles the artifact build the same way (wall, task time, shuffle
  * write and the top stages of the `artifact_prep` group). The warm run
  * also writes its `.explain("formatted")` (the plan before execution,
  * which the measured run, built by the same code, starts from) to
  * `<out>/<name><suffix>.txt`, so the before/after plan pairs under
  * `plans/rN/` come from the exact code measured. Session confs for an
  * experiment are JVM system properties, which `SparkConf` loads:
  * `sbt 'set run / javaOptions += "-Dspark.k=v"'` (the keys
  * [[GraftSession]] sets itself keep its values).
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
    val metrics = new StageMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // artifacts out of the way so stages measure the operator (Bench shape);
    // the PREP line profiles their build, the `artifact_prep` group
    val prepWall = Runner.prepare(spark, dir, "profile")
    Runner.drain(spark.sparkContext)
    report(f"PREP wall=$prepWall%.2f s", metrics.stages("artifact_prep"))

    for (name <- names.distinct; q <- SparkEntry.registry.find(_.name == name)) {
      // warm run (fills codegen caches), which also writes its plan, then
      // the measured run under the query's own job group
      val planned: Runner.Sink = { df =>
        try {
          java.nio.file.Files.createDirectories(out)
          java.nio.file.Files.writeString(out.resolve(s"$name$suffix.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        } catch { case e: Throwable =>
          System.err.println(s"[profile] $name explain failed: ${e.getMessage}") }
        Runner.noop(df)
      }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Runner.run(spark, q, dir, planned, "warmup").left.foreach(e =>
        System.err.println(s"[profile] $name warm failed: ${e.getMessage}"))
      val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      Runner.run(spark, q, dir, Runner.noop, name) match {
        case Left(e) => System.err.println(s"[profile] $name failed: ${e.getMessage}")
        case Right(wall) =>
          Runner.drain(spark.sparkContext)
          report(f"PROFILE $name wall=$wall%.2f s", metrics.stages(name), s" codegen=$codegen")
      }
    }
    spark.stop()
  }

  /** One summary line (`head`, stage count, task, GC and shuffle-write
    * totals, `tail`), then the 30 stages with the most task time. */
  private def report(head: String, stages: Seq[StageRow], tail: String = ""): Unit = {
    val rows = stages.sortBy(-_.runMs)
    println(f"$head stages=${rows.size} " +
      f"taskTime=${rows.map(_.runMs).sum / 1e3}%.1f s gc=${rows.map(_.gcMs).sum / 1e3}%.1f s " +
      f"shufW=${rows.map(_.shuffleWriteBytes).sum / 1e6}%.3f MB" + tail)
    rows.take(30).foreach { r =>
      println(f"  stage ${r.id}%4d run=${r.runMs / 1e3}%7.2fs gc=${r.gcMs / 1e3}%5.2fs " +
        f"tasks=${r.tasks}%3d in=${r.recordsIn}%9d " +
        f"shufR=${r.shuffleReadRecords}%9d/${r.shuffleReadBytes / 1e6}%7.1fMB " +
        f"shufW=${r.shuffleWriteRecords}%9d/${r.shuffleWriteBytes / 1e6}%7.1fMB  ${r.name.take(70)}")
    }
  }
}
