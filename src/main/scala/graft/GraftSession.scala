package graft

import org.apache.spark.sql.SparkSession

import graft.api.Wireduck

/** The one way the engine's mains, tools and tests get a session: local
  * Spark on `SPARK_GRAFT_CPUS` cores (default: every available processor)
  * with as many shuffle partitions, adaptive execution, UTC session time,
  * FAIR scheduling, no UI and a generated-class cache that holds a whole
  * query pass, built with [[GraftExtensions]] and set up
  * once with [[Wireduck.setup]]. Queries never change the session after
  * this: every function, optimizer rule and default they rely on is in
  * place before the first one runs.
  *
  * `confs` carries deployment settings (warehouse dir, Hadoop file
  * systems) on top of the shared ones. */
object GraftSession {
  def apply(confs: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = confs.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      // room for every class a pass of the bench's SQL set generates (about
      // 360): at Spark's default of 100 a repeated pass recompiled nearly
      // all of them; at 384 still 40%; at 448 4%
      .config("spark.sql.codegen.cache.maxEntries", "448")
      .withExtensions(new GraftExtensions)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Wireduck.setup(spark)
    spark
  }
}
