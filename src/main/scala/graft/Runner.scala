package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.GraftQuery

/** How [[Bench]], [[ProfileQ]] and [[Verify]] run and measure registry
  * queries: one run step, artifact prep, query selection and the
  * listener-bus drain. */
object Runner {
  /** Where a run writes its rows. */
  type Sink = DataFrame => Unit

  /** Materialises every row and column and keeps nothing (`count()` alone
    * lets Catalyst drop projected columns). */
  val noop: Sink = _.write.format("noop").mode("overwrite").save()

  /** One parquet file under `path`, for the oracle compare. */
  def parquet(path: String): Sink = _.coalesce(1).write.mode("overwrite").parquet(path)

  /** Builds `q` on `dir` and writes it to `sink` under job group `group`,
    * after clearing the cache so that one query's internal `.cache()`
    * cannot subsidise the next run's subtree. Runs that overlap other
    * queries pass `clearCache = false`: a clear would drop their caches
    * mid-run. Returns the wall seconds of the build and the write, or the
    * failure. */
  def run(spark: SparkSession, q: GraftQuery, dir: String, sink: Sink,
      group: String, clearCache: Boolean = true): Either[Throwable, Double] = {
    val sc = spark.sparkContext
    if (clearCache) spark.catalog.clearCache()
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      sink(q.fn(spark, dir))
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
    finally sc.clearJobGroup()
  }

  /** [[SparkEntry.prepareArtifacts]] under the `artifact_prep` job group;
    * a failure is printed as `[tag] artifact prep failed: …`. Returns the
    * wall seconds. */
  def prepare(spark: SparkSession, dir: String, tag: String): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup("artifact_prep", "artifact_prep", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try SparkEntry.prepareArtifacts(spark, dir)
    catch { case e: Throwable =>
      System.err.println(s"[$tag] artifact prep failed: ${e.getMessage}")
    } finally sc.clearJobGroup()
    (System.nanoTime() - t0) / 1e9
  }

  /** The registry queries whose name starts with one of the
    * comma-separated `prefixes`, in registry order; all of them for None. */
  def select(prefixes: Option[String]): Seq[GraftQuery] = {
    val ps = prefixes.map(_.split(',').toSeq)
    SparkEntry.registry.filter(q => ps.forall(_.exists(q.name.startsWith)))
  }

  /** The job group of [[drain]]'s marker jobs. */
  val drainGroup = "graft-listener-drain"

  /** Returns once every listener added with `addSparkListener` has seen
    * every event posted before the call. Those listeners share one queue,
    * which hands each event to all of them before the next, so a marker
    * job started now is seen by a latch listener on that queue only after
    * all earlier events. The marker starts from a fresh thread, so the
    * caller's job group stays as it is, and carries its own description,
    * so concurrent drains do not release each other. */
  def drain(sc: SparkContext): Unit = {
    val marker = UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val latch = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.job.description") == marker) seen.countDown()
    }
    sc.addSparkListener(latch)
    try {
      val t = new Thread(() => {
        sc.setJobGroup(drainGroup, marker)
        sc.parallelize(Seq(1), 1).count()
      })
      t.start(); t.join()
      if (!seen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not deliver the marker job within 60 s")
    } finally sc.removeSparkListener(latch)
  }
}
