package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.GraftQuery

/** [[Runner]]'s run step and drain, and the line [[Bench]] prints. */
class RunnerSpec extends SparkSpec {

  private val shuffled = GraftQuery("runner_spec_shuffle",
    (s, _) => s.range(0, 4000000, 1, 4).selectExpr("id % 1000 AS k").groupBy("k").count())

  test("a drained group carries its shuffle bytes and task time, 20 runs in a row") {
    val metrics = new StageMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    try (1 to 20).foreach { i =>
      val g = s"runner-spec-drain-$i"
      assert(Runner.run(spark, shuffled, sfDir, Runner.noop, g).isRight)
      Runner.drain(spark.sparkContext)
      // the map side writes the shuffle, the last stage to finish reads it
      assert(metrics.total(g)(_.shuffleWriteBytes) > 0, s"run $i: no shuffle write")
      assert(metrics.total(g)(_.shuffleReadBytes) > 0, s"run $i: no shuffle read")
      assert(metrics.total(g)(_.runMs) > 0, s"run $i: no task time")
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("a failing query returns its failure and the next query runs in its own group") {
    val metrics = new StageMetricsListener
    val sc = spark.sparkContext
    sc.addSparkListener(metrics)
    val q01 = SparkEntry.registry.find(_.name == "q01_agg_sum").get
    try {
      val missing = Runner.run(spark, q01, "/nonexistent/graft-runner-spec", Runner.noop,
        "runner-spec-missing")
      assert(missing.isLeft)
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
      val ok = Runner.run(spark, q01, sfDir, Runner.noop, "runner-spec-next")
      assert(ok.exists(_ > 0), ok)
      Runner.drain(sc)
      val next = metrics.stages("runner-spec-next")
      assert(next.nonEmpty)
      assert(metrics.jobs("runner-spec-next") > 0)
      val failedIds = metrics.stages("runner-spec-missing").map(_.id).toSet
      assert(next.forall(r => !failedIds(r.id)))
    } finally sc.removeSparkListener(metrics)
  }

  test("stages are named by their operators, not by the AQE future's call site") {
    val metrics = new StageMetricsListener
    val sc = spark.sparkContext
    sc.addSparkListener(metrics)
    val q40 = SparkEntry.registry.find(_.name == "q40_window_distribution").get
    try {
      assert(Runner.run(spark, q40, sfDir, Runner.noop, "runner-spec-names").isRight)
      Runner.drain(sc)
      val rows = metrics.stages("runner-spec-names")
      assert(rows.nonEmpty)
      rows.foreach(r => assert(!r.name.contains("CompletableFuture"), r.name))
      assert(rows.exists(_.name.contains("Exchange")), rows.map(_.name))
    } finally sc.removeSparkListener(metrics)
  }

  private val names = SparkEntry.registry.map(_.name)
  // as long as Bench's default sf dir
  private val sf = "/data/testdata/sf0.1"
  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("Bench's line carries every q* name, task_s, prep and failed for the full registry") {
    val line = Bench.line(names, names.map(_ -> 999.9).toMap, 999.9, 999.9, 999.9, 999.9, sf)
    assert(line.length <= 1940, s"${line.length} bytes")
    val j = parse(line)
    val qs = j.get("queries")
    assert(qs != null, line)
    names.filter(_.startsWith("q")).foreach(n => assert(qs.has(n), n))
    assert(j.get("task_s").asDouble() == 999.9)
    assert(j.get("prep").size() == 2)
    assert(j.get("failed").isArray && j.get("failed").size() == 0)
  }

  test("with 40 failed queries Bench's line still parses and keeps every failed name") {
    val failed = names.filterNot(_.startsWith("q")).take(40).toSet
    val times = names.map(n => n -> (if (failed(n)) -1.0 else 999.9)).toMap
    val line = Bench.line(names, times, 999.9, 999.9, 999.9, 999.9, sf)
    assert(line.length <= 1940, s"${line.length} bytes")
    val listed = parse(line).get("failed")
    assert(listed != null, line)
    assert(listed.elements().asScala.map(_.asText()).toSet == failed)
  }
}
