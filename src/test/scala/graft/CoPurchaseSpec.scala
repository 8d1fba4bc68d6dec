package graft

import graft.queries.GraphQueries

/** The persisted supplier co-purchase table `(s1, s2, shared)` of the
  * graph artifact, and its two readers, gr_triangles and gr_link_predict. */
class CoPurchaseSpec extends SparkSpec {

  private val sf001 = sfDir.stripSuffix("sf0.001") + "sf0.01"

  test("the co-purchase table counts each supplier pair's shared customers, at sf0.001 and sf0.01") {
    for (dir <- Seq(sfDir, sf001)) {
      val pairs = GraphQueries.pairs(spark, dir).collect()
        .map(r => (r.getAs[Long]("supp") - 1000000L, r.getAs[Long]("cust")))
      val truth = pairs.groupBy(_._2).values.toSeq
        .flatMap { ps =>
          val ss = ps.map(_._1).distinct.sorted
          for (i <- ss.indices; j <- i + 1 until ss.length) yield (ss(i), ss(j))
        }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val table = GraphQueries.coPurchase(spark, dir).collect()
        .map(r => (r.getAs[Long]("s1"), r.getAs[Long]("s2")) -> r.getAs[Long]("shared"))
      assert(truth.nonEmpty, dir)
      assert(table.length === truth.size, s"$dir: one row per pair")
      assert(table.toMap === truth, dir)
    }
  }

  test("gr_triangles and gr_link_predict each write under 0.05 MB of shuffle at sf0.01") {
    val sc = spark.sparkContext
    // the artifact build is not part of either query's run
    GraphQueries.prepare(spark, sf001)
    val metrics = new StageMetricsListener
    sc.addSparkListener(metrics)
    try for (name <- Seq("gr_triangles", "gr_link_predict")) {
      val q = SparkEntry.registry.find(_.name == name).get
      val group = s"copurchase-spec-$name"
      val ran = Runner.run(spark, q, sf001, Runner.noop, group)
      assert(ran.isRight, s"$name failed: $ran")
      Runner.drain(sc)
      val mb = metrics.total(group)(_.shuffleWriteBytes) / 1e6
      assert(mb < 0.05, f"$name wrote $mb%.3f MB of shuffle")
    } finally sc.removeSparkListener(metrics)
  }
}
