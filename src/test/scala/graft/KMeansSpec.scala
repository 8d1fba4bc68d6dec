package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.{AnnIndexes, Ivf, KMeans, Pq}

/** The in-repo k-means behind every IVF and PQ fit: deterministic whatever
  * the input's partitioning, degenerate inputs handled, ties broken as the
  * assignment paths break them, and a handful of jobs per fit. */
class KMeansSpec extends SparkSpec {

  private def emb = api.Tables.load(spark, sfDir, "embeddings")

  private def same(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.indices.forall(i => java.util.Arrays.equals(a(i), b(i)))

  test("centroids and codebooks are bit-identical for 1 and 7 input partitions") {
    val one = emb.repartition(1)
    val seven = emb.repartition(7)
    assert(seven.rdd.getNumPartitions === 7)
    assert(same(Ivf.build(spark, one, k = 16).centroids,
      Ivf.build(spark, seven, k = 16).centroids))
    val (p1, p7) = (Pq.fit(spark, one), Pq.fit(spark, seven))
    assert(p1.centroids.indices.forall(j => same(p1.centroids(j), p7.centroids(j))))
    // a cap below the row count takes the strided-sample path
    assert(same(Ivf.build(spark, one, k = 8, fitSample = 100).centroids,
      Ivf.build(spark, seven, k = 8, fitSample = 100).centroids))
  }

  test("repeated fits with one seed are identical; another seed moves them") {
    val a = Ivf.build(spark, emb, k = 8, seed = 5L).centroids
    val b = Ivf.build(spark, emb, k = 8, seed = 5L).centroids
    assert(same(a, b))
    assert(!same(a, Ivf.build(spark, emb, k = 8, seed = 6L).centroids))
    val s = KMeans.sample(emb, 100000L)
    assert(same(KMeans.fit(s, 16, 3L, off = 8, d = 8), KMeans.fit(s, 16, 3L, off = 8, d = 8)))
  }

  test("fewer distinct points than k: the distinct points, no NaN, no duplicate") {
    import spark.implicits._
    val pts = Seq(Array(1f, 0f), Array(0f, 1f), Array(-1f, -1f))
    val df = (0 until 30).map(i => (i.toLong, pts(i % 3))).toDF("vec_id", "embedding")
    val cents = Ivf.build(spark, df, k = 8).centroids
    assert(cents.forall(_.forall(x => !x.isNaN)))
    assert(cents.map(_.toSeq).toSet === pts.map(_.map(_.toDouble).toSeq).toSet)
    assert(cents.length === 3)
    val cb = Pq.fit(spark, df, m = 2, k = 16)
    assert(cb.centroids.forall(sub => sub.map(_.toSeq).distinct.length == sub.length &&
      sub.forall(_.forall(x => !x.isNaN))))
  }

  test("ties go to the lowest centroid id") {
    import spark.implicits._
    val s = KMeans.sample(Seq((0L, Array(1f, 1f))).toDF("vec_id", "embedding"), 10L)
    // (1, 1) is 1.0 away (squared) from both (0, 1) and (2, 1)
    assert(KMeans.nearest(s, 0, 0, Array(Array(0.0, 1.0), Array(2.0, 1.0))) === 0)
    assert(KMeans.nearest(s, 0, 0, Array(Array(2.0, 1.0), Array(0.0, 1.0))) === 0)
    assert(KMeans.nearest(s, 0, 0, Array(Array(5.0, 5.0), Array(1.0, 2.0), Array(1.0, 0.0))) === 1)
    // on one coordinate slice: (1) is equidistant from (0) and (2)
    assert(KMeans.nearest(s, 0, 1, Array(Array(9.0), Array(0.0), Array(2.0))) === 1)
  }

  test("the IVF and PQ fits on sf0.001 run at most 4 Spark jobs together") {
    val dir = Files.createTempDirectory("graft-kmeans-jobs")
    Files.copy(Paths.get(sfDir, "embeddings.parquet"), dir.resolve("embeddings.parquet"))
    val group = "kmeans-spec-jobs"
    val rec = new JobRecorder(spark.sparkContext)
    spark.sparkContext.setJobGroup(group, group)
    try {
      AnnIndexes.ivf(spark, dir.toString, k = 16)
      AnnIndexes.pq(spark, dir.toString, m = 8, k = 16)
    } finally spark.sparkContext.clearJobGroup()
    val jobs = rec.jobs().filter(_._2 == group)
    rec.detach()
    assert(jobs.nonEmpty)
    assert(jobs.size <= 4, s"${jobs.size} jobs")
  }
}
