package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer partitions the vector space into cells; a query probes only
  * the `nProbe` nearest cells and runs exact cosine inside them.
  *
  * The Spark-scale story: cell assignment is one `transform` pass,
  * vectors can be written partitioned-by-cell, and a probe touches
  * `nProbe / k` of the data — the IVF counterpart to the LSH bucket path
  * in [[Vectors.lshBucket]]. `nProbe = k` degenerates to exact brute
  * force (used by the spec as the correctness anchor).
  */
object Ivf {

  final case class Index(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Fit the coarse quantizer and tag every row with its cell id. The
    * k-means fit never needs the full corpus: it runs on the driver over
    * [[KMeans.sample]] (the corpus up to `fitSample` rows, else a
    * systematic `vec_id % stride = 0` slice of at most that many — the
    * sample [[Pq.fit]] draws), so the fit costs a few small jobs whatever
    * the corpus size and does not depend on its partitioning; cell
    * ASSIGNMENT is a single codegen'd [[cellCol]] pass. */
  def build(spark: SparkSession, emb: DataFrame, k: Int, seed: Long = 42L,
      fitSample: Long = 100000L): Index =
    fromCentroids(KMeans.fit(KMeans.sample(emb, fitSample), k, seed), emb)

  /** Re-attach already-fitted centroids to a corpus frame: assignment is
    * the same codegen'd [[cellCol]] pass, no fit job runs. */
  def fromCentroids(centroids: Array[Array[Double]], emb: DataFrame): Index =
    Index(centroids, emb.withColumn("cell", cellCol(centroids, col("embedding"))))

  /** |c|² with the same index-order left fold [[VectorDot]] accumulates, so
    * a value computed here and one computed plan-side are bit-identical. */
  private[graft] def norm2(c: Array[Double]): Double =
    c.foldLeft(0.0)((acc, x) => acc + x * x)

  /** Deterministic nearest-centroid assignment as a plan expression over
    * centroid LITERALS: argmin over `|c_i|² − 2·⟨e, c_i⟩` (the `|e|²` term
    * is cell-invariant and dropped), ties to the lowest cell id via the
    * lexicographic `(score, cell)` struct min. Replaces Spark ML's
    * `model.transform` — whose `fastSquaredDistance` takes
    * precision-dependent branches a SQL oracle cannot reproduce — with an
    * IEEE op sequence a DuckDB oracle mirrors exactly
    * ([[graft.queries.AnnOracles]]); it is also codegen-friendly (no
    * array_to_vector + predict UDF on the full-corpus pass). */
  private[graft] def cellCol(centroids: Array[Array[Double]],
      emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scored = centroids.toSeq.zipWithIndex.map { case (c, i) =>
      val score = lit(norm2(c)) - lit(2.0) * Vectors.dot(emb, typedlit(c.toSeq))
      struct(score.as("s"), lit(i).as("c"))
    }
    array_min(array(scored: _*)).getField("c")
  }

  /** Top-k by cosine probing the nProbe nearest cells to `query`: a
    * one-row batch through [[searchBatch]]'s single probe-join plan — the
    * probe-cell ranking happens plan-side against the broadcast centroid
    * table, not on the driver. */
  def search(
      index: Index,
      query: Array[Float],
      topK: Int,
      nProbe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val q = Seq((0L, query)).toDF("query_id", "qe")
    searchBatch(index, q, topK, nProbe).select($"vec_id", $"label", $"cosine")
  }

  /** The per-query probe frame shared by [[searchBatch]] and
    * [[rangeSearch]]: probe cells ranked plan-side against the broadcast
    * centroid table, the query vector carried along. */
  private def probeFrame(index: Index, queries: DataFrame, nProbe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cents = index.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
    val wq = Window.partitionBy($"query_id").orderBy($"ccos".desc, $"cell")
    queries.crossJoin(broadcast(cents))
      .withColumn("ccos", Vectors.cosine($"qe", $"centroid"))
      .withColumn("prnk", row_number().over(wq))
      .filter($"prnk" <= nProbe)
      .select($"query_id", $"qe", $"cell")
  }

  /** Batch search: a DataFrame of queries `(query_id, qe)` answered in ONE
    * plan — per-query probe cells come from a broadcast cross join against
    * the (tiny) centroid table, candidates from a broadcast probe-to-cell
    * join against the assigned corpus, per-query top-k from a window. No
    * driver-side loop or collect: wall-clock is one pass over the probed
    * cells regardless of query count. */
  def searchBatch(
      index: Index,
      queries: DataFrame,
      topK: Int,
      nProbe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    // cosine = dot ÷ (enorm · qnorm) with both norms HOISTED: the query
    // norm evaluates once per probe row and the corpus norm once per
    // candidate row — the same IEEE value sequence as the inline
    // dot/(√dot·√dot) form (identical expression trees per value), so
    // every generated oracle still matches, while the scan stops paying
    // THREE unrolled 64-dim dots per candidate pair.
    index.assigned.withColumn("en", Vectors.norm($"embedding"))
      .join(broadcast(probeFrame(index, queries, nProbe)
        .withColumn("qn", Vectors.norm($"qe"))), Seq("cell"))
      .select($"query_id", $"vec_id", $"label",
        (Vectors.dot($"embedding", $"qe") / ($"en" * $"qn")).as("cosine"))
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter($"rnk" <= topK)
      .select($"query_id", $"rnk", $"vec_id", $"label", $"cosine")
      .orderBy($"query_id", $"rnk")
  }

  /** Range (radius) search: every corpus vector in the probed cells whose
    * cosine to the query meets `minCosine` — the threshold counterpart of
    * [[searchBatch]] (same probe plan, a filter instead of a ranking
    * window, so nothing shuffles after the candidate join). */
  def rangeSearch(
      index: Index,
      queries: DataFrame,
      minCosine: Double,
      nProbe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    // same hoisted-norm cosine as searchBatch (bit-identical to inline)
    index.assigned.withColumn("en", Vectors.norm($"embedding"))
      .join(broadcast(probeFrame(index, queries, nProbe)
        .withColumn("qn", Vectors.norm($"qe"))), Seq("cell"))
      .select($"query_id", $"vec_id", $"label",
        (Vectors.dot($"embedding", $"qe") / ($"en" * $"qn")).as("cosine"))
      .filter($"cosine" >= minCosine)
      .orderBy($"query_id", $"cosine".desc, $"vec_id")
  }

  /** Persist the index as catalog tables: the (tiny) centroid table plus
    * the cell-assigned corpus bucketed by cell, so later sessions search
    * without re-fitting k-means and cell-key joins co-locate. At 100 TB
    * the fit is a one-off batch job; every query afterwards loads the
    * index metadata only. */
  def persist(index: Index, name: String, buckets: Int = 16): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").saveAsTable(s"${name}_centroids")
    index.assigned
      .write.mode("overwrite")
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(s"${name}_assigned")
  }

  /** Load a persisted index; no k-means fit happens here — centroids are
    * a small collect, assignments stay a lazy (bucketed) table scan. */
  def loadIndex(spark: SparkSession, name: String): Index = {
    val cents = spark.table(s"${name}_centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    Index(cents, spark.table(s"${name}_assigned"))
  }
}
