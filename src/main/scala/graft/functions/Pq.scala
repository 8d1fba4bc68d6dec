package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", IEEE TPAMI 2011): the embedding space is split into
  * `m` subspaces, each quantized by its own small k-means codebook, so a
  * vector compresses to `m` small codes (here 8 codes over 64 dims — an
  * 8-byte fingerprint instead of 256 bytes of floats, 32× less state to
  * scan).
  *
  * The 100 TB story: candidate scanning touches ONLY the code column and
  * a broadcast codebook; full vectors are read once at encode time and
  * again only for the final exact rerank of a small candidate set. Search
  * is two-stage and fully plan-side: approximate scores are asymmetric-
  * distance (ADC) table lookups — per-query `m × k` dot tables precomputed
  * broadcast-side, scored by the codegen'd [[PqAdcScore]] at `2m` adds per
  * candidate — then the top `rerank` candidates join back to true
  * embeddings for exact cosine.
  */
object Pq {

  final case class Codebook(m: Int, dsub: Int, centroids: Array[Array[Array[Double]]])

  /** Fit one k-means per subspace. Codebook training never needs the full
    * corpus — [[KMeans.sample]] (the corpus up to `fitSample` rows, else a
    * systematic `vec_id % stride = 0` slice of at most that many) bounds
    * the fit cost independently of corpus size, which is the only viable
    * shape at 100 TB. The sample is collected once and all `m` subspaces
    * fit from it on the driver (subspace `j` seeded with `seed + j`), so
    * the whole codebook costs a few small jobs. */
  def fit(spark: SparkSession, emb: DataFrame, m: Int = 8, k: Int = 16,
      seed: Long = 42L, fitSample: Long = 100000L): Codebook = {
    val sample = KMeans.sample(emb, fitSample)
    require(sample.dim % m == 0, s"dim ${sample.dim} not divisible by m=$m")
    val dsub = sample.dim / m
    Codebook(m, dsub, Array.tabulate(m)(j =>
      KMeans.fit(sample, k, seed + j, off = j * dsub, d = dsub)))
  }

  /** Tag every row with its `m` codes. Per-partition batch encode against
    * the broadcast codebook (the [[graft.multimodal.Media]] pattern: the
    * shared lookup state is the point of mapPartitions here; a per-row
    * expression would re-materialize the codebook per call). */
  def encode(emb: DataFrame, cb: Codebook): DataFrame = {
    val spark = emb.sparkSession
    val bcb = spark.sparkContext.broadcast(cb)
    val schema = StructType(emb.schema.fields :+
      StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    emb.mapPartitions { it =>
      val c = bcb.value
      it.map { row =>
        val e = row.getAs[scala.collection.Seq[Float]]("embedding")
        val codes = new Array[Int](c.m)
        var j = 0
        while (j < c.m) {
          var best = 0
          var bestD = Double.MaxValue
          val cents = c.centroids(j)
          var ci = 0
          while (ci < cents.length) {
            var d = 0.0
            var i = 0
            while (i < c.dsub) {
              val diff = e(j * c.dsub + i) - cents(ci)(i)
              d += diff * diff
              i += 1
            }
            if (d < bestD) { bestD = d; best = ci }
            ci += 1
          }
          codes(j) = best
          j += 1
        }
        Row.fromSeq(row.toSeq :+ codes.toSeq)
      }
    }(encoder)
  }

  /** The codegen'd [[PqAdcScore]] table-scoring expression, resolved by
    * name at analysis (a Column can't wrap a custom Expression directly);
    * [[graft.GraftExtensions.functions]] declares it. */
  private def adc(codes: org.apache.spark.sql.Column, lut: org.apache.spark.sql.Column) =
    call_function("pq_adc_score", codes, lut)

  /** Per-query ADC dot lookup table (Jégou TPAMI 2011 §IV.A), computed on
    * the BROADCAST side — one `m × k` table per query row, so the corpus
    * scan pays `m` table adds per candidate instead of reconstructing and
    * re-dotting a dim-length vector: `lut[j][c] = <centroid_{j,c}, q_j>`.
    * References `col("qe")`; evaluate it as a column on the queries frame
    * BEFORE the broadcast join. */
  private[graft] def lutDotCol(cb: Codebook) =
    array((0 until cb.m).map { j =>
      val cents = typedlit(cb.centroids(j).map(_.toSeq).toSeq)
      transform(cents, c =>
        Vectors.dot(c, slice(col("qe"), j * cb.dsub + 1, cb.dsub).cast("array<double>")))
    }: _*)

  /** Query-independent squared-norm table (a plan literal):
    * `lut[j][c] = |centroid_{j,c}|²`, so the reconstruction's norm for the
    * cosine denominator is another `m` table adds. */
  private def normLutLit(cb: Codebook) =
    typedlit(cb.centroids.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq)

  /** ADC approximate cosine of a candidate's codes against the
    * pre-computed per-query tables: `2m` table reads + adds per row, all
    * inside whole-stage codegen via [[PqAdcScore]]. Numerically this is the
    * reconstruction cosine with subspace-grouped summation (fp association
    * differs from the flat fold by ≤1 ulp per add; SimilaritySpec pins the
    * two within 1e-9 and asserts identical candidate selection). */
  private[graft] def adcCosCol(cb: Codebook) =
    adc(col("codes"), col("lut_dot")) /
      (sqrt(adc(col("codes"), normLutLit(cb))) * col("qnorm"))

  /** Reconstruction-scoring reference path (codebook literals +
    * `element_at` concat): used ONLY by SimilaritySpec to pin the ADC
    * scores; the search plans score via [[adcCosCol]]. */
  private[graft] def reconstructionCos(cb: Codebook) = {
    val parts = (0 until cb.m).map { j =>
      val lit = typedlit(cb.centroids(j).map(_.toSeq).toSeq)
      element_at(lit, element_at(col("codes"), j + 1) + 1)
    }
    Vectors.cosine(concat(parts: _*).cast("array<double>"), col("qe"))
  }

  /** IVF-PQ (the composition actually deployed at 100 TB scale: coarse
    * cells bound the candidate set sub-linearly, codes bound the bytes
    * scanned per candidate): probe the nProbe nearest cells per query,
    * approximate-score ONLY those cells' codes, exact-rerank the top
    * `rerank`. One plan; centroids and probes broadcast. */
  def searchIvfPq(
      encodedWithCell: DataFrame, // Ivf.build().assigned + Pq.encode codes
      cb: Codebook,
      index: Ivf.Index,
      queries: DataFrame, // (query_id, qe)
      topK: Int,
      nProbe: Int,
      rerank: Int = 50): DataFrame = {
    val spark = encodedWithCell.sparkSession
    import spark.implicits._
    val cents = index.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
    val wq = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))
    // ADC tables are computed ONCE per (query, probed cell) on the
    // broadcast side; the probe frame carries (lut_dot, qnorm) instead of
    // the raw query vector
    val probes = queries
      .select(col("query_id"), col("qe"),
        lutDotCol(cb).as("lut_dot"), Vectors.norm(col("qe")).as("qnorm"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", Vectors.cosine(col("qe"), col("centroid")))
      .withColumn("prnk", row_number().over(wq))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("cell"), col("lut_dot"), col("qnorm"))
    // approx_cos is computed MAP-SIDE from the codes (2m table adds via the
    // codegen'd pq_adc_score); only the skinny (query_id, vec_id,
    // approx_cos) triple shuffles through the ranking window — neither
    // embeddings nor reconstructions move
    val scored = encodedWithCell.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"), adcCosCol(cb).as("approx_cos"))
    rerankExact(scored, encodedWithCell, queries, topK, rerank)
  }

  /** Shared tail: rank approx scores, fetch true embeddings for the tiny
    * candidate set only, exact-cosine rerank. */
  private def rerankExact(
      scored: DataFrame, // (query_id, vec_id, approx_cos)
      corpus: DataFrame, // has (vec_id, label, embedding)
      queries: DataFrame,
      topK: Int,
      rerank: Int): DataFrame = {
    val wa = Window.partitionBy(col("query_id")).orderBy(col("approx_cos").desc, col("vec_id"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("arnk", row_number().over(wa))
      .filter(col("arnk") <= rerank)
      .select(col("query_id"), col("vec_id"))
      .join(corpus.select(col("vec_id"), col("label"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        Vectors.cosine(col("embedding"), col("qe")).as("cosine"))
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Two-stage batch search: ADC approximate scores over codes only
    * ([[PqAdcScore]] against broadcast per-query tables), exact cosine
    * rerank of the top `rerank` per query. One plan, queries broadcast, no
    * driver loop. */
  def searchBatch(
      encoded: DataFrame,
      cb: Codebook,
      queries: DataFrame, // (query_id, qe)
      topK: Int,
      rerank: Int = 50): DataFrame = {
    // map-side ADC scoring from the codes (pq_adc_score against the
    // broadcast per-query tables); only (query_id, vec_id, approx_cos)
    // shuffles — see rerankExact
    val qprep = queries.select(col("query_id"),
      lutDotCol(cb).as("lut_dot"), Vectors.norm(col("qe")).as("qnorm"))
    val scored = encoded
      .crossJoin(broadcast(qprep))
      .select(col("query_id"), col("vec_id"), adcCosCol(cb).as("approx_cos"))
    rerankExact(scored, encoded, queries, topK, rerank)
  }

  /** Range (radius) search over codes: the ADC approximate score
    * prefilters candidates at `minCosine − margin` (codes-only scan, the
    * memory-bound shape), then the exact cosine applies the true radius.
    * The margin covers the ADC quantization error so recall near the
    * boundary stays high while the candidate set stays score-bounded —
    * the retrieval-by-threshold counterpart of [[searchBatch]]'s top-k.
    * Both thresshold decisions replay bit-exactly in the generated oracle
    * ([[graft.queries.AnnOracles.pqRangeSql]]). */
  def rangeSearch(
      encoded: DataFrame,
      cb: Codebook,
      queries: DataFrame, // (query_id, qe)
      minCosine: Double,
      margin: Double): DataFrame = {
    val qprep = queries.select(col("query_id"),
      lutDotCol(cb).as("lut_dot"), Vectors.norm(col("qe")).as("qnorm"))
    encoded
      .crossJoin(broadcast(qprep))
      .select(col("query_id"), col("vec_id"), col("label"), col("embedding"),
        adcCosCol(cb).as("approx_cos"))
      .filter(col("approx_cos") >= lit(minCosine - margin))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        Vectors.cosine(col("embedding"), col("qe")).as("cosine"))
      .filter(col("cosine") >= lit(minCosine))
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** Persist a fitted PQ index as catalog tables (the [[Ivf.persist]]
    * shape): `<name>_codebook` holds the (tiny) flattened centroid table,
    * `<name>_codes` the encoded corpus — bucketed by `cell` when present
    * (IVF-PQ: probe joins co-locate) else by `vec_id` (the rerank join
    * key). At 100 TB fit+encode is a one-off batch job; every later
    * session searches with ZERO k-means jobs via [[loadIndex]]. */
  def persist(cb: Codebook, encoded: DataFrame, name: String, buckets: Int = 16): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val rows = for {
      j <- cb.centroids.indices
      c <- cb.centroids(j).indices
    } yield (j, c, cb.centroids(j)(c).toSeq)
    rows.toDF("subspace", "code", "centroid")
      .write.mode("overwrite").saveAsTable(s"${name}_codebook")
    val key = if (encoded.columns.contains("cell")) "cell" else "vec_id"
    encoded.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(s"${name}_codes")
  }

  /** Persist a complete IVF-PQ index WITHOUT corpus duplication: the tiny
    * centroid table (the [[Ivf.persist]] shape) plus the codebook and ONE
    * bucketed corpus table that carries cell AND codes (the frame from
    * `Pq.encode(index.assigned)`). Calling [[Ivf.persist]] + [[persist]]
    * separately would store the corpus twice. */
  def persistIvfPq(index: Ivf.Index, cb: Codebook, encodedWithCell: DataFrame,
      name: String, buckets: Int = 16): Unit = {
    val spark = encodedWithCell.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").saveAsTable(s"${name}_centroids")
    persist(cb, encodedWithCell, name, buckets)
  }

  /** Load a combined IVF-PQ index: centroids + codebook are small
    * collects; the single bucketed corpus table serves both the
    * cell-probe join and the exact rerank. Zero k-means jobs. */
  def loadIvfPq(spark: SparkSession, name: String): (Ivf.Index, Codebook, DataFrame) = {
    val (cb, codes) = loadIndex(spark, name)
    val cents = spark.table(s"${name}_centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    (Ivf.Index(cents, codes), cb, codes)
  }

  /** Load a persisted PQ index; no k-means fit happens here — the codebook
    * is a small collect, the codes stay a lazy (bucketed) table scan. */
  def loadIndex(spark: SparkSession, name: String): (Codebook, DataFrame) = {
    val rows = spark.table(s"${name}_codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val centroids = Array.tabulate(m) { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
    val dsub = centroids(0)(0).length
    (Codebook(m, dsub, centroids), spark.table(s"${name}_codes"))
  }
}
