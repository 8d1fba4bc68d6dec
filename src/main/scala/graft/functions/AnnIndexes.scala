package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Artifacts
import graft.api.Tables

/** The fitted ANN index state (IVF centroids, PQ codebooks) and the
  * persisted index tables, fitted once per (session, data dir, params)
  * through [[graft.Artifacts]] so every query and its generated oracle see
  * the same fit.
  */
object AnnIndexes {

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** The IVF index every sim_ann_ivf* query (and its oracle) shares. Only
    * the fitted CENTROIDS are cached (plain arrays — no DataFrame, so the
    * cached value cannot reach back to the session and defeat the weak
    * reference); the cell-assignment plan is rebuilt per call, which is
    * plan construction only — no refit, no job. */
  def ivf(spark: SparkSession, dir: String, k: Int = 16): Ivf.Index = {
    val emb = embeddings(spark, dir)
    val cents = Artifacts.cached(spark, s"ivf:$k", dir)(Ivf.build(spark, emb, k = k).centroids)
    Ivf.fromCentroids(cents, emb)
  }

  /** Corpus-scaled cell count for the SERVING index (VERDICT r8 #6): a
    * FIXED k means cell occupancy — and with it every query's candidate
    * scan — grows linearly with the corpus (at sf1, k=16 meant 1,000
    * arriving queries probed 12.5 M candidate rows). Cells double until
    * average occupancy is ≤ 512, so per-query probe cost stays bounded;
    * starts at 16 so the sf0.01/sf0.1 fits — and every generated oracle —
    * are unchanged (the neardupBits convention). Capped at 4096: past
    * that the per-query centroid ranking starts to dominate and the
    * production answer is a two-level quantizer (IMI), not more flat
    * cells. */
  def servingK(n: Long): Int = {
    var k = 16
    while (n / k > 512 && k < 4096) k *= 2
    k
  }

  /** The serving-path index: the PERSISTED fit at [[servingK]] cells
    * (identical to the k=16 persisted artifact at oracle scale). Persisted
    * matters here beyond the fit: [[ivf]]'s in-memory form re-derives the
    * cell column — an argmin over k unrolled centroid dots PER CORPUS
    * ROW — in every consuming plan, which at servingK(sf1)=128 cells cost
    * more than the probe itself; the catalog table stores the assignment
    * once, cell-bucketed, and serving plans just read it. */
  def servingIvf(spark: SparkSession, dir: String): Ivf.Index =
    ivfPersisted(spark, dir, k = servingCells(spark, dir))

  /** [[servingK]] of the dir's corpus, counted once per (session, dir). */
  private[graft] def servingCells(spark: SparkSession, dir: String): Int =
    Artifacts.cached(spark, "servingk", dir) {
      Int.box(servingK(embeddings(spark, dir).count()))
    }.intValue

  /** The PERSISTED-index path: fit once, write the index as catalog
    * tables ([[Ivf.persist]] — tiny centroid table + cell-bucketed
    * corpus), then answer from [[Ivf.loadIndex]] with NO refit. This is
    * the production shape at 100 TB — the fit is a one-off batch job and
    * every later session loads metadata only. The persist runs once per
    * (session, dir, k) (cache-guarded); the returned Index always comes
    * from the catalog tables, so the query exercises the load path
    * end-to-end. */
  def ivfPersisted(spark: SparkSession, dir: String, k: Int = 16): Ivf.Index =
    Ivf.loadIndex(spark, ivfTables(spark, dir, k))

  /** Write [[ivfPersisted]]'s tables once; returns their base name. Runs no
    * job once they exist. */
  private[graft] def ivfTables(spark: SparkSession, dir: String, k: Int): String =
    Artifacts.table(spark, s"ivf$k", dir, Seq("_centroids", "_assigned")) {
      Ivf.persist(ivf(spark, dir, k), _)
    }

  /** Centroids fitted on the BASE slice only (vec_id % 10 ≠ 7) — the
    * fit that [[graft.queries.SimilarityQueries]]'s index-append query
    * keeps FIXED while later batches are assigned and appended (a
    * production IVF index does not refit per ingest). Shared with the
    * generated oracle so both see identical literals. */
  def ivfBase(spark: SparkSession, dir: String, k: Int = 16): Array[Array[Double]] =
    Artifacts.cached(spark, s"ivfbase:$k", dir) {
      Ivf.build(spark,
        embeddings(spark, dir).filter(org.apache.spark.sql.functions.col("vec_id") % 10 =!= 7),
        k = k).centroids
    }

  /** The persisted IVF-PQ composition: the shared fits written ONCE as
    * three catalog tables (centroids + codebook + one cell-bucketed codes
    * table — no corpus duplication, [[Pq.persistIvfPq]]), every answer
    * served from [[Pq.loadIvfPq]] with zero k-means jobs in the lineage. */
  def ivfPqPersisted(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16)
      : (Ivf.Index, Pq.Codebook, org.apache.spark.sql.DataFrame) =
    Pq.loadIvfPq(spark, ivfPqTables(spark, dir, m, k))

  /** Write [[ivfPqPersisted]]'s tables once; returns their base name. Runs
    * no job once they exist. */
  private[graft] def ivfPqTables(spark: SparkSession, dir: String, m: Int, k: Int): String =
    Artifacts.table(spark, s"ivfpq_${m}_$k", dir, Seq("_centroids", "_codebook", "_codes")) {
      base =>
        val index = ivf(spark, dir, k)
        val cb = pq(spark, dir, m, k)
        Pq.persistIvfPq(index, cb, Pq.encode(index.assigned, cb), base)
    }

  /** The PQ codebook every sim_ann_pq/ivfpq query (and its oracle) shares. */
  def pq(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16): Pq.Codebook =
    Artifacts.cached(spark, s"pq:$m:$k", dir) {
      Pq.fit(spark, embeddings(spark, dir), m = m, k = k)
    }

  /** Persisted int8-quantized corpus — the 4×-compressed serving-tier
    * table: per-dim min-max stats (64 rows) + codes stored as
    * `array<tinyint>` (code − 128, so 0..255 fits the signed byte; one
    * byte per dim in Tungsten AND parquet). Quantization runs ONCE as a
    * cache-guarded batch job; every later search reads the codes table
    * plus a 64-pair stats collect — zero recompute in the query lineage.
    * The code/stat arithmetic replays [[graft.queries.SimilarityQueries]]'
    * int8 oracle exactly (same IEEE sequence, exact min/max), so searches
    * over the persisted codes stay hash-checkable. */
  def int8Persisted(spark: SparkSession, dir: String, dim: Int = 64)
      : (DataFrame, Array[(Double, Double)]) = {
    val name = int8Tables(spark, dir, dim)
    val loaded = spark.table(name + "_stats").collect()
      .map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2))))
      .sortBy(_._1).map(_._2)
    (spark.table(name + "_codes"), loaded)
  }

  /** Write [[int8Persisted]]'s tables once; returns their base name. Runs
    * no job once they exist. */
  private[graft] def int8Tables(spark: SparkSession, dir: String, dim: Int = 64): String = {
    import org.apache.spark.sql.functions._
    Artifacts.table(spark, "int8", dir, Seq("_codes", "_stats")) { base =>
      val emb = embeddings(spark, dir)
      // exact per-dim min/max — the same comparisons the oracle derives
      val st = emb.select((1 to dim).flatMap(d => Seq(
        min(element_at(col("embedding"), d).cast("double")).as(s"mn$d"),
        max(element_at(col("embedding"), d).cast("double")).as(s"mx$d"))): _*)
        .head()
      val mnmx = Array.tabulate(dim)(i => (st.getDouble(2 * i), st.getDouble(2 * i + 1)))
      import spark.implicits._
      mnmx.zipWithIndex.map { case ((mn, mx), i) => (i + 1, mn, mx) }.toSeq
        .toDF("dim", "mn", "mx")
        .write.mode("overwrite").saveAsTable(base + "_stats")
      val codeCols = array((1 to dim).map { d =>
        val (mn, mx) = mnmx(d - 1)
        (least(lit(255L), floor((element_at(col("embedding"), d).cast("double") - mn)
          * 256.0 / (mx - mn))) - 128L).cast("tinyint")
      }: _*)
      emb.select(col("vec_id"), col("label"), codeCols.as("codes"))
        .write.mode("overwrite").saveAsTable(base + "_codes")
    }
  }

  /** The corpus in the OPQ-rotated space ([[Vectors.opqRotate]] — exact in
    * float, so no oracle divergence). Plan construction only; not cached. */
  def rotatedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    embeddings(spark, dir).select(col("vec_id"), col("label"),
      Vectors.opqRotate(col("embedding")).as("embedding"))
  }

  /** PQ codebook fitted in the OPQ-rotated space (the sim_ann_opq fit —
    * rotation decorrelates dims across subspaces before the per-subspace
    * k-means, the OPQ idea with a deterministic signed permutation). */
  def opqPq(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16): Pq.Codebook =
    Artifacts.cached(spark, s"opq:$m:$k", dir) {
      Pq.fit(spark, rotatedEmbeddings(spark, dir), m = m, k = k)
    }

  /** IVF coarse quantizer fitted in the OPQ-rotated space — pairs with
    * [[opqPq]] for the full OPQ + IVF-PQ composition. */
  def opqIvf(spark: SparkSession, dir: String, k: Int = 16): Ivf.Index = {
    val cents = Artifacts.cached(spark, s"opqivf:$k", dir) {
      Ivf.build(spark, rotatedEmbeddings(spark, dir), k = k).centroids
    }
    Ivf.fromCentroids(cents, rotatedEmbeddings(spark, dir))
  }
}
