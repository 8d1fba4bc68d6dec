package graft.queries

import graft.functions.{Ivf, Pq}

/** Generated DuckDB oracle SQL for the k-means ANN family — the
  * plan-literal trick that makes `sim_ann_lsh`/`sim_ann_batch`
  * hash-checkable, extended to fitted state: after `Ivf.build`/`Pq.fit`
  * the centroids and codebooks are driver-visible arrays, so the oracle
  * embeds them as `VALUES` literals and re-derives cell assignment, ADC
  * tables, and cosines with the exact IEEE op sequence the Spark plan
  * executes.
  *
  * Exactness contract (what makes the hashes match bit-for-bit):
  *  - every dot product is an unrolled index-order left-associative sum of
  *    `CAST(x AS DOUBLE) * CAST(y AS DOUBLE)` terms — the same sequence
  *    [[graft.functions.VectorDot]] accumulates;
  *  - cell/code assignment is first-min (ties to the lowest id), mirrored
  *    here as `ROW_NUMBER() OVER (ORDER BY score, id) = 1` and plan-side
  *    as the lexicographic `(score, id)` struct min ([[Ivf.cellCol]]) or
  *    the strict-`<` scan in [[Pq.encode]];
  *  - ADC scoring sums `lut[j][codes[j]]` in subspace order — the
  *    sequence [[graft.functions.PqAdcScore]] generates;
  *  - doubles are rendered with Java's shortest-round-trip `toString`,
  *    which DuckDB parses back to the identical bits;
  *  - precomputed scalars (centroid norms, norm-LUT entries) use the same
  *    index-order folds the runtime expressions evaluate.
  */
object AnnOracles {

  private def fmt(d: Double): String = d.toString

  private def dl(c: Array[Double]): String =
    c.map(fmt).mkString("[", ", ", "]") + "::DOUBLE[]"

  /** Unrolled `VectorDot` mirror over 1-based list columns. */
  private def dot(a: String, b: String, dim: Int): String =
    (1 to dim).map(k => s"CAST($a[$k] AS DOUBLE) * CAST($b[$k] AS DOUBLE)")
      .mkString(" + ")

  private def centsValues(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (c, i) =>
      val n2 = Ivf.norm2(c)
      s"($i, ${dl(c)}, CAST(${fmt(n2)} AS DOUBLE), CAST(${fmt(math.sqrt(n2))} AS DOUBLE))"
    }.mkString(",\n  ")

  /** Shared IVF skeleton: literal centroids → deterministic cell
    * assignment → per-query probe ranking → exact cosine within probed
    * cells → per-query top-k. */
  private def ivfCore(cents: Array[Array[Double]], nProbe: Int,
      qSelect: String, qWhere: String, corpusWhere: String = "TRUE"): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.label, e.embedding, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      corpus AS (
        SELECT vec_id, label, embedding, cell FROM (
          SELECT vec_id, label, embedding, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1 AND ($corpusWhere)),
      q AS (SELECT $qSelect FROM embeddings WHERE $qWhere),
      probes AS (
        SELECT query_id, qe, cell FROM (
          SELECT q.query_id, q.qe, c.cell,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   ((${dot("q.qe", "c.centroid", dim)})
                     / (SQRT(${dot("q.qe", "q.qe", dim)}) * c.cnorm)) DESC,
                   c.cell) AS prn
          FROM q CROSS JOIN cents c) WHERE prn <= $nProbe),
      scored AS (
        SELECT p.query_id, s.vec_id, s.label,
               (${dot("s.embedding", "p.qe", dim)})
                 / (SQRT(${dot("s.embedding", "s.embedding", dim)})
                    * SQRT(${dot("p.qe", "p.qe", dim)})) AS cosine
        FROM corpus s JOIN probes p ON s.cell = p.cell),
      ranked AS (
        SELECT query_id, vec_id, label, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
        FROM scored)"""
  }

  /** Oracle for `sim_ann_ivf`: single query vector (vec_id = 0), the
    * post-top-k self-exclusion and column trim the query applies.
    * `corpusWhere` serves the delete/tombstone variant (`sim_ivf_delete`):
    * the full-corpus replay minus the deleted ids. */
  def ivfSingleSql(cents: Array[Array[Double]], topK: Int, nProbe: Int,
      corpusWhere: String = "TRUE"): String =
    ivfCore(cents, nProbe,
      "CAST(vec_id AS BIGINT) AS query_id, embedding AS qe", "vec_id = 0",
      corpusWhere) + s"""
      SELECT vec_id, label, cosine FROM ranked
      WHERE rnk <= $topK AND vec_id <> 0
      ORDER BY rnk"""

  /** Oracle for `sim_ann_range`: threshold filter over the probed cells
    * instead of a ranking window (the `ranked` CTE goes unused). */
  def ivfRangeSql(cents: Array[Array[Double]], minCosine: Double,
      nProbe: Int): String =
    ivfCore(cents, nProbe,
      "CAST(vec_id AS BIGINT) AS query_id, embedding AS qe", "vec_id = 0") + s"""
      SELECT vec_id, label, cosine FROM scored
      WHERE cosine >= CAST(${fmt(minCosine)} AS DOUBLE) AND vec_id <> 0
      ORDER BY cosine DESC, vec_id"""

  /** Oracle for `sim_ann_ivf_batch`: query set vec_id < maxQ. */
  def ivfBatchSql(cents: Array[Array[Double]], topK: Int, nProbe: Int,
      maxQ: Int): String =
    ivfCore(cents, nProbe,
      "vec_id AS query_id, embedding AS qe", s"vec_id < $maxQ") + s"""
      SELECT query_id, rnk, vec_id, label, cosine FROM ranked
      WHERE rnk <= $topK AND query_id <> vec_id
      ORDER BY query_id, rnk"""

  /** Oracle for `sim_ann_filtered`: [[ivfBatchSql]] with the metadata
    * predicate applied to the CANDIDATE side only (queries stay
    * unfiltered) — mirrors the pre-filtered `Index.assigned` frame the
    * Spark plan probes. */
  def ivfFilteredSql(cents: Array[Array[Double]], topK: Int, nProbe: Int,
      maxQ: Int, corpusWhere: String): String =
    ivfCore(cents, nProbe,
      "vec_id AS query_id, embedding AS qe", s"vec_id < $maxQ",
      corpusWhere) + s"""
      SELECT query_id, rnk, vec_id, label, cosine FROM ranked
      WHERE rnk <= $topK AND query_id <> vec_id
      ORDER BY query_id, rnk"""

  /** Oracle for `st_ann_serve`: the arriving-query slice (vec_id % 50 = 7)
    * served against the shared index — same core as [[ivfBatchSql]] with
    * the ingest-slice predicate. */
  def ivfServeSql(cents: Array[Array[Double]], topK: Int, nProbe: Int): String =
    ivfCore(cents, nProbe,
      "vec_id AS query_id, embedding AS qe", "vec_id % 50 = 7") + s"""
      SELECT query_id, rnk, vec_id, label, cosine FROM ranked
      WHERE rnk <= $topK AND query_id <> vec_id
      ORDER BY query_id, rnk"""

  /** Oracle for `sim_ivf_cell_stats`: literal centroids → deterministic
    * cell assignment → per-cell occupancy. Counts and min/max ids only —
    * no floating-point aggregates, so group order cannot diverge. */
  def ivfCellStatsSql(cents: Array[Array[Double]]): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1)
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
      FROM cells GROUP BY cell
      ORDER BY cell"""
  }

  /** Oracle for `sim_kmeans_update`: literal-centroid cell assignment,
    * then the integer-exact per-cell M-step sufficient statistics — count
    * plus FLOOR(x·10⁶) scaled-long coordinate sums for the first `nDims`
    * dimensions (float→double is exact, ·10⁶ and FLOOR are the same IEEE
    * ops in both engines, long addition is order-independent). */
  def kmeansUpdateSql(cents: Array[Array[Double]], nDims: Int,
      where: String = "TRUE"): String = {
    val dim = cents(0).length
    val sums = (1 to nDims).map(k =>
      s"CAST(SUM(CAST(FLOOR(CAST(embedding[$k] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_d$k")
      .mkString(",\n             ")
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.embedding, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c
        WHERE ($where)),
      cells AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT vec_id, embedding, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1)
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_assigned,
             $sums
      FROM cells GROUP BY cell
      ORDER BY cell"""
  }

  /** Oracle for `sim_kmeans_iterate` — the FULL Lloyd iteration replayed:
    * literal-centroid assignment (E-step), integer-mean new centroids
    * (M-step: scaled-long sums with truncating division — operands kept
    * non-negative by the +4 coordinate shift so DuckDB's `//` and Spark's
    * `div` agree), and the integer-exact re-assignment (E-step 2) whose
    * squared distances are shift-invariant BIGINT sums. `CAST(SUM AS
    * BIGINT)` guards every aggregate the way gr_pagerank's oracle does
    * (DuckDB SUM(BIGINT) is HUGEINT). */
  def kmeansIterateSql(cents: Array[Array[Double]]): String = {
    val dim = cents(0).length
    val sds = (1 to dim).map(d =>
      s"CAST(FLOOR((CAST(embedding[$d] AS DOUBLE) + 4.0) * 1000000) AS BIGINT) AS sd$d")
      .mkString(",\n               ")
    val means = (1 to dim).map(d =>
      s"CAST(SUM(sd$d) AS BIGINT) // COUNT(*) AS c$d").mkString(",\n               ")
    val d2 = (1 to dim).map(d =>
      s"(s.sd$d - n.c$d) * (s.sd$d - n.c$d)").mkString(" + ")
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.embedding, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      a0 AS (
        SELECT vec_id, embedding, cell AS cell0 FROM (
          SELECT vec_id, embedding, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      sv AS (
        SELECT vec_id, cell0,
               $sds
        FROM a0),
      newc AS (
        SELECT cell0 AS cell,
               $means
        FROM sv GROUP BY cell0),
      re AS (
        SELECT s.vec_id, s.cell0, n.cell,
               CAST($d2 AS BIGINT) AS d2
        FROM sv s CROSS JOIN newc n),
      best AS (
        SELECT vec_id, cell0, cell, d2 FROM (
          SELECT vec_id, cell0, cell, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM re) WHERE rn = 1)
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_assigned,
             CAST(SUM(CASE WHEN cell <> cell0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
             CAST(SUM(d2) AS BIGINT) AS inertia
      FROM best GROUP BY cell
      ORDER BY cell"""
  }

  /** Oracle for `sim_cluster_purity`: literal-centroid cell assignment,
    * per-(cell, label) counts, window top-1 majority pick (count DESC,
    * label ASC — the deterministic tie-break), and the exact purity
    * division. */
  def clusterPuritySql(cents: Array[Array[Double]]): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.label, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, label, cell FROM (
          SELECT vec_id, label, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      bylabel AS (
        SELECT cell, label, COUNT(*) AS n_label
        FROM cells GROUP BY cell, label),
      ranked AS (
        SELECT cell, label, n_label,
               ROW_NUMBER() OVER (PARTITION BY cell
                 ORDER BY n_label DESC, label) AS rn,
               SUM(n_label) OVER (PARTITION BY cell) AS n_cell
        FROM bylabel)
      SELECT cell, CAST(n_cell AS BIGINT) AS n_vectors,
             CAST(label AS BIGINT) AS majority_label,
             CAST(n_label AS BIGINT) AS n_majority,
             CAST(n_label AS DOUBLE) / CAST(n_cell AS DOUBLE) AS purity
      FROM ranked WHERE rn = 1
      ORDER BY cell"""
  }

  /** Oracle for `sim_cluster_balance`: literal-centroid cell assignment,
    * then a salted-md5 ranking within each cell capped at `cap` — no
    * floats beyond the assignment argmin both engines already replay
    * bit-exactly for the cell-stats oracle. */
  def ivfClusterBalanceSql(cents: Array[Array[Double]], cap: Int): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1)
      SELECT cell, CAST(rn AS BIGINT) AS rnk, vec_id FROM (
        SELECT cell, vec_id,
               ROW_NUMBER() OVER (PARTITION BY cell
                 ORDER BY MD5('cb|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM cells) WHERE rn <= $cap
      ORDER BY cell, rnk"""
  }

  /** Oracle for `sim_recall_report`: replay BOTH pipelines — the IVF
    * probe search (fitted centroid literals, `ranked` from [[ivfCore]])
    * and the exact brute-force ranking over the full corpus — then join
    * the two ≤topK sets per query. recall = hits/truth is one IEEE
    * division of two integers, exactly rounded in both engines. */
  def ivfRecallSql(cents: Array[Array[Double]], topK: Int, nProbe: Int,
      maxQ: Int): String = {
    val dim = cents(0).length
    ivfCore(cents, nProbe,
      "vec_id AS query_id, embedding AS qe", s"vec_id < $maxQ") + s""",
      brute AS (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ((${dot("e.embedding", "q.qe", dim)})
                   / (SQRT(${dot("e.embedding", "e.embedding", dim)})
                      * SQRT(${dot("q.qe", "q.qe", dim)}))) DESC, e.vec_id) AS brn
        FROM embeddings e CROSS JOIN q),
      bsel AS (SELECT query_id, vec_id FROM brute
               WHERE brn <= $topK AND vec_id <> query_id),
      isel AS (SELECT query_id, vec_id FROM ranked
               WHERE rnk <= $topK AND vec_id <> query_id)
      SELECT b.query_id AS query_id,
             CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
             CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(i.vec_id) AS DOUBLE) / COUNT(*) AS recall
      FROM bsel b LEFT JOIN isel i
        ON b.query_id = i.query_id AND b.vec_id = i.vec_id
      GROUP BY b.query_id
      ORDER BY query_id"""
  }

  /** Oracle for `dd_semantic_dedup`: literal centroids → deterministic
    * cell assignment (embedding kept in the cells CTE) → within-(cell,
    * corpus-scaled LSH bucket) lower-id near-dup probe at cosine ≥ τ →
    * per-vector kept flag. `bucketSql` replays the identical plane-sign
    * literals the Spark plan embeds, and the threshold comparison sees the
    * same replayed IEEE cosine on both engines, so the keep/remove
    * decisions match bit-for-bit. */
  /** Oracle for `st_semdedup_gate` — the SERVING twin of
    * [[semanticDedupSql]]: arriving vectors (vec_id % 10 = 7) are gated
    * against the STATIC corpus (everything else). A candidate must share
    * the literal-centroid cell AND the plane-sign LSH bucket; the
    * admission verdict counts corpus neighbors at cosine ≥ τ. */
  def semdedupGateSql(cents: Array[Array[Double]], tau: Double,
      bucketSql: String): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.embedding, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, embedding, cell, $bucketSql AS bucket FROM (
          SELECT vec_id, embedding, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      corpus AS (SELECT * FROM cells WHERE vec_id % 10 <> 7),
      arr AS (SELECT * FROM cells WHERE vec_id % 10 = 7),
      hits AS (
        SELECT a.vec_id, COUNT(*) AS n
        FROM arr a JOIN corpus x
          ON x.cell = a.cell AND x.bucket = a.bucket
        WHERE (${dot("x.embedding", "a.embedding", dim)})
                / (SQRT(${dot("x.embedding", "x.embedding", dim)})
                   * SQRT(${dot("a.embedding", "a.embedding", dim)}))
              >= CAST(${fmt(tau)} AS DOUBLE)
        GROUP BY a.vec_id)
      SELECT a.vec_id, a.cell,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_dups,
             (h.vec_id IS NULL) AS admitted
      FROM arr a LEFT JOIN hits h ON a.vec_id = h.vec_id
      ORDER BY a.vec_id"""
  }

  /** Oracle for `st_ingest_admission` — the full three-stage gate in one
    * statement: token-count quality, exact Bloom membership (the
    * st_bloom_dedup chain), and the semantic near-dup gate (the
    * [[semdedupGateSql]] chain), joined on the shared id space
    * (doc_id ≙ vec_id) over the same arriving lane (% 10 = 7). */
  def ingestAdmissionSql(cents: Array[Array[Double]], tau: Double,
      bucketSql: String): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.embedding, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, embedding, cell, $bucketSql AS bucket FROM (
          SELECT vec_id, embedding, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      vcorpus AS (SELECT * FROM cells WHERE vec_id % 10 <> 7),
      varr AS (SELECT * FROM cells WHERE vec_id % 10 = 7),
      hits AS (
        SELECT a.vec_id, COUNT(*) AS n
        FROM varr a JOIN vcorpus x
          ON x.cell = a.cell AND x.bucket = a.bucket
        WHERE (${dot("x.embedding", "a.embedding", dim)})
                / (SQRT(${dot("x.embedding", "x.embedding", dim)})
                   * SQRT(${dot("a.embedding", "a.embedding", dim)}))
              >= CAST(${fmt(tau)} AS DOUBLE)
        GROUP BY a.vec_id),
      d AS (SELECT doc_id, text, MD5(text) AS h FROM documents),
      corpus AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
      arriving AS (SELECT * FROM d WHERE doc_id % 10 = 7),
      js AS (SELECT UNNEST(['0', '1', '2']) AS j),
      cpos AS (
        SELECT CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM corpus, js),
      bloom AS (
        SELECT pos // 63 AS word,
               BIT_OR(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM cpos GROUP BY 1),
      apos AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM arriving, js),
      probe AS (
        SELECT a.doc_id,
               COALESCE((b.bits >> CAST(a.pos % 63 AS INT)) & 1 = 1, FALSE) AS hit
        FROM apos a LEFT JOIN bloom b ON b.word = a.pos // 63),
      agg AS (
        SELECT doc_id, CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        FROM probe GROUP BY doc_id),
      toks AS (
        SELECT doc_id, CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS n_tokens
        FROM arriving)
      SELECT t.doc_id, t.n_tokens, ag.n_set = 3 AS bloom_hit,
             CAST(COALESCE(hh.n, 0) AS BIGINT) AS n_dups,
             (t.n_tokens >= 20 AND NOT (ag.n_set = 3) AND hh.vec_id IS NULL)
               AS admitted
      FROM toks t
      JOIN agg ag ON ag.doc_id = t.doc_id
      LEFT JOIN hits hh ON hh.vec_id = t.doc_id
      ORDER BY t.doc_id"""
  }

  /** Oracle for `mm_admission_funnel` — the WHOLE multimodal curation
    * funnel in one statement (VERDICT r11 #3): the text tier
    * (token-count quality + the salted-md5 Bloom membership chain), the
    * semantic tier (IVF-cell + LSH-bucket cosine gate over literal
    * centroids), and the MEDIA tier (per-modality 4×16-bit banded
    * near-dup counts over [[MultimodalQueries.mediaFpsCteSql]]'s
    * `fps(doc_id, modality, b0..b3)` — image pHash, audio energy
    * fingerprint, video essence signature), all joined on the shared id
    * space over the arriving lane (% 10 = 7). */
  def admissionFunnelSql(cents: Array[Array[Double]], tau: Double,
      bucketSql: String): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.embedding, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, embedding, cell, $bucketSql AS bucket FROM (
          SELECT vec_id, embedding, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      vcorpus AS (SELECT * FROM cells WHERE vec_id % 10 <> 7),
      varr AS (SELECT * FROM cells WHERE vec_id % 10 = 7),
      semhits AS (
        SELECT a.vec_id, COUNT(*) AS n
        FROM varr a JOIN vcorpus x
          ON x.cell = a.cell AND x.bucket = a.bucket
        WHERE (${dot("x.embedding", "a.embedding", dim)})
                / (SQRT(${dot("x.embedding", "x.embedding", dim)})
                   * SQRT(${dot("a.embedding", "a.embedding", dim)}))
              >= CAST(${fmt(tau)} AS DOUBLE)
        GROUP BY a.vec_id),
      d AS (SELECT doc_id, text, MD5(text) AS h FROM documents),
      corpus AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
      arriving AS (SELECT * FROM d WHERE doc_id % 10 = 7),
      js AS (SELECT UNNEST(['0', '1', '2']) AS j),
      cpos AS (
        SELECT CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM corpus, js),
      bloom AS (
        SELECT pos // 63 AS word,
               BIT_OR(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM cpos GROUP BY 1),
      apos AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM arriving, js),
      probe AS (
        SELECT a.doc_id,
               COALESCE((b.bits >> CAST(a.pos % 63 AS INT)) & 1 = 1, FALSE) AS hit
        FROM apos a LEFT JOIN bloom b ON b.word = a.pos // 63),
      agg AS (
        SELECT doc_id, CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        FROM probe GROUP BY doc_id),
      toks AS (
        SELECT doc_id, CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS n_tokens
        FROM arriving),
      ${MultimodalQueries.mediaFpsCteSql},
      mediahits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_media_dups
        FROM (${MultimodalQueries.bandPairsSql("fps", "fps",
          "a.modality = b.modality AND a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7")})
        GROUP BY doc_id),
      fpd AS (SELECT DISTINCT doc_id FROM fps WHERE doc_id % 10 = 7)
      SELECT t.doc_id,
             (['image', 'audio', 'video'])[CAST(t.doc_id % 3 + 1 AS INTEGER)]
               AS modality,
             t.n_tokens, ag.n_set = 3 AS bloom_hit,
             CAST(COALESCE(sh.n, 0) AS BIGINT) AS n_sem_dups,
             (fpd.doc_id IS NOT NULL) AS fingerprinted,
             CAST(COALESCE(mh.n_media_dups, 0) AS BIGINT) AS n_media_dups,
             (t.n_tokens >= 20 AND NOT (ag.n_set = 3)
              AND COALESCE(sh.n, 0) = 0
              AND COALESCE(mh.n_media_dups, 0) = 0) AS admitted
      FROM toks t
      JOIN agg ag ON ag.doc_id = t.doc_id
      LEFT JOIN semhits sh ON sh.vec_id = t.doc_id
      LEFT JOIN mediahits mh ON mh.doc_id = t.doc_id
      LEFT JOIN fpd ON fpd.doc_id = t.doc_id
      ORDER BY t.doc_id"""
  }

  def semanticDedupSql(cents: Array[Array[Double]], tau: Double,
      bucketSql: String): String = {
    val dim = cents(0).length
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, e.embedding, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, embedding, cell, $bucketSql AS bucket FROM (
          SELECT vec_id, embedding, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      dups AS (
        SELECT DISTINCT y.vec_id
        FROM cells x JOIN cells y
          ON x.cell = y.cell AND x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE (${dot("x.embedding", "y.embedding", dim)})
                / (SQRT(${dot("x.embedding", "x.embedding", dim)})
                   * SQRT(${dot("y.embedding", "y.embedding", dim)}))
              >= CAST(${fmt(tau)} AS DOUBLE))
      SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
      FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
      ORDER BY c.vec_id"""
  }

  private def cbValues(cb: Pq.Codebook): String =
    (for {
      j <- cb.centroids.indices
      ci <- cb.centroids(j).indices
    } yield s"($j, $ci, ${dl(cb.centroids(j)(ci))})").mkString(",\n  ")

  /** The query-independent norm LUT, the same `c.map(x*x).sum` fold
    * [[Pq]] embeds as its plan literal. */
  private def nlutLiteral(cb: Pq.Codebook): String =
    cb.centroids.map { sub =>
      sub.map(c => fmt(c.map(x => x * x).sum)).mkString("[", ", ", "]")
    }.mkString("[", ", ", "]") + "::DOUBLE[][]"

  /** [[Pq.encode]]'s subspace distance: left-assoc sum of squared diffs. */
  private def sqdist(cb: Pq.Codebook): String =
    (1 to cb.dsub).map { k =>
      val x = s"(CAST(e.embedding[b.j*${cb.dsub}+$k] AS DOUBLE) - CAST(b.cent[$k] AS DOUBLE))"
      s"$x * $x"
    }.mkString(" + ")

  /** [[Pq.lutDotCol]]'s per-(subspace, code) dot: centroid × query slice. */
  private def lutDot(cb: Pq.Codebook): String =
    (1 to cb.dsub).map(k =>
      s"CAST(b.cent[$k] AS DOUBLE) * CAST(q.qe[b.j*${cb.dsub}+$k] AS DOUBLE)")
      .mkString(" + ")

  /** Shared PQ fragments: literal codebooks → per-vector code assignment →
    * per-query dot LUTs → (appended by callers) ADC scoring + rerank.
    * `emb` is the corpus relation — "embeddings", or a rotated CTE. */
  private def pqCodesAndLuts(cb: Pq.Codebook, maxQ: Int,
      emb: String = "embeddings"): String = {
    val dim = cb.m * cb.dsub
    s"""
      cb(j, code, cent) AS (VALUES
  ${cbValues(cb)}),
      cdist AS (
        SELECT e.vec_id, b.j, b.code, (${sqdist(cb)}) AS d
        FROM $emb e CROSS JOIN cb b),
      codesel AS (
        SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
          FROM cdist) WHERE rn = 1),
      codes AS (SELECT vec_id, list(code ORDER BY j) AS codes FROM codesel GROUP BY vec_id),
      q AS (SELECT vec_id AS query_id, embedding AS qe FROM $emb WHERE vec_id < $maxQ),
      lutv AS (
        SELECT q.query_id, b.j, b.code, (${lutDot(cb)}) AS lv
        FROM q CROSS JOIN cb b),
      lutj AS (SELECT query_id, j, list(lv ORDER BY code) AS lj FROM lutv GROUP BY query_id, j),
      lut AS (SELECT query_id, list(lj ORDER BY j) AS lut FROM lutj GROUP BY query_id),
      qn AS (SELECT query_id, SQRT(${dot("qe", "qe", dim)}) AS qnorm FROM q),
      nl AS (SELECT ${nlutLiteral(cb)} AS nlut)"""
  }

  /** [[graft.functions.PqAdcScore]]'s subspace-order sum, unrolled. */
  private def adcSum(cb: Pq.Codebook, lut: String): String =
    (1 to cb.m).map(j => s"$lut[$j][c.codes[$j]+1]").mkString(" + ")

  /** The shared rerank tail of [[Pq.searchBatch]]/[[Pq.searchIvfPq]]:
    * approx-rank → exact cosine of the candidate set → final top-k with
    * post-rank self-exclusion. */
  private def rerankTail(cb: Pq.Codebook, topK: Int, rerank: Int,
      emb: String = "embeddings"): String = {
    val dim = cb.m * cb.dsub
    s"""
      cand AS (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_cos DESC, vec_id) AS arn
          FROM scored) WHERE arn <= $rerank),
      rer AS (
        SELECT cand.query_id, e.vec_id, e.label,
               (${dot("e.embedding", "q.qe", dim)})
                 / (SQRT(${dot("e.embedding", "e.embedding", dim)})
                    * SQRT(${dot("q.qe", "q.qe", dim)})) AS cosine
        FROM cand
        JOIN $emb e ON e.vec_id = cand.vec_id
        JOIN q ON q.query_id = cand.query_id),
      ranked AS (
        SELECT query_id, vec_id, label, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
        FROM rer)
      SELECT query_id, rnk, vec_id, label, cosine FROM ranked
      WHERE rnk <= $topK AND query_id <> vec_id
      ORDER BY query_id, rnk"""
  }

  /** Oracle for `sim_ann_pq`: ADC scan over ALL codes, exact rerank.
    * `pre` prepends extra CTEs (the OPQ rotation), `emb` names the corpus
    * relation those fragments read. */
  def pqSql(cb: Pq.Codebook, topK: Int, rerank: Int, maxQ: Int,
      emb: String = "embeddings", pre: String = ""): String =
    s"""
      WITH $pre${pqCodesAndLuts(cb, maxQ, emb).trim},
      scored AS (
        SELECT l.query_id, c.vec_id,
               (${adcSum(cb, "l.lut")})
                 / (SQRT(${adcSum(cb, "nl.nlut")}) * n.qnorm) AS approx_cos
        FROM codes c
        CROSS JOIN lut l
        JOIN qn n ON n.query_id = l.query_id
        CROSS JOIN nl),
      ${rerankTail(cb, topK, rerank, emb).trim}"""

  /** The OPQ rotation as a CTE: `rot[d] = ±embedding[perm[d]]` — the
    * signed permutation [[graft.functions.Vectors.opqRotate]] embeds in
    * the Spark plan, exact in float, so downstream fragments see
    * bit-identical vectors. */
  private def rotCte(dim: Int): String = {
    val perm = graft.functions.Vectors.opqPerm(dim)
    val signs = graft.functions.Vectors.opqSigns(dim)
    val elems = (0 until dim).map { d =>
      val e = s"embedding[${perm(d) + 1}]"
      if (signs(d) < 0) s"-$e" else e
    }.mkString("[", ", ", "]")
    s"rot AS (SELECT vec_id, label, $elems AS embedding FROM embeddings)"
  }

  /** Oracle for `sim_ann_opq`: [[pqSql]] over the rotated corpus. */
  def opqPqSql(dim: Int, cb: Pq.Codebook, topK: Int, rerank: Int, maxQ: Int): String =
    pqSql(cb, topK, rerank, maxQ, emb = "rot", pre = rotCte(dim) + ",\n      ")

  /** Oracle for `sim_ann_pq_range`: the ADC threshold prefilter (same
    * replayed subspace-order sum as [[pqSql]]'s scored CTE), then the
    * exact-cosine radius — both comparisons see bit-identical doubles, so
    * candidate decisions match the plan's exactly. */
  def pqRangeSql(cb: Pq.Codebook, minCosine: Double, margin: Double, maxQ: Int): String = {
    val dim = cb.m * cb.dsub
    s"""
      WITH ${pqCodesAndLuts(cb, maxQ).trim},
      scored AS (
        SELECT l.query_id, c.vec_id,
               (${adcSum(cb, "l.lut")})
                 / (SQRT(${adcSum(cb, "nl.nlut")}) * n.qnorm) AS approx_cos
        FROM codes c
        CROSS JOIN lut l
        JOIN qn n ON n.query_id = l.query_id
        CROSS JOIN nl),
      cand AS (
        SELECT query_id, vec_id FROM scored
        WHERE approx_cos >= CAST(${fmt(minCosine - margin)} AS DOUBLE)),
      rer AS (
        SELECT cand.query_id, e.vec_id, e.label,
               (${dot("e.embedding", "q.qe", dim)})
                 / (SQRT(${dot("e.embedding", "e.embedding", dim)})
                    * SQRT(${dot("q.qe", "q.qe", dim)})) AS cosine
        FROM cand
        JOIN embeddings e ON e.vec_id = cand.vec_id
        JOIN q ON q.query_id = cand.query_id)
      SELECT query_id, vec_id, label, cosine FROM rer
      WHERE cosine >= CAST(${fmt(minCosine)} AS DOUBLE) AND query_id <> vec_id
      ORDER BY query_id, cosine DESC, vec_id"""
  }

  /** Oracle for `sim_ann_ivfpq`: IVF cell assignment + probe ranking bound
    * the candidate set; ADC scores only probed cells' codes; exact rerank.
    * `emb`/`pre` parametrize the corpus relation (the OPQ rotation CTE). */
  def ivfPqSql(cents: Array[Array[Double]], cb: Pq.Codebook,
      topK: Int, nProbe: Int, rerank: Int, maxQ: Int,
      emb: String = "embeddings", pre: String = ""): String = {
    val dim = cents(0).length
    s"""
      WITH ${pre}cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM $emb e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      ${pqCodesAndLuts(cb, maxQ, emb).trim},
      probes AS (
        SELECT query_id, cell FROM (
          SELECT q.query_id, c.cell,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   ((${dot("q.qe", "c.centroid", dim)})
                     / (SQRT(${dot("q.qe", "q.qe", dim)}) * c.cnorm)) DESC,
                   c.cell) AS prn
          FROM q CROSS JOIN cents c) WHERE prn <= $nProbe),
      scored AS (
        SELECT p.query_id, c.vec_id,
               (${adcSum(cb, "l.lut")})
                 / (SQRT(${adcSum(cb, "nl.nlut")}) * n.qnorm) AS approx_cos
        FROM cells s
        JOIN probes p ON s.cell = p.cell
        JOIN codes c ON c.vec_id = s.vec_id
        JOIN lut l ON l.query_id = p.query_id
        JOIN qn n ON n.query_id = p.query_id
        CROSS JOIN nl),
      ${rerankTail(cb, topK, rerank, emb).trim}"""
  }

  /** Oracle for `sim_ann_opq_ivfpq`: [[ivfPqSql]] over the rotated corpus. */
  def opqIvfPqSql(dim: Int, cents: Array[Array[Double]], cb: Pq.Codebook,
      topK: Int, nProbe: Int, rerank: Int, maxQ: Int): String =
    ivfPqSql(cents, cb, topK, nProbe, rerank, maxQ,
      emb = "rot", pre = rotCte(dim) + ",\n      ")

  /** Oracle for `dd_semdedup_ivf`: literal-centroid cell assignment plus
    * the corpus-scaled LSH bucket (`bucketSql`, over `e.embedding`), then
    * exact cosine pairs within (cell, bucket) at the dedup threshold,
    * then a per-vector keep/remove verdict (lowest id in a dup group
    * survives). Cosine is the same left-fold dot both engines already
    * replay; the verdict join is integer/boolean only. */
  def semDedupSql(cents: Array[Array[Double]], tau: Double,
      bucketSql: String): String = {
    val dim = cents(0).length
    val cos = s"(${dot("a.embedding", "b.embedding", dim)})" +
      s" / (SQRT(${dot("a.embedding", "a.embedding", dim)})" +
      s" * SQRT(${dot("b.embedding", "b.embedding", dim)}))"
    s"""
      WITH cents(cell, centroid, cn2, cnorm) AS (VALUES
  ${centsValues(cents)}),
      cellscore AS (
        SELECT e.vec_id, c.cell,
               c.cn2 - 2.0 * (${dot("e.embedding", "c.centroid", dim)}) AS score
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS crn
          FROM cellscore) WHERE crn = 1),
      ce AS (SELECT cells.vec_id, cells.cell, e.embedding,
                    $bucketSql AS bucket
             FROM cells JOIN embeddings e ON e.vec_id = cells.vec_id),
      dup AS (
        SELECT b.vec_id, MIN(a.vec_id) AS dup_of,
               CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM ce a JOIN ce b ON a.cell = b.cell AND a.bucket = b.bucket
                           AND a.vec_id < b.vec_id
        WHERE ($cos) >= $tau
        GROUP BY b.vec_id)
      SELECT c.vec_id, c.cell, d.dup_of IS NOT NULL AS is_dup, d.dup_of,
             COALESCE(d.n_dups, 0) AS n_dups
      FROM cells c LEFT JOIN dup d ON d.vec_id = c.vec_id
      ORDER BY c.vec_id"""
  }
}
