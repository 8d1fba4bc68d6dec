package graft.queries

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Artifacts
import graft.api.{GraftQuery, Tables}

/** Model-based document SCORING operators for training-data curation —
  * the fit-once/score-many family: DSIR importance weights (Xie et al.
  * 2023, "Data Selection for Language Models via Importance Resampling")
  * over hashed-bigram features, and a CCNet-style unigram-LM quality
  * score (bits per token under a corpus-fitted language model).
  *
  * Exactness contract (the same trick as [[AnnOracles]]): the fitted
  * model — 64 bucket log-ratios, or a 256-word negative-log-prob table —
  * is driver-visible state, QUANTIZED to DECIMAL(12,6) at fit time.
  * Per-document scoring is then a sum of `count × decimal` terms, which
  * is EXACT decimal arithmetic — order-independent, so Spark's unordered
  * aggregation and DuckDB's agree bit-for-bit; only the final
  * decimal→double casts (correctly rounded in both engines) touch
  * floating point. The generated oracle embeds the fitted table as
  * `VALUES` literals and re-derives everything else from the raw text.
  *
  * Scale notes (100 TB): fits are one-off aggregate jobs collecting a
  * few hundred rows (the same contract as the k-means centroids in
  * [[graft.functions.AnnIndexes]]); scoring is one (doc, feature) shuffle joined against
  * a BROADCAST model table — no driver-side loops, no re-fit per query.
  */
object ScoringQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---------------------------------------------------------------------
  // Shared tokenization (mirrors TextQueries: whitespace words, empties
  // dropped) and the engine-portable hashed-bigram bucket
  // ---------------------------------------------------------------------

  private val B = 64 // hashed-feature bucket count

  /** (doc_id, lang, bg) word bigrams; docs with <2 words contribute none.
    * The sequence guard matters: Spark's `sequence(2, 1)` is DESCENDING,
    * not empty, so short docs must be filtered before the transform. */
  private def bigrams(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), x -> x != '')").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(2, size(w)), i -> concat(element_at(w, i - 1), ' ', element_at(w, i)))"))
        .as("bg"))

  /** Bucket = high 16 bits of md5(bigram) mod 64 — the [[TextQueries]]
    * nibble trick, identical in Spark and DuckDB. */
  private def bucketExpr(c: String): String =
    s"(${TextQueries.h16SqlAt(s"md5($c)", 1)} % $B)"

  private def quant6(x: Double): JBigDecimal =
    new JBigDecimal(x, MathContext.DECIMAL64).setScale(6, RoundingMode.HALF_EVEN)

  // ---------------------------------------------------------------------
  // DSIR importance weights
  // ---------------------------------------------------------------------

  /** Fit the DSIR model: per-bucket λ_b = ln p_target(b) − ln p_raw(b)
    * with add-1 smoothing, target = the `lang = 'en'` slice, raw = the
    * whole corpus. One 64-row aggregate; cached per (session, dir) so the
    * query plan and its generated oracle see the identical quantized
    * table. */
  private def dsirFit(s: SparkSession, dir: String): Array[JBigDecimal] =
    Artifacts.cached(s, "dsir", dir) {
      val rows = bigrams(docs(s, dir))
        .select(expr(bucketExpr("bg")).as("bucket"),
          when(col("lang") === "en", 1L).otherwise(0L).as("t"))
        .groupBy(col("bucket"))
        .agg(sum(col("t")).as("ct"), count(lit(1)).as("cr"))
        .collect()
      val ct = new Array[Long](B)
      val cr = new Array[Long](B)
      rows.foreach { r =>
        val b = r.getAs[Number]("bucket").intValue()
        ct(b) = r.getAs[Long]("ct"); cr(b) = r.getAs[Long]("cr")
      }
      val nt = ct.sum.toDouble + B
      val nr = cr.sum.toDouble + B
      Array.tabulate(B) { b =>
        quant6(math.log((ct(b) + 1) / nt) - math.log((cr(b) + 1) / nr))
      }
    }

  private def lamValues(lam: Array[JBigDecimal]): String =
    lam.zipWithIndex
      .map { case (l, b) => s"($b, ${l.toPlainString}::DECIMAL(12,6))" }
      .mkString(", ")

  /** Per-document DSIR log importance weight Σ_b n_b · λ_b over hashed
    * bigram features — rank-by-weight is the resampling key that tilts a
    * raw crawl toward the target distribution. Zero-bigram docs surface
    * with weight 0 (LEFT join from the corpus). */
  val txDsirWeights = GraftQuery(
    "tx_dsir_weights",
    (s, dir) => {
      import s.implicits._
      val lam = dsirFit(s, dir)
      val lamDf = s.createDataFrame(
        s.sparkContext.parallelize(lam.zipWithIndex.map { case (l, b) =>
          org.apache.spark.sql.Row(b, l)
        }.toSeq, 1),
        StructType(Seq(StructField("bucket", IntegerType),
          StructField("lam", DecimalType(12, 6)))))
      val scored = bigrams(docs(s, dir))
        .select($"doc_id", expr(bucketExpr("bg")).as("bucket"))
        .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("n"))
        .join(broadcast(lamDf), Seq("bucket"))
        .groupBy($"doc_id")
        .agg(sum($"n" * $"lam").as("lw"), sum($"n").as("nb"))
      docs(s, dir).select($"doc_id")
        .join(scored, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"nb", lit(0L)).as("n_bigrams"),
          coalesce($"lw".cast(DoubleType), lit(0.0d)).as("dsir_logw"))
        .orderBy($"doc_id")
    },
    oracleGen = Some((s, dir) => {
      val lam = dsirFit(s, dir)
      s"""
      WITH lam(bucket, lam) AS (VALUES ${lamValues(lam)}),
      ws AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
      bg AS (
        SELECT doc_id,
               UNNEST(list_transform(range(2, len(w) + 1),
                                     i -> w[i - 1] || ' ' || w[i])) AS bg
        FROM ws),
      cnt AS (
        SELECT doc_id, ${bucketExpr("bg")} AS bucket, COUNT(*) AS n
        FROM bg GROUP BY 1, 2),
      scored AS (
        SELECT doc_id, SUM(cnt.n * lam.lam) AS lw, SUM(cnt.n) AS nb
        FROM cnt JOIN lam USING (bucket) GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
             COALESCE(CAST(lw AS DOUBLE), 0.0) AS dsir_logw
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      ORDER BY d.doc_id"""
    }))

  // ---------------------------------------------------------------------
  // Unigram-LM quality score (CCNet-style perplexity proxy)
  // ---------------------------------------------------------------------

  private val VocabK = 256

  /** Fit the unigram LM: top-256 words by corpus frequency (ties to the
    * lexicographically smaller word) plus one UNK bucket holding the
    * remaining mass; p(w) = (c_w + 1)/(N + 257) so the distribution sums
    * to one. Returns (vocab word → −log2 p quantized, UNK −log2 p). */
  private def lmFit(s: SparkSession, dir: String): (Array[(String, JBigDecimal)], JBigDecimal) =
    Artifacts.cached(s, "unigramlm", dir) {
      import s.implicits._
      val counts = docs(s, dir)
        .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
      val top = counts.orderBy($"c".desc, $"w").limit(VocabK)
        .as[(String, Long)].collect()
      val total = counts.agg(sum($"c")).as[Long].head()
      val unk = total - top.map(_._2).sum
      val denom = total.toDouble + VocabK + 1
      def nlp(c: Long): JBigDecimal =
        quant6(-(math.log((c + 1) / denom) / math.log(2.0)))
      (top.map { case (w, c) => (w, nlp(c)) }, nlp(unk))
    }

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Per-document cross-entropy under the corpus-fitted unigram LM —
    * the perplexity-proxy quality filter: low bits/token ≈ in-domain
    * fluent text, high ≈ noise. `bits_total` is an exact decimal sum cast
    * once; `bits_per_token` divides the two already-deterministic
    * doubles (one correctly-rounded IEEE op). */
  val txLmScore = GraftQuery(
    "tx_lm_score",
    (s, dir) => {
      import s.implicits._
      val (vocab, unkNlp) = lmFit(s, dir)
      val vocabDf = s.createDataFrame(
        s.sparkContext.parallelize(vocab.map { case (w, p) =>
          org.apache.spark.sql.Row(w, p)
        }.toSeq, 1),
        StructType(Seq(StructField("w", StringType),
          StructField("nlp", DecimalType(12, 6)))))
      val toks = docs(s, dir)
        .select($"doc_id", explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      val unkLit = lit(unkNlp).cast(DecimalType(12, 6))
      toks.join(broadcast(vocabDf), Seq("w"), "left")
        .select($"doc_id", coalesce($"nlp", unkLit).as("nlp"))
        .groupBy($"doc_id")
        .agg(sum($"nlp").as("bt"), count(lit(1)).as("n_tokens"))
        .select($"doc_id", $"n_tokens",
          $"bt".cast(DoubleType).as("bits_total"),
          ($"bt".cast(DoubleType) / $"n_tokens".cast(DoubleType)).as("bits_per_token"))
        .orderBy($"doc_id")
    },
    oracleGen = Some((s, dir) => {
      val (vocab, unkNlp) = lmFit(s, dir)
      val vals = vocab
        .map { case (w, p) => s"(${sq(w)}, ${p.toPlainString}::DECIMAL(12,6))" }
        .mkString(", ")
      s"""
      WITH vocab(w, nlp) AS (VALUES $vals),
      toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents),
      scored AS (
        SELECT t.doc_id,
               COALESCE(v.nlp, ${unkNlp.toPlainString}::DECIMAL(12,6)) AS nlp
        FROM toks t LEFT JOIN vocab v ON v.w = t.w)
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(nlp) AS DOUBLE) AS bits_total,
             CAST(SUM(nlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bits_per_token
      FROM scored GROUP BY doc_id
      ORDER BY doc_id"""
    }))

  // ---------------------------------------------------------------------
  // Bigram-LM quality score (KenLM-style fluency filter, one order up
  // from tx_lm_score's unigram model)
  // ---------------------------------------------------------------------

  private val BigramV = 32

  /** Fit the bigram LM over a CLOSED 33-symbol alphabet: the top-32
    * corpus words (ties lexicographic) plus `<unk>` absorbing the rest.
    * Every adjacent in-doc pair (prev, cur) is mapped into the alphabet
    * and add-one smoothed against it:
    *   p(cur | prev) = (c2(prev,cur) + 1) / (c1(prev) + 33)
    * so unseen-but-possible bigrams of an observed context get the
    * context's default probability 1/(c1+33). The fit is BOUNDED BY
    * CONSTRUCTION — at most 33² bigram rows + 33 context rows collect,
    * independent of corpus size (the same contract as the k-means
    * centroids). Returns (vocab, observed-bigram −log2 p, per-context
    * default −log2 p), all DECIMAL(12,6)-quantized. */
  private def bigramFit(s: SparkSession, dir: String)
      : (Array[String], Array[(String, String, JBigDecimal)], Array[(String, JBigDecimal)]) =
    Artifacts.cached(s, "bigramlm", dir) {
      import s.implicits._
      val words = docs(s, dir)
        .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      val top = words.groupBy($"w").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"w").limit(BigramV)
        .select($"w").as[String].collect()
      val topSet = top.toSet
      val d = docs(s, dir)
        .select($"doc_id", expr("filter(split(text, ' '), x -> x != '')").as("w"))
        .filter(size($"w") >= 2)
      val mapTok = (c: Column) => when(c.isInCollection(topSet), c).otherwise(lit("<unk>"))
      val prs = d.select(explode(expr(
          "transform(sequence(2, size(w)), i -> struct(element_at(w, i - 1) AS p, element_at(w, i) AS c))"))
          .as("pc"))
        .select(mapTok($"pc.p").as("p"), mapTok($"pc.c").as("c"))
      val c2 = prs.groupBy($"p", $"c").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect()
      val c1 = c2.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._3).sum }
      val denom = (p: String) => c1(p).toDouble + BigramV + 1
      def nlp(num: Double, den: Double): JBigDecimal =
        quant6(-(math.log(num / den) / math.log(2.0)))
      val bg = c2.map { case (p, c, n) => (p, c, nlp(n + 1.0, denom(p))) }
        .sortBy(t => (t._1, t._2))
      val pd = c1.toArray.sortBy(_._1)
        .map { case (p, _) => (p, nlp(1.0, denom(p))) }
      (top, bg, pd)
    }

  /** Per-document bits under the corpus-fitted bigram LM — the KenLM-
    * shaped fluency filter: documents whose word ORDER is corpus-typical
    * score low bits/pair even when their unigram mix is unremarkable
    * (which is exactly what tx_lm_score cannot see). Decimal-exact sums;
    * docs with <2 words carry no pair and drop out, mirrored by the
    * oracle. 100 TB shape: broadcast model (≤33² rows), one lag window
    * per doc partition, one doc-keyed aggregate. */
  val txBigramLm = GraftQuery(
    "tx_bigram_lm",
    (s, dir) => {
      import s.implicits._
      val (vocab, bg, pd) = bigramFit(s, dir)
      val bgDf = s.createDataFrame(
        s.sparkContext.parallelize(bg.map { case (p, c, x) =>
          org.apache.spark.sql.Row(p, c, x)
        }.toSeq, 1),
        StructType(Seq(StructField("p", StringType), StructField("c", StringType),
          StructField("bnlp", DecimalType(12, 6)))))
      val pdDf = s.createDataFrame(
        s.sparkContext.parallelize(pd.map { case (p, x) =>
          org.apache.spark.sql.Row(p, x)
        }.toSeq, 1),
        StructType(Seq(StructField("p", StringType),
          StructField("dnlp", DecimalType(12, 6)))))
      val vset = vocab.toSet
      val mapTok = (c: Column) => when(c.isInCollection(vset), c).otherwise(lit("<unk>"))
      val prs = docs(s, dir)
        .select($"doc_id", expr("filter(split(text, ' '), x -> x != '')").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(2, size(w)), i -> struct(element_at(w, i - 1) AS p, element_at(w, i) AS c))"))
          .as("pc"))
        .select($"doc_id", mapTok($"pc.p").as("p"), mapTok($"pc.c").as("c"))
      prs.join(broadcast(bgDf), Seq("p", "c"), "left")
        .join(broadcast(pdDf), Seq("p"), "left")
        .select($"doc_id", coalesce($"bnlp", $"dnlp").as("nlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_pairs"), sum($"nlp").as("bt"))
        .select($"doc_id", $"n_pairs",
          $"bt".cast(DoubleType).as("bits_total"),
          ($"bt".cast(DoubleType) / $"n_pairs".cast(DoubleType)).as("bits_per_pair"))
        .orderBy($"doc_id")
    },
    oracleGen = Some((s, dir) => {
      val (vocab, bg, pd) = bigramFit(s, dir)
      val vvals = vocab.map(sq).mkString(", ")
      val bvals = bg.map { case (p, c, x) =>
        s"(${sq(p)}, ${sq(c)}, ${x.toPlainString}::DECIMAL(12,6))" }.mkString(", ")
      val pvals = pd.map { case (p, x) =>
        s"(${sq(p)}, ${x.toPlainString}::DECIMAL(12,6))" }.mkString(", ")
      s"""
      WITH vocab AS (SELECT UNNEST([$vvals]) AS w),
      bg(p, c, bnlp) AS (VALUES $bvals),
      pd(p, dnlp) AS (VALUES $pvals),
      t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
      prs AS (
        SELECT doc_id,
               CASE WHEN w[i - 1] IN (SELECT w FROM vocab) THEN w[i - 1]
                    ELSE '<unk>' END AS p,
               CASE WHEN w[i] IN (SELECT w FROM vocab) THEN w[i]
                    ELSE '<unk>' END AS c
        FROM t, UNNEST(RANGE(2, LEN(w) + 1)) AS u(i)
        WHERE LEN(w) >= 2),
      scored AS (
        SELECT doc_id, COALESCE(bg.bnlp, pd.dnlp) AS nlp
        FROM prs LEFT JOIN bg ON bg.p = prs.p AND bg.c = prs.c
                 LEFT JOIN pd ON pd.p = prs.p)
      SELECT doc_id, COUNT(*) AS n_pairs,
             CAST(SUM(nlp) AS DOUBLE) AS bits_total,
             CAST(SUM(nlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bits_per_pair
      FROM scored GROUP BY doc_id
      ORDER BY doc_id"""
    }))

  // ---------------------------------------------------------------------
  // Temperature-smoothed mixture resampling
  // ---------------------------------------------------------------------

  /** Fit the temperature-smoothed sampling quotas (the multilingual
    * rebalancing rule of XLM-R / mBERT: q_l ∝ p_l^α with α = 0.7 flattens
    * the language distribution so low-resource languages are upsampled
    * relative to their share). Driver-side pow on a handful of language
    * counts, materialized as INTEGER quotas out of a 100-doc budget —
    * the query side never touches floating point. */
  private def mixFit(s: SparkSession, dir: String): Array[(String, Long)] =
    Artifacts.cached(s, "mixquota", dir) {
      import s.implicits._
      val counts = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("c"))
        .orderBy($"lang").as[(String, Long)].collect()
      val n = counts.map(_._2).sum.toDouble
      val smoothed = counts.map { case (l, c) => (l, math.pow(c / n, 0.7)) }
      val z = smoothed.map(_._2).sum
      smoothed.map { case (l, q) => (l, math.max(1L, math.floor(100.0 * q / z).toLong)) }
    }

  /** Deterministic resampling to the temperature-smoothed mixture:
    * within each language, rank documents by a salted md5 and keep the
    * first quota_l — same hash-rank machinery as tx_stratified_sample,
    * but the per-stratum k comes from the FITTED mixture instead of a
    * constant. 100 TB shape: one shuffle on the stratum key, a broadcast
    * quota join, per-stratum windows only ever sort a stratum. */
  val txResampleToMix = GraftQuery(
    "tx_resample_to_mix",
    (s, dir) => {
      import s.implicits._
      val quotas = mixFit(s, dir)
      val qDf = s.createDataFrame(
        s.sparkContext.parallelize(quotas.map { case (l, q) =>
          org.apache.spark.sql.Row(l, q)
        }.toSeq, 1),
        StructType(Seq(StructField("lang", StringType),
          StructField("quota", LongType))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang")
        .orderBy(md5(concat(lit("m|"), $"doc_id".cast(StringType))), $"doc_id")
      docs(s, dir)
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .join(broadcast(qDf), Seq("lang"))
        .filter($"rnk" <= $"quota")
        .select($"lang", $"quota", $"rnk", $"doc_id")
        .orderBy($"lang", $"rnk")
    },
    oracleGen = Some((s, dir) => {
      val vals = mixFit(s, dir)
        .map { case (l, q) => s"(${sq(l)}, CAST($q AS BIGINT))" }.mkString(", ")
      s"""
      WITH quota(lang, quota) AS (VALUES $vals),
      ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY MD5('m|' || CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn
        FROM documents)
      SELECT r.lang, q.quota, CAST(rn AS BIGINT) AS rnk, r.doc_id
      FROM ranked r JOIN quota q ON q.lang = r.lang
      WHERE rn <= q.quota
      ORDER BY r.lang, rnk"""
    }))

  // ---------------------------------------------------------------------
  // BM25 retrieval scoring
  // ---------------------------------------------------------------------

  private val bmTerms = Seq("join", "vector", "stream")
  private val bmK1 = "1.2"
  // (k1 + 1) and (1 - b) pre-folded as literals so both engines parse the
  // identical decimal text (b = 0.75).
  private val bmK1p1 = "2.2"
  private val bmOneMinusB = "0.25"
  private val bmB = "0.75"

  /** Fit the BM25 corpus statistics — N, Σdl, and per-term document
    * frequency — in ONE aggregate job; idf_t = ln((N − df + ½)/(df + ½) + 1)
    * (the Robertson–Spärck Jones "plus one" form, always positive) is
    * computed driver-side and QUANTIZED to DECIMAL(12,6), the same
    * transcendental-free contract as the DSIR/LM fits: the query side only
    * ever sees the quantized literal. */
  private def bm25Fit(s: SparkSession, dir: String): (Long, Long, Seq[(String, JBigDecimal)]) =
    Artifacts.cached(s, "bm25", dir) {
      import s.implicits._
      val toks = docs(s, dir)
        .select(expr("filter(split(text, ' '), x -> x != '')").as("w"))
      val aggs = count(lit(1)).as("n") +: sum(size($"w")).cast(LongType).as("sumdl") +:
        bmTerms.map(t =>
          sum(when(array_contains($"w", t), 1L).otherwise(0L)).as(s"df_$t"))
      val row = toks.agg(aggs.head, aggs.tail: _*).head()
      val n = row.getAs[Long]("n")
      val sumdl = row.getAs[Long]("sumdl")
      val idf = bmTerms.map { t =>
        val df = row.getAs[Long](s"df_$t")
        (t, quant6(math.log((n - df + 0.5) / (df + 0.5) + 1.0)))
      }
      (n, sumdl, idf)
    }

  /** Dialect-parametrized BM25 fragments shared by tx_bm25 and the
    * hybrid fusion: (tokenize expression, dl-length expression, score
    * expression over a CTE exposing `w`). tf and dl are exact integer
    * list ops; avgdl and the saturation formula are identical IEEE-double
    * scalar expression trees, and idf enters as a quantized decimal
    * literal cast once — so Spark and DuckDB agree bit-for-bit. */
  private def bm25Parts(spark: Boolean, n: Long, sumdl: Long,
      idf: Seq[(String, JBigDecimal)]): (String, String, String, String => String) = {
    val wExpr =
      if (spark) "filter(split(text, ' '), x -> x != '')"
      else "list_filter(string_split(text, ' '), x -> x <> '')"
    def tfOf(t: String) =
      if (spark) s"size(filter(w, x -> x = '$t'))"
      else s"len(list_filter(w, x -> x = '$t'))"
    val dlLen = if (spark) "size(w)" else "len(w)"
    val dl = s"CAST($dlLen AS DOUBLE)"
    val avgdl = s"(CAST($sumdl AS DOUBLE) / CAST($n AS DOUBLE))"
    val score = idf.map { case (t, q) =>
      val tf = s"CAST(${tfOf(t)} AS DOUBLE)"
      s"""CAST(CAST('${q.toPlainString}' AS DECIMAL(12,6)) AS DOUBLE)
               * ($tf * $bmK1p1)
               / ($tf + $bmK1 * ($bmOneMinusB + $bmB * ($dl / $avgdl)))"""
    }.mkString("(", "\n             + ", ")")
    (wExpr, dlLen, score, tfOf)
  }

  private def bm25Sql(spark: Boolean, n: Long, sumdl: Long,
      idf: Seq[(String, JBigDecimal)]): String = {
    val (wExpr, dlLen, score, tfOf) = bm25Parts(spark, n, sumdl, idf)
    val tfCols = idf.map { case (t, _) =>
      s"CAST(${tfOf(t)} AS BIGINT) AS tf_$t" }.mkString(",\n             ")
    s"""
      WITH t AS (SELECT doc_id, $wExpr AS w FROM documents)
      SELECT doc_id,
             CAST($dlLen AS BIGINT) AS dl,
             $tfCols,
             $score AS bm25
      FROM t
      ORDER BY doc_id"""
  }

  /** Okapi BM25 scoring of every document against a fixed query-term set
    * (k1 = 1.2, b = 0.75) — the lexical-retrieval ranking op (and the
    * quality-mix counterpart to the dense sim_ann_* family). Fit-once /
    * score-many: idf and avgdl come from one corpus aggregate; scoring is
    * a pure per-row projection — embarrassingly parallel, no shuffle at
    * all after the fit. */
  val txBm25 = GraftQuery(
    "tx_bm25",
    (s, dir) => {
      val (n, sumdl, idf) = bm25Fit(s, dir)
      Tables.registerViews(s, dir)
      s.sql(bm25Sql(spark = true, n, sumdl, idf))
    },
    oracleGen = Some((s, dir) => {
      val (n, sumdl, idf) = bm25Fit(s, dir)
      bm25Sql(spark = false, n, sumdl, idf)
    }))

  /** Hybrid lexical+dense retrieval SQL (dialect-parametrized): BM25
    * top-50 and cosine top-50 rankings fuse by Reciprocal Rank Fusion
    * (Cormack, Clarke & Buettcher 2009), Σ 1/(60 + rank). Both candidate
    * lists are ORDER BY + LIMIT (TakeOrdered in Spark — distributed
    * top-k, never a global-window sort over the corpus); ranks are
    * row_numbers over the 50 survivors only. Each 1/(60+r) is one
    * exactly-rounded IEEE division and the fusion adds the lexical term
    * then the dense term — fixed order, bit-identical across engines. */
  private def hybridSql(spark: Boolean, n: Long, sumdl: Long,
      idf: Seq[(String, JBigDecimal)]): String = {
    val (wExpr, _, score, _) = bm25Parts(spark, n, sumdl, idf)
    val dim = 64
    def dot(a: String, b: String) =
      if (spark)
        (1 to dim).map(i =>
          s"CAST(element_at($a, $i) AS DOUBLE) * CAST(element_at($b, $i) AS DOUBLE)")
          .mkString(" + ")
      else
        (1 to dim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
          .mkString(" + ")
    val cosine = s"(${dot("embedding", "qe")}) / (SQRT(${dot("embedding", "embedding")}) * SQRT(${dot("qe", "qe")}))"
    s"""
      WITH t AS (SELECT doc_id, $wExpr AS w FROM documents),
      lex0 AS (
        SELECT doc_id, $score AS s
        FROM t ORDER BY s DESC, doc_id LIMIT 50),
      lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS lex_rank
        FROM lex0),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      dense0 AS (
        SELECT vec_id AS doc_id, $cosine AS c
        FROM embeddings CROSS JOIN q
        WHERE vec_id <> 0
        ORDER BY c DESC, doc_id LIMIT 50),
      dense AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS BIGINT) AS vec_rank
        FROM dense0),
      fused AS (
        SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
               lex.lex_rank AS lex_rank, dense.vec_rank AS vec_rank,
               COALESCE(CAST(1 AS DOUBLE) / (60 + lex.lex_rank), CAST(0 AS DOUBLE))
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + dense.vec_rank), CAST(0 AS DOUBLE))
                 AS rrf
        FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
      SELECT doc_id, lex_rank, vec_rank, rrf
      FROM fused
      ORDER BY rrf DESC, doc_id
      LIMIT 10"""
  }

  /** Hybrid search over the SAME corpus id space (documents ids double
    * as embedding ids): the modern RAG retrieval stack's fusion step,
    * fully oracle-checked. 100 TB shape: each arm is an independent
    * top-k (lexical scoring is shuffle-free after the broadcast fit; the
    * dense arm is the brute anchor here and swaps for the persisted IVF
    * probe at scale); the fusion join touches 50+50 rows. */
  val simHybridRrf = GraftQuery(
    "sim_hybrid_rrf",
    (s, dir) => {
      val (n, sumdl, idf) = bm25Fit(s, dir)
      Tables.registerViews(s, dir)
      s.sql(hybridSql(spark = true, n, sumdl, idf))
    },
    oracleGen = Some((s, dir) => {
      val (n, sumdl, idf) = bm25Fit(s, dir)
      hybridSql(spark = false, n, sumdl, idf)
    }))

  // ---------------------------------------------------------------------
  // Character-level entropy / diversity (gibberish + repetition signal)
  // ---------------------------------------------------------------------

  /** Fit the quantized log2 table: every integer that can appear as a
    * per-(doc, char) count or a doc length in this corpus, mapped to
    * log2(k) as DECIMAL(12,6). The transcendental never runs plan-side —
    * the same contract as the DSIR/LM fits — so per-doc entropy becomes
    * exact decimal arithmetic plus two final IEEE ops. The distinct-count
    * set is bounded by the longest document (~387 values at sf0.01), a
    * driver-trivial collect at any corpus size. */
  private def entLogFit(s: SparkSession, dir: String): Array[(Long, JBigDecimal)] =
    Artifacts.cached(s, "entlog", dir) {
      import s.implicits._
      val d = docs(s, dir).filter(length($"text") >= 1)
      val ks = d
        .select($"doc_id", explode(expr("sequence(1, length(text))")).as("i"), $"text")
        .select($"doc_id", expr("substring(text, i, 1)").as("ch"))
        .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("k"))
        .select($"k")
        .union(d.select(length($"text").cast(LongType).as("k")))
        .distinct().as[Long].collect().sorted
      ks.map(k => (k, quant6(math.log(k.toDouble) / math.log(2.0))))
    }

  /** Per-document character-level Shannon entropy (bits/char) and Simpson
    * diversity — the classic gibberish/boilerplate quality signals (low
    * entropy ≈ repeated filler, near-max entropy ≈ random noise). Uses the
    * identity H = log2(n) − (Σ c·log2(c))/n so only integer counts and
    * quantized-decimal log2 values aggregate (order-independent, exact);
    * entropy and Simpson (1 − Σc²/n²) are then fixed-order IEEE ops on
    * already-deterministic inputs. 100 TB shape: the char explode is
    * per-doc linear work, one (doc, char) shuffle, a broadcast log-table
    * join — no transcendentals, no float aggregation anywhere. */
  val txCharEntropy = GraftQuery(
    "tx_char_entropy",
    (s, dir) => {
      import s.implicits._
      val logs = entLogFit(s, dir)
      val logDf = s.createDataFrame(
        s.sparkContext.parallelize(logs.map { case (k, l) =>
          org.apache.spark.sql.Row(k, l)
        }.toSeq, 1),
        StructType(Seq(StructField("k", LongType),
          StructField("lk", DecimalType(12, 6)))))
      val cnt = docs(s, dir).filter(length($"text") >= 1)
        .select($"doc_id", explode(expr("sequence(1, length(text))")).as("i"), $"text")
        .select($"doc_id", expr("substring(text, i, 1)").as("ch"))
        .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("k"))
      val agg = cnt.join(broadcast(logDf), Seq("k"))
        .groupBy($"doc_id")
        .agg(sum($"k" * $"lk").as("slk"), sum($"k").as("n"),
          count(lit(1)).as("distinct_chars"), sum($"k" * $"k").as("sk2"))
      agg.join(broadcast(logDf.select($"k".as("n"), $"lk".as("ln2"))), Seq("n"))
        .select($"doc_id", $"n".as("n_chars"), $"distinct_chars",
          ($"ln2".cast(DoubleType)
            - $"slk".cast(DoubleType) / $"n".cast(DoubleType)).as("entropy_bits"),
          (lit(1.0d) - $"sk2".cast(DoubleType)
            / ($"n" * $"n").cast(DoubleType)).as("simpson"))
        .orderBy($"doc_id")
    },
    oracleGen = Some((s, dir) => {
      val vals = entLogFit(s, dir)
        .map { case (k, l) => s"($k, ${l.toPlainString}::DECIMAL(12,6))" }
        .mkString(", ")
      s"""
      WITH logt(k, lk) AS (VALUES $vals),
      chars AS (
        SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS ch
        FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
        WHERE length(text) >= 1),
      cnt AS (SELECT doc_id, ch, COUNT(*) AS k FROM chars GROUP BY 1, 2),
      agg AS (
        SELECT c.doc_id, SUM(c.k * l.lk) AS slk, SUM(c.k) AS n,
               COUNT(*) AS distinct_chars, SUM(c.k * c.k) AS sk2
        FROM cnt c JOIN logt l ON l.k = c.k GROUP BY 1)
      SELECT a.doc_id, CAST(a.n AS BIGINT) AS n_chars,
             CAST(a.distinct_chars AS BIGINT) AS distinct_chars,
             CAST(l.lk AS DOUBLE) - CAST(a.slk AS DOUBLE) / CAST(a.n AS DOUBLE)
               AS entropy_bits,
             CAST(1 AS DOUBLE) - CAST(a.sk2 AS DOUBLE)
               / CAST(a.n * a.n AS DOUBLE) AS simpson
      FROM agg a JOIN logt l ON l.k = a.n
      ORDER BY a.doc_id"""
    }))

  /** CCNet's head/middle/tail perplexity bucketing (Wenzek et al. 2020):
    * score every document with the [[txLmScore]] bits-per-token model,
    * cut the corpus at the 33rd/67th percentiles of that score, and
    * report per-(lang, bucket) composition — the selection step CCNet
    * actually trains on ("head" = most in-domain text). Determinism:
    * per-doc scores are the exact-decimal sums of [[txLmScore]] (their
    * final double division is one correctly-rounded IEEE op), the two
    * global percentile_cont thresholds interpolate those deterministic
    * doubles identically in both engines (the q39 precedent), and the
    * per-bucket mean is an exact decimal sum with ONE final division.
    *
    * 100 TB shape: scoring is the broadcast-vocab join; the thresholds
    * are ONE tiny two-value global aggregate broadcast back (at real
    * scale an approx-quantile sketch — q39b — replaces it); bucketing is
    * a per-row comparison; the report is a low-cardinality aggregate. */
  val txCcnetBuckets = GraftQuery(
    "tx_ccnet_buckets",
    (s, dir) => {
      import s.implicits._
      val (vocab, unkNlp) = lmFit(s, dir)
      val vocabDf = s.createDataFrame(
        s.sparkContext.parallelize(vocab.map { case (w, p) =>
          org.apache.spark.sql.Row(w, p)
        }.toSeq, 1),
        StructType(Seq(StructField("w", StringType),
          StructField("nlp", DecimalType(12, 6)))))
      val toks = docs(s, dir)
        .select($"doc_id", $"lang",
          explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      val unkLit = lit(unkNlp).cast(DecimalType(12, 6))
      val scored = toks.join(broadcast(vocabDf), Seq("w"), "left")
        .select($"doc_id", $"lang", coalesce($"nlp", unkLit).as("nlp"))
        .groupBy($"doc_id", $"lang")
        .agg(sum($"nlp").as("bt"), count(lit(1)).as("n_tokens"))
        .select($"doc_id", $"lang", $"bt", $"n_tokens",
          ($"bt".cast(DoubleType) / $"n_tokens".cast(DoubleType)).as("bpt"))
      val cuts = scored.agg(
        expr("percentile_cont(0.33) WITHIN GROUP (ORDER BY bpt)").as("p33"),
        expr("percentile_cont(0.67) WITHIN GROUP (ORDER BY bpt)").as("p67"))
      scored.crossJoin(broadcast(cuts))
        .select($"lang", $"bt", $"n_tokens",
          when($"bpt" < $"p33", "head")
            .when($"bpt" < $"p67", "middle")
            .otherwise("tail").as("bucket"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("tokens"),
          (sum($"bt").cast(DoubleType) / sum($"n_tokens").cast(DoubleType))
            .as("avg_bits_per_token"))
        .orderBy($"lang", $"bucket")
    },
    oracleGen = Some((s, dir) => {
      val (vocab, unkNlp) = lmFit(s, dir)
      val vals = vocab
        .map { case (w, p) => s"(${sq(w)}, ${p.toPlainString}::DECIMAL(12,6))" }
        .mkString(", ")
      s"""
      WITH vocab(w, nlp) AS (VALUES $vals),
      toks AS (
        SELECT doc_id, lang,
               UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents),
      scored AS (
        SELECT doc_id, lang, SUM(nlp) AS bt, COUNT(*) AS n_tokens,
               CAST(SUM(nlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bpt
        FROM (
          SELECT t.doc_id, t.lang,
                 COALESCE(v.nlp, ${unkNlp.toPlainString}::DECIMAL(12,6)) AS nlp
          FROM toks t LEFT JOIN vocab v ON v.w = t.w) x
        GROUP BY doc_id, lang),
      cuts AS (
        SELECT PERCENTILE_CONT(0.33) WITHIN GROUP (ORDER BY bpt) AS p33,
               PERCENTILE_CONT(0.67) WITHIN GROUP (ORDER BY bpt) AS p67
        FROM scored)
      SELECT lang,
             CASE WHEN bpt < p33 THEN 'head'
                  WHEN bpt < p67 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
             CAST(SUM(bt) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
               AS avg_bits_per_token
      FROM scored CROSS JOIN cuts
      GROUP BY 1, 2
      ORDER BY lang, bucket"""
    }))

  val all: Seq[GraftQuery] = Seq(txDsirWeights, txLmScore, txBigramLm, txResampleToMix,
    txBm25, simHybridRrf, txCharEntropy, txCcnetBuckets)
}
