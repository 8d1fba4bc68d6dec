package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{GraftQuery, Tables}

/** Text-analysis + document-dedup operators for training-data pipelines
  * (driver-mandated extensions, SURVEY §7.6.5), over the `documents` table.
  *
  * Scale notes (100 TB target): every operator here is a pure
  * per-row projection or a key-partitioned aggregate/join — no driver-side
  * state, no cross-partition dependencies beyond standard shuffles.
  * Shingle/minhash joins are banded (LSH) precisely so the candidate-pair
  * space stays near-linear instead of quadratic.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** ExactSubstr window length (tokens) — declared up top because both
    * dd_substring_dup and dd_dedup_report interpolate it into oracle SQL
    * at object-initialization time. */
  private val SubstrK = 5

  // ---------------------------------------------------------------------
  // Per-row text kernels: a document's metrics computed inside its row
  // ---------------------------------------------------------------------

  /** The `n`-token shingles of a `tokens` array, in order and with
    * multiplicity — THE shingle definition shared by the dedup /
    * repetition / contamination operators (each DuckDB oracle mirrors it
    * verbatim, so a change here must change every oracle too). NULL for
    * fewer than `n` tokens. */
  private def shingles(tokens: Column, n: Int): Column =
    when(size(tokens) >= n, transform(sequence(lit(1), size(tokens) - (n - 1)),
      i => concat_ws(" ", slice(tokens, i, lit(n)))))

  /** (doc_id, shingle) rows of a docs frame that already carries a
    * `tokens` array column: [[shingles]] exploded, so a document with
    * fewer than `n` tokens has no row. `distinct=false` keeps
    * multiplicities (corpus n-gram counts). */
  private def shingleRows(withTokens: DataFrame, n: Int, distinct: Boolean = true): DataFrame = {
    val rows = withTokens.select(col("doc_id"), explode(shingles(col("tokens"), n)).as("shingle"))
    if (distinct) rows.distinct() else rows
  }

  /** How often the most frequent element of a string array occurs: the
    * longest run of equal elements once the array is sorted, found in one
    * pass (`top` holds the longest finished run). 0 for an empty array. */
  private def topCount(words: Column): Column =
    aggregate(sort_array(words),
      struct(lit(null).cast(StringType).as("w"), lit(0L).as("run"), lit(0L).as("top")),
      (acc, w) => when(w === acc("w"),
          struct(w.as("w"), (acc("run") + 1L).as("run"), acc("top").as("top")))
        .otherwise(struct(w.as("w"), lit(1L).as("run"), greatest(acc("top"), acc("run")).as("top"))),
      acc => greatest(acc("top"), acc("run")))

  private val nHashes = 8

  /** The 8-permutation MinHash signature of each (doc_id, text) row, in
    * the row: `mh<h>` is the least md5('h|' || shingle) over the
    * document's 3-token shingles. Documents with fewer than 3 tokens have
    * no shingle and no row. The corpus artifact and every arriving batch
    * are signed by this one definition. */
  private[graft] def minhashSigned(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), shingles(col("tokens"), 3).as("sh"))
      .select(col("doc_id") +: (0 until nHashes).map(h =>
        array_min(transform(col("sh"), x => md5(concat(lit(s"$h|"), x)))).as(s"mh$h")): _*)

  // ---------------------------------------------------------------------
  // Token counting
  // ---------------------------------------------------------------------

  /** BPE-style pre-tokenization counts: the GPT-2 pre-tokenizer's shape
    * (space-prefixed letter runs / digit runs / punctuation runs)
    * restricted to lookahead-free alternation so Java regex (Spark) and
    * RE2 (DuckDB) match identically — both are leftmost-first engines, so
    * the match COUNTS are bit-comparable. The per-token-length ratio is a
    * single IEEE division (exactly rounded in both engines). */
  val txBpeTokens = GraftQuery(
    "tx_bpe_tokens",
    (s, dir) => {
      import s.implicits._
      val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"
      docs(s, dir).select(
        $"doc_id",
        size(regexp_extract_all($"text", lit(pat), lit(0)))
          .cast(LongType).as("n_bpe_tokens"),
        size(regexp_extract_all($"text", lit(" ?[0-9]+"), lit(0)))
          .cast(LongType).as("n_number_tokens"),
        // nullif guards the zero-token (empty doc) case: Spark's Divide
        // returns NULL on /0 while DuckDB's IEEE mode returns inf/NaN —
        // pinning the divisor to NULL makes both engines agree on NULL.
        (length($"text").cast(DoubleType) /
          nullif(size(regexp_extract_all($"text", lit(pat), lit(0)))
            .cast(DoubleType), lit(0.0d)))
          .as("chars_per_token"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(LEN(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS BIGINT)
               AS n_bpe_tokens,
             CAST(LEN(regexp_extract_all(text, ' ?[0-9]+')) AS BIGINT)
               AS n_number_tokens,
             CAST(LENGTH(text) AS DOUBLE)
               / NULLIF(CAST(LEN(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS DOUBLE), 0)
               AS chars_per_token
      FROM documents
      ORDER BY doc_id"""))

  val txTokenCount = GraftQuery(
    "tx_token_count",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .withColumn("tokens", split($"text", " "))
        .select(
          $"doc_id",
          size($"tokens").cast(LongType).as("n_tokens"),
          size(array_distinct($"tokens")).cast(LongType).as("n_distinct_tokens"),
          length($"text").cast(LongType).as("n_chars_calc"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_distinct_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars_calc
      FROM documents
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Quality scoring
  // ---------------------------------------------------------------------

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  val txQuality = GraftQuery(
    "tx_quality_score",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .withColumn("tokens", split($"text", " "))
        .withColumn("n_tokens", size($"tokens").cast(LongType))
        .withColumn("n_stop",
          expr(s"size(filter(tokens, w -> w IN ($stopList)))").cast(LongType))
        .select(
          $"doc_id",
          $"n_tokens",
          $"n_stop",
          (($"n_chars" - ($"n_tokens" - 1)).cast(DoubleType) / $"n_tokens").as("avg_token_len"),
          ($"n_stop".cast(DoubleType) / $"n_tokens").as("stop_ratio"),
          when($"n_tokens" < 20, "too_short")
            .when($"n_tokens" > 500, "too_long")
            .when($"n_stop".cast(DoubleType) / $"n_tokens" > 0.4, "boilerplate")
            .otherwise("ok").as("verdict"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, n_chars,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                    w -> w IN ($stopList))) AS BIGINT) AS n_stop
        FROM documents)
      SELECT doc_id, n_tokens, n_stop,
             CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
             CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
             CASE WHEN n_tokens < 20 THEN 'too_short'
                  WHEN n_tokens > 500 THEN 'too_long'
                  WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.4 THEN 'boilerplate'
                  ELSE 'ok' END AS verdict
      FROM t
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Language identification (stopword-hit heuristic)
  // ---------------------------------------------------------------------

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "es", "y", "que"),
    "fr" -> Seq("le", "les", "est", "et", "dans"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo"))

  val txLangId = GraftQuery(
    "tx_langid",
    (s, dir) => {
      import s.implicits._
      var df = docs(s, dir).withColumn("tokens", split($"text", " "))
      for ((lang, words) <- langStops) {
        val lst = words.map(w => s"'$w'").mkString(", ")
        df = df.withColumn(s"score_$lang",
          expr(s"size(filter(tokens, w -> w IN ($lst)))").cast(LongType))
      }
      val scores = langStops.map { case (l, _) => col(s"score_$l") }
      val best = greatest(scores: _*)
      var pred: Column = lit("und")
      // reverse CASE order so earlier langs win ties, mirroring the SQL
      for ((lang, _) <- langStops.reverse)
        pred = when(col(s"score_$lang") === best && best > 0, lang).otherwise(pred)
      df.select(($"doc_id" +: $"lang".as("labeled_lang") +: pred.as("predicted_lang") +:
        langStops.map { case (l, _) => col(s"score_$l") }): _*)
        .orderBy($"doc_id")
    },
    Some {
      val scoreCols = langStops.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"CAST(LEN(LIST_FILTER(tokens, w -> w IN ($lst))) AS BIGINT) AS score_$lang"
      }.mkString(",\n               ")
      val best = "GREATEST(" + langStops.map("score_" + _._1).mkString(", ") + ")"
      val cases = langStops.map { case (lang, _) =>
        s"WHEN score_$lang = $best AND $best > 0 THEN '$lang'"
      }.mkString("\n                  ")
      s"""
      WITH t AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS tokens FROM documents),
      sc AS (SELECT doc_id, lang,
               $scoreCols
             FROM t)
      SELECT doc_id, lang AS labeled_lang,
             CASE $cases
                  ELSE 'und' END AS predicted_lang,
             ${langStops.map("score_" + _._1).mkString(", ")}
      FROM sc
      ORDER BY doc_id"""
    })

  // ---------------------------------------------------------------------
  // PII / term scrubbing
  // ---------------------------------------------------------------------

  // Patterns deliberately avoid backslash escapes: Spark SQL string
  // literals process backslashes, DuckDB's don't — [.] classes sidestep
  // the dialect divergence so both engines compile the same regex.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val termRe = "customer|supplier"

  /** Redaction pass of a training-data pipeline: count + replace email /
    * phone PII patterns and a blockwords list. Pure per-row projection
    * (scale-safe); replacement order identical in both engines so the
    * scrubbed-text hash is comparable. */
  val txScrub = GraftQuery(
    "tx_scrub",
    (s, dir) => {
      import s.implicits._
      docs(s, dir).select(
        $"doc_id",
        size(expr(s"regexp_extract_all(text, '$emailRe', 0)")).cast(LongType).as("n_email"),
        size(expr(s"regexp_extract_all(text, '$phoneRe', 0)")).cast(LongType).as("n_phone"),
        size(expr(s"regexp_extract_all(text, '$termRe', 0)")).cast(LongType).as("n_term"),
        md5(regexp_replace(
          regexp_replace(
            regexp_replace($"text", emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]"),
          termRe, "[TERM]")).as("scrubbed_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '$emailRe')) AS BIGINT) AS n_email,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '$phoneRe')) AS BIGINT) AS n_phone,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '$termRe')) AS BIGINT) AS n_term,
             MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
               text, '$emailRe', '[EMAIL]', 'g'), '$phoneRe', '[PHONE]', 'g'),
               '$termRe', '[TERM]', 'g')) AS scrubbed_hash
      FROM documents
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Repetition signals (Gopher-style quality rules)
  // ---------------------------------------------------------------------

  /** Per-document repetition metrics used by LLM training-data filters
    * (top-token fraction, duplicate 2-/3-gram fractions), each computed
    * inside the document's own row by the per-row text kernels: no token
    * leaves its row, so the only exchange is the output sort. Documents
    * with no non-empty word have no row; a document with fewer than n
    * tokens has no n-grams and a fraction of 0.0. Single int/int division
    * per fraction keeps doubles bit-identical across engines. */
  val txRepetition = GraftQuery(
    "tx_repetition",
    (s, dir) => {
      import s.implicits._
      def dupFrac(grams: Column): Column =
        when(grams.isNull, lit(0.0)).otherwise(
          (size(grams) - size(array_distinct(grams))).cast(DoubleType) /
            size(grams).cast(DoubleType))
      docs(s, dir)
        .select($"doc_id", split($"text", " ").as("tokens"))
        .filter(exists($"tokens", _ =!= ""))
        .select($"doc_id", $"tokens", filter($"tokens", _ =!= "").as("words"))
        .select($"doc_id", size($"words").cast(LongType).as("n_tokens"),
          topCount($"words").as("top_c"),
          shingles($"tokens", 2).as("g2"), shingles($"tokens", 3).as("g3"))
        .select(
          $"doc_id", $"n_tokens",
          ($"top_c".cast(DoubleType) / $"n_tokens".cast(DoubleType)).as("top_token_frac"),
          dupFrac($"g2").as("dup_bigram_frac"),
          dupFrac($"g3").as("dup_trigram_frac"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH w2 AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        WHERE w <> ''),
      tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM w2 GROUP BY doc_id),
      topc AS (SELECT doc_id, MAX(c) AS top_c
               FROM (SELECT doc_id, w, COUNT(*) AS c FROM w2 GROUP BY 1, 2)
               GROUP BY doc_id),
      b2 AS (SELECT doc_id, COUNT(*) AS ng2, COUNT(DISTINCT g) AS ndg2
             FROM (SELECT doc_id, ARRAY_TO_STRING(tokens[i:i+1], ' ') AS g
                   FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
                        UNNEST(RANGE(1, LEN(tokens))) AS t(i)
                   WHERE LEN(tokens) >= 2)
             GROUP BY doc_id),
      b3 AS (SELECT doc_id, COUNT(*) AS ng3, COUNT(DISTINCT g) AS ndg3
             FROM (SELECT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS g
                   FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
                        UNNEST(RANGE(1, LEN(tokens) - 1)) AS t(i)
                   WHERE LEN(tokens) >= 3)
             GROUP BY doc_id)
      SELECT tot.doc_id AS doc_id, n_tokens,
             CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac,
             COALESCE(CAST(ng2 - ndg2 AS DOUBLE) / CAST(ng2 AS DOUBLE), 0.0) AS dup_bigram_frac,
             COALESCE(CAST(ng3 - ndg3 AS DOUBLE) / CAST(ng3 AS DOUBLE), 0.0) AS dup_trigram_frac
      FROM tot
      JOIN topc ON topc.doc_id = tot.doc_id
      LEFT JOIN b2 ON b2.doc_id = tot.doc_id
      LEFT JOIN b3 ON b3.doc_id = tot.doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Fingerprinting + exact dedup
  // ---------------------------------------------------------------------

  /** Order-insensitive content fingerprint (sorted-token md5). */
  val txFingerprint = GraftQuery(
    "tx_fingerprint",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id",
          md5(concat_ws(" ", sort_array(split(lower($"text"), " ")))).as("fingerprint"),
          md5($"text").as("exact_hash"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
             MD5(ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(LOWER(text), ' ')), ' ')) AS fingerprint,
             MD5(text) AS exact_hash
      FROM documents
      ORDER BY doc_id"""))

  /** Exact dedup: hash-groupBy, keep lowest doc_id per content hash.
    * At 100 TB this is one hash-partitioned shuffle on a 32-char key. */
  val ddExact = GraftQuery(
    "dd_exact_dedup",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select($"keep_id", $"n_copies")
        .orderBy($"keep_id")
    },
    Some("""
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY MD5(text)
      ORDER BY keep_id"""))

  // ---------------------------------------------------------------------
  // N-gram Jaccard near-dup (5-token shingles, shared-shingle candidates)
  // ---------------------------------------------------------------------

  /** Max documents a shingle may appear in before it is dropped as
    * boilerplate. Without this cap a shingle shared by k docs contributes
    * k² candidate pairs — one hot header line across a corpus turns the
    * self-join quadratic (VERDICT r1 "What's wrong" #3). The cap bounds
    * per-key join fan-out at df² and removes exactly the shingles that
    * carry no near-dup signal. Jaccard is then over the df-capped shingle
    * sets on both engines (semantics mirrored in the oracle). */
  private val maxShingleDf = 50

  /** PERSISTED df-capped 5-shingle posting table, built once per
    * (session, dir) behind the shared write-once guard and BUCKETED BY
    * `shingle` — the join key of every consumer (dd_ngram_jaccard's and
    * dd_containment's candidate self-joins run bucket-co-located with no
    * posting shuffle). The same artifact contract as
    * [[minhashSigTable]]: at 100 TB the shingle postings are signed once
    * by a batch job and every similarity pass reads the table. */
  private[graft] def shingleTable(s: SparkSession, dir: String): DataFrame =
    shingleTableN(s, dir, 5)

  /** The df-capped n-shingle posting artifact, generalized (r12): the
    * 3-gram table feeds dd_lsh_eval's exact-Jaccard truth arm the same
    * way the 5-gram table feeds the ngram/containment/sweep family. */
  private[graft] def shingleTableN(s: SparkSession, dir: String, n: Int): DataFrame = {
    val name = graft.Artifacts.table(s, s"shingle$n", dir) { base =>
      val all = shingleRows(
        docs(s, dir).withColumn("tokens", split(col("text"), " ")), n)
      val rare = all.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf)
        .select(col("shingle"))
      all.join(rare, Seq("shingle"), "left_semi")
        .write.mode("overwrite")
        .bucketBy(16, "shingle").sortBy("shingle")
        .saveAsTable(base)
    }
    s.table(name)
  }

  /** (doc_a, doc_b, shared): per unordered doc pair, the number of
    * shared shingles — computed by per-shingle COMBINATION GENERATION
    * over the df-capped posting lists instead of a posting self-join
    * (r12 optimization): one exchange of the postings replaces the
    * self-join's two exchanges plus their sort-merge sorts. The pair
    * multiset is identical — every unordered combo is emitted exactly
    * once as (min, max), and the df cap bounds per-list work at df²
    * exactly as it bounded the join fan-out.
    *
    * PRECONDITION (correctness, not just performance): `doc_id` must be
    * UNIQUE within each shingle's posting list — a duplicate would emit
    * doc_a = doc_b self-pairs and inflate the shared counts. Every caller
    * passes [[shingleTable]]/[[shingleTableN]], whose rows are DISTINCT
    * (doc_id, shingle) by construction.
    *
    * r13 optimization (VERDICT r12 next #4, guide §2.3 — shuffle fewer
    * rows): when the consumer applies a Jaccard floor 1/k downstream, a
    * pair can only reach it if shared ≥ (na+nb)/(k+1); since
    * shared ≤ min(na, nb), pairs with (k+1)·min(na,nb) < na+nb are
    * UNREACHABLE and are pruned inside the combination lambda — before
    * the (doc_a, doc_b) exchange and count — by attaching each doc's
    * shingle count to its posting entries (broadcast, so the bucketed
    * posting scan is never re-exchanged). Integer-exact: k+1 is a whole
    * number for every caller (0.2 → 6, 0.5 → 3, 0.1 → 11), so no pair at
    * or above the floor is ever dropped; consumers keep their original
    * jaccard filters, which the prune strictly under-runs. */
  private def sharedShingleCounts(sh: DataFrame,
      keepFactor: Option[Long] = None): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val pairs = keepFactor match {
      case Some(k) =>
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
        sh.join(broadcast(cnt), "doc_id")
          .groupBy($"shingle")
          .agg(collect_list(struct($"doc_id", $"n_sh")).as("ds"))
          .filter(size($"ds") >= 2)
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> " +
              "transform(filter(slice(ds, i + 2, size(ds)), y -> " +
              s"$k * least(x.n_sh, y.n_sh) >= x.n_sh + y.n_sh), y -> " +
              "struct(least(x.doc_id, y.doc_id) AS doc_a, " +
              "greatest(x.doc_id, y.doc_id) AS doc_b))))")).as("p"))
      case None =>
        sh.groupBy($"shingle").agg(collect_list($"doc_id").as("ds"))
          .filter(size($"ds") >= 2)
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> " +
              "transform(slice(ds, i + 2, size(ds)), y -> " +
              "struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))")).as("p"))
    }
    pairs
      .select($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
  }

  val ddNgramJaccard = GraftQuery(
    "dd_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      val sh = shingleTable(s, dir)
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      // r13: jaccard >= 0.2 downstream => only pairs with 6*min >= na+nb
      // can qualify; prune inside the pair generation (see
      // sharedShingleCounts scaladoc). Rows identical, fewer shuffled.
      val pairs = sharedShingleCounts(sh, keepFactor = Some(6L))
      pairs
        .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn("jaccard",
          $"shared".cast(DoubleType) / ($"na" + $"nb" - $"shared").cast(DoubleType))
        .filter($"jaccard" >= 0.2)
        .select($"doc_a", $"doc_b", $"shared", $"na", $"nb", $"jaccard")
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""
      WITH allsh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+4], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 3)) AS t(i)
        WHERE LEN(tokens) >= 5),
      sh AS (
        SELECT doc_id, shingle FROM allsh
        WHERE shingle IN (SELECT shingle FROM allsh
                          GROUP BY shingle HAVING COUNT(*) <= $maxShingleDf)),
      cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared, ca.n_shingles AS na, cb.n_shingles AS nb,
             CAST(shared AS DOUBLE) / CAST(ca.n_shingles + cb.n_shingles - shared AS DOUBLE) AS jaccard
      FROM pairs
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / CAST(ca.n_shingles + cb.n_shingles - shared AS DOUBLE) >= 0.2
      ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------------
  // Benchmark decontamination
  // ---------------------------------------------------------------------

  /** Decontamination pass: flag training documents sharing any n-gram
    * with the benchmark/eval set (here: doc_id < 5 stands in for the eval
    * corpus; n = 5 so the synthetic corpus produces non-trivial overlap —
    * real pipelines use 8-13). At 100 TB the eval shingle set is tiny
    * relative to the corpus, so the overlap test is a BROADCAST join —
    * the training corpus never shuffles. */
  val txContamination = GraftQuery(
    "tx_contamination",
    (s, dir) => {
      import s.implicits._
      val base = docs(s, dir).withColumn("tokens", split($"text", " "))
      val bench = shingleRows(base.filter($"doc_id" < 5), 5).select($"shingle").distinct()
      val train = shingleRows(base.filter($"doc_id" >= 5), 5)
      train.join(broadcast(bench), Seq("shingle"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
      sh AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+4], ' ') AS g
             FROM t, UNNEST(RANGE(1, LEN(tokens) - 3)) AS u(i)
             WHERE LEN(tokens) >= 5),
      bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 5),
      train AS (SELECT doc_id, g FROM sh WHERE doc_id >= 5)
      SELECT doc_id, COUNT(*) AS n_contaminated
      FROM train JOIN bench USING (g)
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // MinHash signatures + LSH banding
  // ---------------------------------------------------------------------

  /** The PERSISTED MinHash signature artifact (VERDICT r7 #4): written
    * ONCE per (session, dir) as a doc_id-bucketed catalog table behind
    * the same write-once guard the IVF/PQ indexes use, then every LSH
    * consumer (dd_minhash_lsh_pairs, dd_lsh_eval, dd_lsh_stats,
    * dd_incremental, dd_dedup_clusters, dd_cc_incremental) reads the
    * table — zero signature fits in consumer lineage, so bench numbers
    * measure the operator, not whichever query touched the fit first.
    * Signatures are md5 hex strings and Long keys — parquet round-trips
    * them exactly, so consumer hashes are unchanged vs the in-memory fit.
    * At 100 TB this IS the production shape: sign the corpus in one batch
    * job, serve every dedup/eval pass from the signature table. */
  private[graft] def minhashSigTable(s: SparkSession, dir: String): DataFrame = {
    val name = graft.Artifacts.table(s, "minhash_sig", dir) { base =>
      minhashSigned(docs(s, dir))
        .write.mode("overwrite")
        .bucketBy(16, "doc_id").sortBy("doc_id")
        .saveAsTable(base)
    }
    s.table(name)
  }

  /** 8-permutation MinHash via seeded md5; min over hex strings is a
    * legitimate uniform min-permutation and is engine-portable. This
    * query measures the FIT itself; consumers read [[minhashSigTable]]. */
  val ddMinhashSig = GraftQuery(
    "dd_minhash_sig",
    (s, dir) => {
      import s.implicits._
      minhashSigned(docs(s, dir)).orderBy($"doc_id")
    },
    Some {
      val aggs = (0 until nHashes)
        .map(h => s"MIN(MD5('$h|' || shingle)) AS mh$h").mkString(",\n             ")
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 1)) AS t(i)
        WHERE LEN(tokens) >= 3)
      SELECT doc_id,
             $aggs
      FROM sh
      GROUP BY doc_id
      ORDER BY doc_id"""
    })

  /** (doc_id, band, bucket) band tuples of a signature frame in ONE scan
    * via posexplode (r12 optimization: the previous four-branch union
    * scanned the signature table once per band). Row set identical:
    * posexplode's pos IS the band index h/2. */
  private[graft] def sigBands(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    sig.select($"doc_id", posexplode(array((0 until nHashes by 2).map(h =>
      concat(col(s"mh$h"), col(s"mh${h + 1}"))): _*)).as(Seq("band", "bucket")))
  }

  /** The UNORDERED banded candidate-pair plan shared by every LSH
    * consumer (dd_minhash_lsh_pairs adds the output ORDER BY; dd_lsh_eval
    * / the cluster fixpoints consume the pairs as a set). Factored out in
    * the r12 optimization round so set-shaped consumers carry no dead
    * global sort in their lineage. */
  private def lshCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the persisted signature artifact: no fit in this query's lineage,
    // and the 8 band branches scan the bucketed table, not a recompute
    val sig = minhashSigTable(s, dir)
    val bands = sigBands(sig)
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH banding: 4 bands × 2 rows; docs sharing any band become candidate
    * pairs. The band bucket-join is what keeps near-dup detection
    * near-linear at scale (vs the quadratic all-pairs join). */
  val ddMinhashLshPairs = GraftQuery(
    "dd_minhash_lsh_pairs",
    (s, dir) => {
      import s.implicits._
      lshCandidatePairs(s, dir).orderBy($"doc_a", $"doc_b")
    },
    Some {
      val aggs = (0 until nHashes)
        .map(h => s"MIN(MD5('$h|' || shingle)) AS mh$h").mkString(", ")
      val bandSelects = (0 until nHashes by 2).map { h =>
        s"SELECT doc_id, ${h / 2} AS band, mh$h || mh${h + 1} AS bucket FROM sig"
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 1)) AS t(i)
        WHERE LEN(tokens) >= 3),
      sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id),
      bands AS (
        $bandSelects)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      ORDER BY doc_a, doc_b"""
    })

  /** LSH tuning evaluation: precision/recall of the banded MinHash
    * candidate pairs against EXACT 3-gram Jaccard ≥ 0.5 ground truth —
    * the report that justifies a band/row configuration before running
    * it over the full corpus. The truth side is an all-pairs shingle
    * join, so it is ENFORCED-bounded (VERDICT r7 #3): shingles with
    * df > [[maxShingleDf]] are dropped before the self-join — the same
    * cap dd_ngram_jaccard carries — bounding per-key fan-out at df² (a
    * boilerplate shingle shared by k docs would otherwise contribute k²
    * pairs and turn the eval quadratic in corpus size). Truth is then
    * exact Jaccard over the df-capped shingle sets, mirrored verbatim in
    * the oracle. Ratios are exact integer→double divisions,
    * bit-identical across engines. */
  /** Near-neighbor SERVING over the persisted MinHash signature artifact —
    * the "find docs like this one" lookup a curation UI or a targeted-
    * dedup job runs, as opposed to the all-pairs sweep of
    * [[ddMinhashLshPairs]]: a small query set (doc_id % 4 = 0) probes
    * the band buckets for candidates, estimated Jaccard = the fraction
    * of agreeing signature components (integer count / constant — one
    * deterministic division), top-3 per query by (matches DESC, doc).
    * 100 TB shape: the query side is tiny and broadcasts through every
    * join; candidates come from the same band equi-join the pair sweep
    * uses (never a scan of the corpus per query); signatures attach by
    * doc-keyed joins against the bucketed artifact. */
  val ddMinhashTopk = GraftQuery(
    "dd_minhash_topk",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val sig = minhashSigTable(s, dir)
      val bands = sigBands(sig)
      val qb = bands.filter($"doc_id" % 4 === 0)
      val cand = broadcast(qb).as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("query_doc"), col("b.doc_id").as("neighbor"))
        .distinct()
      val matches = (0 until nHashes).map(h =>
        when(col(s"qs.mh$h") === col(s"ns.mh$h"), 1L).otherwise(0L))
        .reduce(_ + _).as("n_matching")
      val w = Window.partitionBy($"query_doc")
        .orderBy($"n_matching".desc, $"neighbor")
      cand
        .join(sig.as("qs"), cand("query_doc") === col("qs.doc_id"))
        .join(sig.as("ns"), cand("neighbor") === col("ns.doc_id"))
        .select($"query_doc", $"neighbor", matches)
        .withColumn("rn", row_number().over(w)).filter($"rn" <= 3).drop("rn")
        .withColumn("est_jaccard",
          $"n_matching".cast(DoubleType) / lit(nHashes.toDouble))
        .orderBy($"query_doc", $"n_matching".desc, $"neighbor")
    },
    Some {
      val aggs = (0 until nHashes)
        .map(h => s"MIN(MD5('$h|' || shingle)) AS mh$h").mkString(", ")
      val bandSelects = (0 until nHashes by 2).map { h =>
        s"SELECT doc_id, ${h / 2} AS band, mh$h || mh${h + 1} AS bucket FROM sig"
      }.mkString("\n        UNION ALL\n        ")
      val matchSum = (0 until nHashes)
        .map(h => s"CASE WHEN qs.mh$h = ns.mh$h THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 1)) AS t(i)
        WHERE LEN(tokens) >= 3),
      sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS query_doc, b.doc_id AS neighbor
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
        WHERE a.doc_id % 4 = 0),
      scored AS (
        SELECT cand.query_doc, cand.neighbor,
               CAST($matchSum AS BIGINT) AS n_matching
        FROM cand JOIN sig qs ON cand.query_doc = qs.doc_id
                  JOIN sig ns ON cand.neighbor = ns.doc_id),
      ranked AS (
        SELECT query_doc, neighbor, n_matching,
               ROW_NUMBER() OVER (PARTITION BY query_doc
                 ORDER BY n_matching DESC, neighbor) AS rn
        FROM scored)
      SELECT query_doc, neighbor, n_matching,
             CAST(n_matching AS DOUBLE) / 8.0 AS est_jaccard
      FROM ranked WHERE rn <= 3
      ORDER BY query_doc, n_matching DESC, neighbor"""
    })

  val ddLshEval = GraftQuery(
    "dd_lsh_eval",
    (s, dir) => {
      import s.implicits._
      val cand = lshCandidatePairs(s, dir)
      // r12 optimization: the truth arm reads the PERSISTED df-capped
      // 3-shingle posting artifact (the 5-shingle table's exact pattern,
      // bucketed by shingle so the per-shingle pair generation groups
      // bucket-co-located) — the old shape re-ran the shingle explode +
      // distinct + df cap inside the timed query. Same rows by
      // construction: the artifact IS that computation, fitted once.
      val sh = shingleTableN(s, dir, 3)
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      // r13: truth floor is jaccard >= 0.5 => 3*min >= na+nb prune
      val truth = sharedShingleCounts(sh, keepFactor = Some(3L))
        .join(cnt.toDF("doc_a", "na"), "doc_a")
        .join(cnt.toDF("doc_b", "nb"), "doc_b")
        .filter($"shared".cast(DoubleType) /
          ($"na" + $"nb" - $"shared").cast(DoubleType) >= 0.5)
        .select($"doc_a", $"doc_b")
      // r12 optimization: ONE full-outer join on the (unique) pair key
      // replaces the three separately-evaluated count arms — the old
      // nc/nt/nh crossJoin evaluated the banded candidate plan twice and
      // the truth self-join twice (the r11 plan's four `bands` unions /
      // duplicated 1.25M-row pair reduce). Both inputs are unique on
      // (doc_a, doc_b) — cand ends in distinct(), truth in a group-by —
      // so SUM(flag) over the outer join is exactly the old COUNT of each
      // side and the inner-match count; the IEEE divisions are unchanged.
      cand.withColumn("c", lit(1L))
        .join(truth.withColumn("t", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          coalesce(sum($"c"), lit(0L)).as("n_candidates"),
          coalesce(sum($"t"), lit(0L)).as("n_truth"),
          coalesce(sum($"c" * $"t"), lit(0L)).as("n_hits"))
        .select($"n_candidates", $"n_truth", $"n_hits",
          ($"n_hits".cast(DoubleType) / $"n_candidates".cast(DoubleType))
            .as("precision"),
          ($"n_hits".cast(DoubleType) / $"n_truth".cast(DoubleType))
            .as("recall"))
    },
    Some {
      val aggs = (0 until nHashes)
        .map(h => s"MIN(MD5('$h|' || shingle)) AS mh$h").mkString(", ")
      val bandSelects = (0 until nHashes by 2).map { h =>
        s"SELECT doc_id, ${h / 2} AS band, mh$h || mh${h + 1} AS bucket FROM sig"
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 1)) AS t(i)
        WHERE LEN(tokens) >= 3),
      sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      tsh AS (
        SELECT doc_id, shingle FROM sh
        WHERE shingle IN (SELECT shingle FROM sh
                          GROUP BY shingle HAVING COUNT(*) <= $maxShingleDf)),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
      tp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM tsh a JOIN tsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT doc_a, doc_b
        FROM tp JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
        WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.5),
      hit AS (
        SELECT c.doc_a FROM cand c
        JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
      SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM hit) AS n_hits,
             CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
               / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE) AS precision,
             CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
               / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) AS recall"""
    })

  /** Incremental (ingest-time) near-dup detection: "new" documents
    * (doc_id % 10 = 7 stands in for the arriving slice) are signed
    * in their rows by [[minhashSigned]], the corpus artifact's own
    * signer — pure local compute, no shuffle on the serving side —
    * banded, and probed against the corpus's LSH band index. Output:
    * every signable new doc with its count of distinct corpus near-dup
    * partners. The streaming twin runs the same signer under a
    * stream-static join (StreamingSpec). */
  val ddIncremental = GraftQuery(
    "dd_incremental",
    (s, dir) => {
      import s.implicits._
      val sig = minhashSigTable(s, dir)
      val corpusBands = sigBands(sig.filter($"doc_id" % 10 =!= 7))
        .withColumnRenamed("doc_id", "corpus_id")
      val newBands = sigBands(minhashSigned(docs(s, dir).filter($"doc_id" % 10 === 7)))
      val hits = newBands.join(corpusBands, Seq("band", "bucket"))
        .groupBy($"doc_id")
        .agg(countDistinct($"corpus_id").as("n_dup_partners"))
      newBands.select($"doc_id").distinct()
        .join(hits, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_dup_partners", lit(0L)).as("n_dup_partners"),
          (coalesce($"n_dup_partners", lit(0L)) > 0).as("is_dup"))
        .orderBy($"doc_id")
    },
    Some {
      val aggs = (0 until nHashes)
        .map(h => s"MIN(MD5('$h|' || shingle)) AS mh$h").mkString(", ")
      val bandSelects = (0 until nHashes by 2).map { h =>
        s"SELECT doc_id, ${h / 2} AS band, mh$h || mh${h + 1} AS bucket FROM sig"
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 1)) AS t(i)
        WHERE LEN(tokens) >= 3),
      sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id),
      bands AS (
        $bandSelects),
      newb AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
      corp AS (SELECT * FROM bands WHERE doc_id % 10 <> 7),
      hits AS (
        SELECT n.doc_id, COUNT(DISTINCT c.doc_id) AS n_dup_partners
        FROM newb n JOIN corp c ON n.band = c.band AND n.bucket = c.bucket
        GROUP BY 1)
      SELECT d.doc_id,
             CAST(COALESCE(h.n_dup_partners, 0) AS BIGINT) AS n_dup_partners,
             COALESCE(h.n_dup_partners, 0) > 0 AS is_dup
      FROM (SELECT DISTINCT doc_id FROM newb) d
      LEFT JOIN hits h ON h.doc_id = d.doc_id
      ORDER BY d.doc_id"""
    })

  /** INCREMENTAL connected components — the production shape of
    * continuous dedup: the base corpus's cluster labels are computed once
    * and PERSISTED; when a batch of documents arrives, only the arriving
    * docs are signed (per row, zero corpus shuffle), probed against the
    * band index, and the min-label fixpoint re-runs over the CONTRACTED
    * graph only — nodes are arriving docs plus the base-cluster LABELS
    * they touch, so per-batch work is proportional to the batch and the
    * clusters it bridges, never the corpus. Correctness argument: a base
    * label is the min doc of its base cluster, so the contracted
    * component min equals the union-graph component min. The oracle runs
    * full-corpus CC as a recursive CTE and reads off the arriving docs'
    * labels — a hash match proves the incremental merge EXACTLY matches
    * the from-scratch recompute. */
  /** Base-corpus CC fit: cluster LABELS + the LSH BAND INDEX persisted as
    * catalog tables, once per (session, dir) — the artifact every
    * incremental-dedup serving pass probes. Extracted from the query so
    * Bench's prep step can build it like the other fit-once artifacts
    * (label once, serve many). Returns (labelTable, bandTable). */
  private[graft] def ccBaseTables(s: SparkSession, dir: String): (String, String) = {
    import s.implicits._
    val sigTable = minhashSigTable(s, dir)
    val name = graft.Artifacts.table(s, "ccbase", dir, Seq("", "_bands")) { base =>
      val sig = sigTable.filter($"doc_id" % 10 =!= 7)
      val bands = sigBands(sig)
      // the BAND INDEX persists next to the labels: later batches probe
      // the table — zero corpus signature recompute in the serving path
      bands.write.saveAsTable(base + "_bands")
      val persisted = s.table(base + "_bands")
      val basePairs = persisted.as("a").join(persisted.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      ccFixpoint(basePairs).write.saveAsTable(base)
    }
    (name, name + "_bands")
  }

  val ddCcIncremental = GraftQuery(
    "dd_cc_incremental",
    (s, dir) => {
      import s.implicits._
      val (name, bandName) = ccBaseTables(s, dir)
      val baseLabels = s.table(name)
      val newDocs = docs(s, dir).filter($"doc_id" % 10 === 7)
      val newBands = sigBands(minhashSigned(newDocs)).cache()
      val corpusBands = s.table(bandName)
      val rawPairs = newBands.as("n")
        .join(corpusBands.unionByName(newBands).as("t"),
          col("n.band") === col("t.band") && col("n.bucket") === col("t.bucket") &&
            col("n.doc_id") =!= col("t.doc_id"))
        .select(col("n.doc_id").as("na"), col("t.doc_id").as("nb"))
        .distinct()
      val contracted = rawPairs
        .join(baseLabels.select($"doc_id".as("na"), $"label".as("la_base")),
          Seq("na"), "left")
        .join(baseLabels.select($"doc_id".as("nb"), $"label".as("lb_base")),
          Seq("nb"), "left")
        .select(coalesce($"la_base", $"na").as("ca"),
          coalesce($"lb_base", $"nb").as("cb"))
        .filter($"ca" =!= $"cb")
        .select(least($"ca", $"cb").as("doc_a"), greatest($"ca", $"cb").as("doc_b"))
        .distinct()
      val merged = ccFixpoint(contracted)
      newDocs.select($"doc_id")
        .join(merged.select($"doc_id", $"label".as("cluster")), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"cluster", $"doc_id").as("cluster"))
        .orderBy($"doc_id")
    },
    Some {
      val pairSql = ddMinhashLshPairs.oracle.get.trim.stripSuffix("ORDER BY doc_a, doc_b")
      s"""
      WITH RECURSIVE base AS ($pairSql),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM base
        UNION ALL
        SELECT doc_b, doc_a FROM base),
      reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node),
      lab AS (SELECT node AS doc_id, MIN(label) AS cluster FROM reach GROUP BY node)
      SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
      LEFT JOIN lab l ON l.doc_id = d.doc_id
      ORDER BY d.doc_id"""
    })

  /** LSH index health: per-band bucket statistics INCLUDING the exact
    * candidate-pair bound Σ occ·(occ−1)/2 — the cost of the banded
    * near-dup join, predicted from a counts-only aggregate BEFORE paying
    * for it (the text-side twin of sim_ivf_cell_stats; at 100 TB this is
    * the report that tells you to widen bands or cap df first). */
  val ddLshStats = GraftQuery(
    "dd_lsh_stats",
    (s, dir) => {
      import s.implicits._
      val sig = minhashSigTable(s, dir)
      val bands = sigBands(sig)
      bands.groupBy($"band", $"bucket").agg(count(lit(1)).as("occ"))
        .groupBy($"band")
        .agg(
          count(lit(1)).as("n_buckets"),
          max($"occ").as("max_occ"),
          sum($"occ").as("n_docs"),
          expr("CAST(SUM((occ * (occ - 1)) DIV 2) AS BIGINT)").as("candidate_pairs"))
        .orderBy($"band")
    },
    Some {
      val aggs = (0 until nHashes)
        .map(h => s"MIN(MD5('$h|' || shingle)) AS mh$h").mkString(", ")
      val bandSelects = (0 until nHashes by 2).map { h =>
        s"SELECT doc_id, ${h / 2} AS band, mh$h || mh${h + 1} AS bucket FROM sig"
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 1)) AS t(i)
        WHERE LEN(tokens) >= 3),
      sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id),
      bands AS (
        $bandSelects),
      occ AS (SELECT band, bucket, COUNT(*) AS occ FROM bands GROUP BY 1, 2)
      SELECT band, COUNT(*) AS n_buckets,
             CAST(MAX(occ) AS BIGINT) AS max_occ,
             CAST(SUM(occ) AS BIGINT) AS n_docs,
             CAST(SUM((occ * (occ - 1)) // 2) AS BIGINT) AS candidate_pairs
      FROM occ
      GROUP BY band
      ORDER BY band"""
    })

  // ---------------------------------------------------------------------
  // SimHash (64-bit, exact-integer, engine-portable)
  // ---------------------------------------------------------------------

  /** Hex→int without engine-specific conversions: nibble =
    * instr('0123456789abcdef', chr) - 1, identical in Spark and DuckDB. */
  private[queries] def nibbleSql(c: String) = s"(INSTR('0123456789abcdef', $c) - 1)"

  /** 16-bit chunk from 4 hex chars of an md5 column starting at 1-based
    * offset `off` — chunk k (off = 1,5,9,13) holds simhash bits
    * 63-16k .. 48-16k (big-endian hex → chunk 0 is the high quarter). */
  private[queries] def h16SqlAt(md5col: String, off: Int) =
    s"(${nibbleSql(s"SUBSTR($md5col, $off, 1)")} * 4096 + ${nibbleSql(s"SUBSTR($md5col, ${off + 1}, 1)")} * 256 + " +
      s"${nibbleSql(s"SUBSTR($md5col, ${off + 2}, 1)")} * 16 + ${nibbleSql(s"SUBSTR($md5col, ${off + 3}, 1)")})"

  /** Per-bit vote sums over the 4 chunk columns h0..h3; bit b of the final
    * simhash lives in chunk 3 - b/16 at in-chunk position b%16. `divOp` is
    * `div` (Spark) or `//` (DuckDB). */
  private def bitSumSql(b: Int, divOp: String): String = {
    val k = 3 - b / 16
    val j = b % 16
    s"SUM(CASE WHEN (h$k $divOp ${1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
  }

  /** Majority-vote reassembly; bit 63 is the sign bit, added as Long.Min
    * (both engines parse the `-max - 1` idiom without overflow). */
  private def simFromVotesSql: String =
    (0 until 64).map { b =>
      if (b == 63) "CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
      else s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")

  /** 64-bit SimHash: a 16-bit fingerprint space birthday-saturates on any
    * real corpus (hash-noise "near-dups"); 64 bits keeps dist≤3 meaningful
    * at 100 TB (VERDICT r1 "What's wrong" #2). */
  val ddSimhash = GraftQuery(
    "dd_simhash",
    (s, dir) => {
      import s.implicits._
      val tok = docs(s, dir)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
        .withColumn("m", md5($"w"))
        .withColumn("h0", expr(h16SqlAt("m", 1)))
        .withColumn("h1", expr(h16SqlAt("m", 5)))
        .withColumn("h2", expr(h16SqlAt("m", 9)))
        .withColumn("h3", expr(h16SqlAt("m", 13)))
      val bitSums = (0 until 64).map(b => expr(bitSumSql(b, "div")))
      val g = tok.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      g.select($"doc_id", expr(simFromVotesSql).cast(LongType).as("simhash64"))
        .orderBy($"doc_id")
    },
    Some {
      val chunks = (0 until 4).map(k => s"${h16SqlAt("m", 1 + 4 * k)} AS h$k").mkString(", ")
      val bitSums = (0 until 64).map(b => bitSumSql(b, "//")).mkString(",\n               ")
      s"""
      WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
      h AS (SELECT doc_id, $chunks
            FROM (SELECT doc_id, MD5(w) AS m FROM tok WHERE w <> '')),
      g AS (SELECT doc_id,
               $bitSums
            FROM h GROUP BY doc_id)
      SELECT doc_id, CAST($simFromVotesSql AS BIGINT) AS simhash64
      FROM g
      ORDER BY doc_id"""
    })

  /** PERSISTED simhash artifact — (doc_id, simhash64), fitted once per
    * (session, dir) behind the shared write-once guard (r12 optimization;
    * same contract as [[minhashSigTable]]): sign the corpus in one batch
    * job, serve every banded pair pass from the table. `dd_simhash` (the
    * FIT query) still computes the signature pipeline itself. */
  private[graft] def simhashTable(s: SparkSession, dir: String): DataFrame = {
    val name = graft.Artifacts.table(s, "simhash", dir) { base =>
      ddSimhash.fn(s, dir)
        .write.mode("overwrite")
        .bucketBy(16, "doc_id").sortBy("doc_id")
        .saveAsTable(base)
    }
    s.table(name)
  }

  /** m=6 block layout of the 64-bit simhash: (bit offset, width). Four
    * 11-bit and two 10-bit blocks. Shared with TextDedupSpec so the
    * occupancy bound measures exactly the keys the query joins on. */
  private[graft] val simBlocks: Seq[(Int, Int)] =
    Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))

  /** Block i of `simhash64` as Spark/DuckDB-portable SQL. Arithmetic
    * (sign-filling) shift is irrelevant under the width mask. */
  private def simBlkSql(i: Int): String = {
    val (off, w) = simBlocks(i)
    s"(shiftright(simhash64, $off) & ${(1 << w) - 1})"
  }

  /** One join key per 3-block combination: the three block values packed
    * at fixed 11-bit stride (max width is 11, so no overlap; total ≤ 33
    * bits — safely inside a BIGINT). Ordered like
    * `(0 until 6).combinations(3)` — index = the `c` column. */
  private[graft] def simComboKeySqls: Seq[String] =
    (0 until 6).combinations(3).toSeq.map { c =>
      s"(${simBlkSql(c(0))} * ${1L << 22} + ${simBlkSql(c(1))} * ${1L << 11} + ${simBlkSql(c(2))})"
    }

  /** SimHash near-dup pairing on the codegen'd native
    * [[graft.functions.HammingDistance]] expression (popcount-xor inside
    * whole-stage codegen — the "custom Expression beats UDF" path).
    *
    * Blocking is Manku-style k-of-m (exact, not approximate): the 64-bit
    * hash splits into m=6 blocks ([[simBlocks]]); a pair at hamming
    * distance ≤ 3 has all differing bits inside ≤ 3 blocks, so it MUST
    * agree on ALL THREE blocks of at least one of the C(6,3) = 20 block
    * triples. Keying on (triple index, packed 3-block value) gives a
    * ~2³²-value key space per triple — 2¹⁶× the previous single-16-bit-
    * block keys, which saturated at ≥10⁹ docs (VERDICT r2 #1): at 10¹⁰
    * docs a (triple, key) bucket now holds ~2 docs instead of ~150k, at a
    * bounded 20-rows/doc fan-out. Recall is still exactly 100% for
    * dist ≤ 3. */
  val ddSimhashPairs = GraftQuery(
    "dd_simhash_pairs",
    (s, dir) => {
      import s.implicits._
      val sim = simhashTable(s, dir)
      val blocks = sim
        .select($"doc_id", $"simhash64",
          posexplode(array(simComboKeySqls.map(expr): _*)).as(Seq("c", "key")))
      val a = blocks.select($"c", $"key", $"doc_id".as("doc_a"), $"simhash64".as("sim_a"))
      val bb = blocks.select($"c", $"key", $"doc_id".as("doc_b"), $"simhash64".as("sim_b"))
      a.join(bb, Seq("c", "key"))
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", $"sim_a", $"sim_b")
        .distinct()
        .withColumn("dist", expr("hamming_distance(sim_a, sim_b)"))
        .filter($"dist" <= 3)
        .select($"doc_a", $"doc_b", $"dist")
        .orderBy($"doc_a", $"doc_b")
    },
    Some {
      val chunks = (0 until 4).map(k => s"${h16SqlAt("m", 1 + 4 * k)} AS h$k").mkString(", ")
      val bitSums = (0 until 64).map(b => bitSumSql(b, "//")).mkString(", ")
      // per-block popcount over positive 16-bit values sidesteps any
      // engine ambiguity about BIT_COUNT/shift on negative BIGINTs
      val blockDist = (0 until 4).map(k =>
        s"BIT_COUNT(XOR((a.simhash64 >> ${16 * k}) & 65535, (b.simhash64 >> ${16 * k}) & 65535))")
        .mkString(" + ")
      s"""
      WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
      h AS (SELECT doc_id, $chunks
            FROM (SELECT doc_id, MD5(w) AS m FROM tok WHERE w <> '')),
      g AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
      sim AS (SELECT doc_id, CAST($simFromVotesSql AS BIGINT) AS simhash64 FROM g)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST($blockDist AS BIGINT) AS dist
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE $blockDist <= 3
      ORDER BY doc_a, doc_b"""
    })

  /** The SAME near-dup pairing as [[ddSimhashPairs]] written as the NAIVE
    * O(n²) hamming join — and executed as a banded equi-join anyway,
    * because the [[graft.plans.SimJoinBandRewrite]] optimizer rule
    * recognizes `hamming_distance(a, b) <= 3` with no other cross-side
    * equality and auto-pigeonholes it (injected by
    * [[graft.GraftExtensions]]; PlanShapeSpec pins that no
    * cartesian/nested-loop join survives). This is what a USER gets to
    * write at 100 TB while still getting the scalable plan. */
  val ddSimjoinAuto = GraftQuery(
    "dd_simjoin_auto",
    (s, dir) => {
      import s.implicits._
      // the persisted simhash artifact: the md5 signature pipeline is a
      // one-off fit, not a per-join-side recompute
      val sim = simhashTable(s, dir).select($"doc_id", $"simhash64")
      sim.as("a").join(sim.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          expr("hamming_distance(a.simhash64, b.simhash64) <= 3"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("hamming_distance(a.simhash64, b.simhash64)").as("dist"))
        .orderBy($"doc_a", $"doc_b")
    },
    Some {
      val chunks = (0 until 4).map(k => s"${h16SqlAt("m", 1 + 4 * k)} AS h$k").mkString(", ")
      val bitSums = (0 until 64).map(b => bitSumSql(b, "//")).mkString(", ")
      val blockDist = (0 until 4).map(k =>
        s"BIT_COUNT(XOR((a.simhash64 >> ${16 * k}) & 65535, (b.simhash64 >> ${16 * k}) & 65535))")
        .mkString(" + ")
      s"""
      WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
      h AS (SELECT doc_id, $chunks
            FROM (SELECT doc_id, MD5(w) AS m FROM tok WHERE w <> '')),
      g AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
      sim AS (SELECT doc_id, CAST($simFromVotesSql AS BIGINT) AS simhash64 FROM g)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST($blockDist AS BIGINT) AS dist
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE $blockDist <= 3
      ORDER BY doc_a, doc_b"""
    })

  /** Gopher-style composite document gate (Rae et al. 2021 §A1.1 shape):
    * word-count bounds, mean word length, symbol-token ratio, stopword
    * presence, duplicate-line fraction, and top-token fraction folded
    * into one keep/drop verdict naming the FIRST failed rule — the
    * downstream "which documents survive" decision that the individual
    * tx_quality / tx_repetition signals feed. All signals are exact
    * integer counts; derived ratios are single IEEE-double divisions, so
    * both engines compare identically. */
  /** The gopher-gate plan over any (doc_id, text) frame — shared by the
    * registered query and the planted-rule spec. Every signal, the
    * top-token count too, is computed inside the document's row; a
    * document with no non-empty word has no verdict. */
  def gopherVerdicts(input: DataFrame): DataFrame = {
    val s = input.sparkSession
    import s.implicits._
    input
      .filter(exists(split($"text", " "), _ =!= ""))
      .withColumn("tokens", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("lines", expr("filter(split(text, chr(10)), x -> x <> '')"))
      .withColumn("n_words", size($"tokens").cast(LongType))
      .withColumn("sum_len",
        coalesce(expr("aggregate(tokens, 0L, (a, w) -> a + length(w))"), lit(0L))
          .cast(LongType))
      .withColumn("n_alpha",
        expr("size(filter(tokens, w -> w rlike '[a-zA-Z]'))").cast(LongType))
      .withColumn("stop_hits",
        expr(s"size(filter(tokens, w -> w IN ($stopList)))").cast(LongType))
      .withColumn("n_lines", size($"lines").cast(LongType))
      .withColumn("n_dup_lines",
        (size($"lines") - size(array_distinct($"lines"))).cast(LongType))
      .withColumn("top_c", topCount($"tokens"))
      .select(
        $"doc_id", $"n_words", $"stop_hits",
        ($"sum_len".cast(DoubleType) / $"n_words".cast(DoubleType)).as("mean_word_len"),
        when($"n_words" < 50 || $"n_words" > 100000, "word_count")
          .when($"sum_len".cast(DoubleType) / $"n_words".cast(DoubleType) < 3.0 ||
            $"sum_len".cast(DoubleType) / $"n_words".cast(DoubleType) > 10.0, "mean_word_len")
          .when(($"n_words" - $"n_alpha").cast(DoubleType) / $"n_words".cast(DoubleType) > 0.2,
            "symbol_ratio")
          .when($"stop_hits" < 2, "no_stopwords")
          .when($"n_lines" > 0 &&
            $"n_dup_lines".cast(DoubleType) / $"n_lines".cast(DoubleType) > 0.3, "dup_lines")
          .when($"top_c".cast(DoubleType) / $"n_words".cast(DoubleType) > 0.2, "top_token")
          .otherwise("keep").as("verdict"))
      .orderBy($"doc_id")
  }

  val txGopherFilter = GraftQuery(
    "tx_gopher_filter",
    (s, dir) => gopherVerdicts(docs(s, dir)),
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS tokens,
               LIST_FILTER(STRING_SPLIT(text, CHR(10)), x -> x <> '') AS lines
        FROM documents),
      b AS (
        SELECT doc_id,
               CAST(LEN(tokens) AS BIGINT) AS n_words,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(tokens, w -> LENGTH(w))), 0) AS BIGINT) AS sum_len,
               CAST(LEN(LIST_FILTER(tokens, w -> REGEXP_MATCHES(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
               CAST(LEN(LIST_FILTER(tokens, w -> w IN ($stopList))) AS BIGINT) AS stop_hits,
               CAST(LEN(lines) AS BIGINT) AS n_lines,
               CAST(LEN(lines) - LEN(LIST_DISTINCT(lines)) AS BIGINT) AS n_dup_lines
        FROM t),
      w2 AS (SELECT doc_id, UNNEST(tokens) AS w FROM t),
      topc AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c
        FROM (SELECT doc_id, w, COUNT(*) AS c FROM w2 GROUP BY 1, 2)
        GROUP BY doc_id)
      SELECT b.doc_id AS doc_id, n_words, stop_hits,
             CASE WHEN n_words = 0 THEN 0.0
                  ELSE CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
             CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
                  WHEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) < 3.0
                    OR CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) > 10.0 THEN 'mean_word_len'
                  WHEN CAST(n_words - n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.2 THEN 'symbol_ratio'
                  WHEN stop_hits < 2 THEN 'no_stopwords'
                  WHEN n_lines > 0 AND CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) > 0.3 THEN 'dup_lines'
                  WHEN CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.2 THEN 'top_token'
                  ELSE 'keep' END AS verdict
      FROM b JOIN topc ON topc.doc_id = b.doc_id
      ORDER BY doc_id"""))

  /** Near-dup CLUSTERS from the MinHash-LSH candidate pairs: iterative
    * min-label propagation to the connected-component fixpoint (the step a
    * real dedup pipeline runs after pair generation — "keep one doc per
    * duplicate group"). Each iteration is one join + aggregate; the loop
    * runs until no label changes, so the result is the exact component
    * minimum (matching the oracle's recursive transitive closure). At
    * 100 TB this is the standard iterative CC shape — iteration count is
    * bounded by the duplicate-cluster diameter (tiny in practice), never
    * by corpus size, and only (doc, label) pairs ever shuffle. */
  /** Min-label connected-components fixpoint over an (doc_a, doc_b) pair
    * frame — the iterative kernel shared by dd_dedup_clusters and the
    * incremental variant. localCheckpoint (eager) both materializes each
    * iterate and truncates its lineage — without it the plan (and
    * Catalyst analysis time) grows linearly with the iteration count. */
  private[queries] def ccFixpoint(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // r12 optimization: symmetrize via ONE evaluation of the pair plan
    // (explode of both orientations) — the old self-union evaluated the
    // upstream candidate join twice per materialization.
    // (r13 note: a measured-and-reverted variant cached the edges
    // repartitioned by dst for co-located iteration joins — at this SF the
    // pair sets are doc-cluster-sized, so 32 forced partitions cost more
    // in per-task overhead than the saved exchange: dd_dedup_clusters task
    // 6.4 → 24.3 s. AQE-coalesced upstream partitioning kept instead; the
    // shuffle_hash hint below still removes the per-iteration SORTS the
    // stats-less checkpointed label side otherwise forced via SMJ.)
    val edges = pairs.toDF("doc_a", "doc_b")
      .select(explode(array(
        struct($"doc_a".as("src"), $"doc_b".as("dst")),
        struct($"doc_b".as("src"), $"doc_a".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .cache()
    var labels = edges.select($"src".as("doc_id")).distinct()
      .withColumn("label", $"doc_id")
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      // r13: carry each node's OLD label through the min-combine (max over
      // the single non-null old value) so convergence is read from the
      // materialized iterate itself — the old shape re-joined next⋈labels
      // for the change count, an extra node-keyed join per iteration.
      val next = edges
        .join(labels.hint("shuffle_hash"), $"dst" === $"doc_id")
        .select($"src".as("doc_id"), $"label",
          lit(null).cast("long").as("old"))
        .union(labels.select($"doc_id", $"label", $"label".as("old")))
        .groupBy($"doc_id").agg(min($"label").as("label"),
          max($"old").as("old"))
        .localCheckpoint()
      changed = next.filter($"label" =!= $"old").count()
      labels = next.select($"doc_id", $"label")
    }
    edges.unpersist()
    labels
  }

  val ddDedupClusters = GraftQuery(
    "dd_dedup_clusters",
    (s, dir) => {
      import s.implicits._
      ccFixpoint(lshCandidatePairs(s, dir))
        .select($"doc_id", $"label".as("cluster"))
        .orderBy($"cluster", $"doc_id")
    },
    Some {
      // reuse the pair SQL, then a recursive transitive-min closure
      val pairSql = ddMinhashLshPairs.oracle.get.trim.stripSuffix("ORDER BY doc_a, doc_b")
      s"""
      WITH RECURSIVE base AS ($pairSql),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM base
        UNION ALL
        SELECT doc_b, doc_a FROM base),
      reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node)
      SELECT node AS doc_id, MIN(label) AS cluster
      FROM reach GROUP BY node
      ORDER BY cluster, doc_id"""
    })

  /** Cluster labels computed ONCE per (session, dir) and persisted as a
    * catalog table — the production shape (label once, consume from the
    * table in every downstream job); shared by dd_dedup_keep and
    * dd_dedup_report. */
  private def clusterTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = lshCandidatePairs(s, dir)
    val name = graft.Artifacts.table(s, "ddclusters", dir) { base =>
      ccFixpoint(pairs)
        .select($"doc_id", $"label".as("cluster"))
        .write.saveAsTable(base)
    }
    s.table(name)
  }

  /** The dedup CAPSTONE composition: connected-component clusters →
    * keep-one-per-cluster (the min-doc_id representative IS the cluster
    * label, so survivors fall out of the labels for free) → per-language
    * kept-corpus statistics. The droplist is tiny relative to the corpus
    * (duplicates only) and broadcasts; the corpus shuffles once for the
    * final aggregate. */
  val ddDedupKeep = GraftQuery(
    "dd_dedup_keep",
    (s, dir) => {
      import s.implicits._
      val dropped = clusterTable(s, dir).filter($"doc_id" =!= $"cluster")
        .select($"doc_id", lit(true).as("is_dup"))
      docs(s, dir)
        .join(broadcast(dropped), Seq("doc_id"), "left")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"is_dup".isNull, 1L).otherwise(0L)).as("n_kept"),
          sum(when($"is_dup".isNull, $"n_chars").otherwise(0L)).as("n_chars_kept"))
        .orderBy($"lang")
    },
    Some {
      val pairSql = ddMinhashLshPairs.oracle.get.trim.stripSuffix("ORDER BY doc_a, doc_b")
      s"""
      WITH RECURSIVE base AS ($pairSql),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM base
        UNION ALL
        SELECT doc_b, doc_a FROM base),
      reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node),
      clusters AS (SELECT node AS doc_id, MIN(label) AS cluster FROM reach GROUP BY node),
      dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster)
      SELECT d.lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN x.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN x.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT)
               AS n_chars_kept
      FROM documents d LEFT JOIN dropped x ON d.doc_id = x.doc_id
      GROUP BY d.lang
      ORDER BY d.lang"""
    })

  /** QUALITY-AWARE keep-one: production pipelines don't keep the min-id
    * member of a duplicate cluster (dd_dedup_keep's label trick), they
    * keep the BEST one — here the longest document (ties → lowest
    * doc_id), the common "keep the most complete copy" rule. One window
    * over the tiny cluster table joined to per-doc quality; emits each
    * multi-member cluster's kept representative with member/char
    * accounting. 100 TB shape: the cluster table is duplicates-only
    * (corpus-small) and pre-computed once; the join against the corpus
    * is on doc_id; window partitions are per-cluster (tiny). */
  val ddDedupKeepBest = GraftQuery(
    "dd_dedup_keep_best",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val cl = clusterTable(s, dir)
      val withQ = cl.join(docs(s, dir).select($"doc_id", $"n_chars"), Seq("doc_id"))
      val byCluster = Window.partitionBy($"cluster")
      val rank = Window.partitionBy($"cluster").orderBy($"n_chars".desc, $"doc_id")
      withQ
        .withColumn("rk", row_number().over(rank))
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .withColumn("sum_chars", sum($"n_chars").over(byCluster))
        .filter($"rk" === 1 && $"n_members" >= 2)
        .select($"cluster", $"doc_id".as("kept_doc"),
          $"n_members", $"n_chars".as("kept_chars"), $"sum_chars")
        .orderBy($"cluster")
    },
    Some {
      val pairSql = ddMinhashLshPairs.oracle.get.trim.stripSuffix("ORDER BY doc_a, doc_b")
      s"""
      WITH RECURSIVE base AS ($pairSql),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM base
        UNION ALL
        SELECT doc_b, doc_a FROM base),
      reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node),
      clusters AS (SELECT node AS doc_id, MIN(label) AS cluster FROM reach GROUP BY node),
      q AS (
        SELECT c.doc_id, c.cluster, d.n_chars
        FROM clusters c JOIN documents d USING (doc_id)),
      r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY n_chars DESC, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY cluster) AS n_members,
               SUM(n_chars) OVER (PARTITION BY cluster) AS sum_chars
        FROM q)
      SELECT cluster, doc_id AS kept_doc,
             CAST(n_members AS BIGINT) AS n_members,
             n_chars AS kept_chars,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM r WHERE rk = 1 AND n_members >= 2
      ORDER BY cluster"""
    })

  /** SUB-document dedup: exact duplicate detection at PASSAGE granularity
    * (consecutive 20-token windows, md5-keyed), catching boilerplate and
    * partial copies that whole-document hashing misses. 100 TB shape: the
    * passage explode runs ONCE (a bounded per-row flatMap, n_tokens/20
    * rows per doc); sharing is a count window over the passage key —
    * one shuffle on p instead of the aggregate-plus-join formulation,
    * which would explode the corpus twice (Catalyst does not reuse the
    * exchange across those branches). No pairwise comparison anywhere,
    * so cost stays linear in corpus size. Window partitions are
    * per-passage-hash (tiny), so no skew concern. */
  val ddSubdocDedup = GraftQuery(
    "dd_subdoc_dedup",
    (s, dir) => {
      import s.implicits._
      val k = 20
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"p")
      docs(s, dir)
        .withColumn("tokens", split($"text", " "))
        .filter(size($"tokens") >= k)
        .select($"doc_id", explode(expr(
          s"transform(sequence(1, size(tokens) div $k), " +
            s"i -> md5(concat_ws(' ', slice(tokens, (i-1)*$k+1, $k))))"))
          .as("p"))
        .distinct()
        .withColumn("nd", count(lit(1)).over(w))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_passages"),
          sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_dup_passages"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      passages AS (
        SELECT DISTINCT doc_id,
               md5(ARRAY_TO_STRING(t[(i-1)*20+1 : i*20], ' ')) AS p
        FROM toks, UNNEST(generate_series(1, LEN(t) // 20)) AS u(i)
        WHERE LEN(t) >= 20),
      shared AS (SELECT p FROM passages GROUP BY p HAVING COUNT(*) >= 2)
      SELECT passages.doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
             CAST(SUM(CASE WHEN s.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_passages
      FROM passages LEFT JOIN shared s ON passages.p = s.p
      GROUP BY passages.doc_id
      ORDER BY doc_id"""))

  /** Document-BOUNDARY-respecting sequence packing — the [[txPack]]
    * variant where no document is ever split: per-shard NEXT-FIT, docs in
    * doc_id order go whole into the current 512-token pack and a doc that
    * doesn't fit starts the next one (docs at/over capacity get a pack of
    * their own). Packing is inherently a sequential prefix scan, so the
    * scalable unit is the SHARD — (lang, doc_id div 100000) — each shard
    * folds independently via `flatMapSortedGroups` (Spark's spillable
    * sort feeds doc_id order, the fold is O(1) state; the sessionize
    * shape), and pack ids are per-shard. The capacity residue at shard
    * boundaries is the standard accepted tradeoff. The oracle replays
    * the identical next-fit as a recursive CTE per shard (DuckDB `//`
    * floors = Spark `div` on these non-negative ids). */
  val txPackDocs = GraftQuery(
    "tx_pack_docs",
    (s, dir) => {
      import s.implicits._
      val cap = 512L
      val toks = docs(s, dir)
        .select($"doc_id", $"lang",
          least(lit(cap), size(split($"text", " ")).cast(LongType)).as("len"))
        .as[(Long, String, Long)]
      toks.groupByKey { case (docId, lang, _) => (lang, docId / 100000L) }
        .flatMapSortedGroups(col("doc_id")) { (key, it) =>
          var pack = 0L
          var used = 0L
          it.map { case (docId, lang, len) =>
            if (used > 0 && used + len > cap) { pack += 1; used = 0L }
            used += len
            (docId, lang, key._2, len, pack, used)
          }
        }
        .toDF("doc_id", "lang", "shard", "len", "pack_id", "used_after")
        .orderBy($"doc_id")
    },
    Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, lang, doc_id // 100000 AS shard,
               CAST(LEAST(512, LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS len,
               ROW_NUMBER() OVER (PARTITION BY lang, doc_id // 100000
                                  ORDER BY doc_id) AS rn
        FROM documents),
      packed(lang, shard, rn, doc_id, len, pack_id, used_after) AS (
        SELECT lang, shard, rn, doc_id, len, CAST(0 AS BIGINT), len
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.shard, d.rn, d.doc_id, d.len,
               CASE WHEN p.used_after + d.len > 512 THEN p.pack_id + 1
                    ELSE p.pack_id END,
               CASE WHEN p.used_after + d.len > 512 THEN d.len
                    ELSE p.used_after + d.len END
        FROM packed p
        JOIN d ON d.lang = p.lang AND d.shard = p.shard AND d.rn = p.rn + 1)
      SELECT doc_id, lang, shard, len, pack_id, used_after
      FROM packed
      ORDER BY doc_id"""))

  /** Per-document top terms by df-scaled term weight — the tf-idf family
    * member expressible in EXACTLY-ROUNDED IEEE ops only (`tf × (N ÷ df)`;
    * a log-smoothed idf would hash-diverge from the oracle because libm
    * log implementations differ across engines — see q27's function
    * choice). 100 TB shape: one (doc,term) shuffle for tf, a
    * vocabulary-sized df aggregate joined on term, a skinny
    * (doc_id, term, score) window for top-3; the corpus text never moves
    * twice. */
  val txTfidfTerms = GraftQuery(
    "tx_tfidf_terms",
    (s, dir) => {
      import s.implicits._
      val words = docs(s, dir)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
      val tf = words.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tfc"))
      val dfx = words.select($"doc_id", $"w").distinct()
        .groupBy($"w").agg(count(lit(1)).as("dfc"))
      val ndocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score".desc, $"w")
      tf.join(dfx, Seq("w"))
        .crossJoin(ndocs) // one-row broadcast: the corpus document count
        .select($"doc_id", $"w",
          ($"tfc".cast(DoubleType) *
            ($"n_docs".cast(DoubleType) / $"dfc".cast(DoubleType))).as("score"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter($"rnk" <= 3)
        .select($"doc_id", $"rnk", $"w".as("term"), $"score")
        .orderBy($"doc_id", $"rnk")
    },
    Some("""
      WITH w2 AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        WHERE w <> ''),
      tf AS (SELECT doc_id, w, COUNT(*) AS tfc FROM w2 GROUP BY 1, 2),
      dfx AS (SELECT w, COUNT(*) AS dfc
              FROM (SELECT DISTINCT doc_id, w FROM w2) GROUP BY w),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.w,
               CAST(tfc AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(dfc AS DOUBLE)) AS score
        FROM tf JOIN dfx ON dfx.w = tf.w CROSS JOIN nd),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, w) AS rn
        FROM scored)
      SELECT doc_id, CAST(rn AS BIGINT) AS rnk, w AS term, score
      FROM ranked WHERE rn <= 3
      ORDER BY doc_id, rnk"""))

  /** Deterministic stratified (quota) sampling — the language/domain
    * rebalancing step of a training-data pipeline: within each stratum,
    * rank documents by a salted hash and keep the first `k`. Hash-rank
    * sampling is reproducible across runs AND engines (md5 is md5
    * everywhere — no RNG), so the oracle hash-matches. 100 TB shape: one
    * shuffle on the stratum key; the per-stratum window only ever sorts a
    * stratum, never the corpus. */
  val txStratifiedSample = GraftQuery(
    "tx_stratified_sample",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang")
        .orderBy(md5(concat(lit("s|"), $"doc_id".cast(StringType))), $"doc_id")
      docs(s, dir)
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter($"rnk" <= 20)
        .select($"lang", $"rnk", $"doc_id")
        .orderBy($"lang", $"rnk")
    },
    Some("""
      WITH ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY MD5('s|' || CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn
        FROM documents)
      SELECT lang, CAST(rn AS BIGINT) AS rnk, doc_id
      FROM ranked WHERE rn <= 20
      ORDER BY lang, rnk"""))

  /** Deterministic train/val/test split — the hold-out assignment step of
    * a training-data pipeline: each document lands in a split by a salted
    * md5 of its id (~90/5/5 via hex-prefix thresholds), so membership is
    * reproducible across runs, engines, and re-shards — no RNG, no state.
    * Reported as per-(split, lang) doc/char counts. 100 TB shape: one
    * per-row hash projection + one aggregation shuffle; the assignment
    * itself never shuffles and new data never perturbs old membership. */
  /** Weighted sampling without replacement — priority sampling (Duffield,
    * Lund & Thorup, JACM 54(6) 2007): each doc draws a deterministic
    * uniform u from 48 bits of a salted md5, gets priority q = w/u
    * (w = n_chars), and the k largest priorities are the sample. The
    * (k+1)-th priority τ makes the sample self-weighting: Σ max(w_i, τ)
    * over the sample is an (near-)unbiased estimate of Σw over the whole
    * corpus, so a 50-doc sample carries exact-expectation corpus
    * statistics. All arithmetic is exact-in-double (48-bit integers,
    * exact products by 2⁴⁸, one correctly-rounded divide), so both
    * engines agree bit-for-bit — no RNG, reproducible across runs and
    * re-shards. 100 TB shape: per-row hash + TakeOrderedAndProject
    * (distributed top-k, never a global sort); τ comes from the same
    * top-(k+1) pass and broadcasts back over the 50 sample rows. */
  val txWeightedSample = GraftQuery(
    "tx_weighted_sample",
    (s, dir) => {
      import s.implicits._
      val h48 = conv(substring(md5(concat(lit("w|"), $"doc_id".cast(StringType))), 1, 12),
        16, 10).cast(LongType)
      val q = ($"n_chars".cast(DoubleType) * lit(281474976710656.0d)) /
        ($"h48".cast(DoubleType) + lit(0.5d))
      val scored = docs(s, dir)
        .withColumn("h48", h48)
        .withColumn("priority", q)
        .select($"doc_id", $"lang", $"n_chars", $"priority")
      val top51 = scored.orderBy($"priority".desc, $"doc_id").limit(51)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"priority".desc, $"doc_id") // 51 rows — not a data-scale window
      val ranked = top51.withColumn("rnk", row_number().over(w).cast(LongType))
      val tau = ranked.filter($"rnk" === 51L).select($"priority".as("tau"))
      ranked.filter($"rnk" <= 50L)
        .crossJoin(broadcast(tau))
        .select($"rnk", $"doc_id", $"lang", $"n_chars", $"priority",
          greatest($"n_chars".cast(DoubleType), $"tau").as("est_w"))
        .orderBy($"rnk")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang, n_chars,
               (CAST(n_chars AS DOUBLE) * 281474976710656.0) /
               (CAST(CAST(('0x' || SUBSTR(MD5('w|' || CAST(doc_id AS VARCHAR)), 1, 12))
                          AS BIGINT) AS DOUBLE) + 0.5) AS priority
        FROM documents),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
        FROM scored),
      tau AS (SELECT priority AS tau FROM ranked WHERE rn = 51)
      SELECT CAST(rn AS BIGINT) AS rnk, doc_id, lang, n_chars, priority,
             GREATEST(CAST(n_chars AS DOUBLE), tau.tau) AS est_w
      FROM ranked, tau
      WHERE rn <= 50
      ORDER BY rnk"""))

  val txTrainSplit = GraftQuery(
    "tx_train_split",
    (s, dir) => {
      import s.implicits._
      val h = substring(md5(concat(lit("t|"), $"doc_id".cast(StringType))), 1, 8)
      val split = when(h < "e6666666", "train")
        .when(h < "f3333333", "val")
        .otherwise("test")
      docs(s, dir)
        .withColumn("split", split)
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
        .orderBy($"split", $"lang")
    },
    Some("""
      WITH tagged AS (
        SELECT lang, n_chars,
               CASE WHEN substr(MD5('t|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
                    WHEN substr(MD5('t|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents)
      SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM tagged GROUP BY split, lang
      ORDER BY split, lang"""))

  /** Training-mix reporting: per (lang, source) document and character
    * counts plus the corpus fraction — the summary a mixture-weighting
    * step consumes. Fractions are exact integer→double divisions (IEEE
    * exactly-rounded, identical across engines). One aggregate + a
    * broadcast one-row total. */
  val txMixtureWeights = GraftQuery(
    "tx_mixture_weights",
    (s, dir) => {
      import s.implicits._
      val base = docs(s, dir)
      val tot = base.agg(count(lit(1)).as("n_total"), sum($"n_chars").as("c_total"))
      base.groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
        .crossJoin(tot)
        .select($"lang", $"source", $"n_docs", $"n_chars",
          ($"n_docs".cast(DoubleType) / $"n_total".cast(DoubleType)).as("doc_frac"),
          ($"n_chars".cast(DoubleType) / $"c_total".cast(DoubleType)).as("char_frac"))
        .orderBy($"lang", $"source")
    },
    Some("""
      WITH tot AS (
        SELECT COUNT(*) AS n_total, CAST(SUM(n_chars) AS BIGINT) AS c_total FROM documents),
      g AS (
        SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY lang, source)
      SELECT lang, source, n_docs, n_chars,
             CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS doc_frac,
             CAST(g.n_chars AS DOUBLE) / CAST(c_total AS DOUBLE) AS char_frac
      FROM g CROSS JOIN tot
      ORDER BY lang, source"""))

  /** The pipeline capstone — what a full ingest run reports: documents
    * that pass the Gopher quality gate AND survive exact dedup (the
    * min-doc_id keeper per content hash), bucketed by the deterministic
    * train/val/test split, summarized per (split, lang). One query
    * composing three operators; each stage is the same logic its
    * standalone query runs, so the composition is oracle-checkable too.
    * 100 TB shape: the quality verdict is per-row work; dedup is one content-hash shuffle; split is a hash
    * projection; the report is one final aggregation. */
  val txCorpusReport = GraftQuery(
    "tx_corpus_report",
    (s, dir) => {
      import s.implicits._
      val base = docs(s, dir)
      val keepQuality = gopherVerdicts(base)
        .filter($"verdict" === "keep").select($"doc_id")
      val keeper = base.groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id")).select($"doc_id")
      val h = substring(md5(concat(lit("t|"), $"doc_id".cast(StringType))), 1, 8)
      val split = when(h < "e6666666", "train")
        .when(h < "f3333333", "val")
        .otherwise("test")
      base.join(keepQuality, Seq("doc_id")).join(keeper, Seq("doc_id"))
        .withColumn("split", split)
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
        .orderBy($"split", $"lang")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS tokens,
               LIST_FILTER(STRING_SPLIT(text, CHR(10)), x -> x <> '') AS lines
        FROM documents),
      b AS (
        SELECT doc_id,
               CAST(LEN(tokens) AS BIGINT) AS n_words,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(tokens, w -> LENGTH(w))), 0) AS BIGINT) AS sum_len,
               CAST(LEN(LIST_FILTER(tokens, w -> REGEXP_MATCHES(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
               CAST(LEN(LIST_FILTER(tokens, w -> w IN ($stopList))) AS BIGINT) AS stop_hits,
               CAST(LEN(lines) AS BIGINT) AS n_lines,
               CAST(LEN(lines) - LEN(LIST_DISTINCT(lines)) AS BIGINT) AS n_dup_lines
        FROM t),
      w2 AS (SELECT doc_id, UNNEST(tokens) AS w FROM t),
      topc AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c
        FROM (SELECT doc_id, w, COUNT(*) AS c FROM w2 GROUP BY 1, 2)
        GROUP BY doc_id),
      keepq AS (
        SELECT b.doc_id
        FROM b JOIN topc ON topc.doc_id = b.doc_id
        WHERE NOT (n_words < 50 OR n_words > 100000)
          AND NOT (CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) < 3.0
                   OR CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) > 10.0)
          AND NOT (CAST(n_words - n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.2)
          AND NOT (stop_hits < 2)
          AND NOT (n_lines > 0 AND CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) > 0.3)
          AND NOT (CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.2)),
      keeper AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5(text)),
      tagged AS (
        SELECT d.lang, d.n_chars,
               CASE WHEN substr(MD5('t|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
                    WHEN substr(MD5('t|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d
        JOIN keepq ON keepq.doc_id = d.doc_id
        JOIN keeper ON keeper.doc_id = d.doc_id)
      SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM tagged GROUP BY split, lang
      ORDER BY split, lang"""))

  /** Sequence packing — the pretraining batch-prep step: documents are
    * concatenated per language shard (deterministic doc_id order) and
    * sliced into fixed 512-token context windows; each doc reports its
    * starting bin, offset inside it, and the last bin it spills into.
    * One window cumsum per shard — shards pack in parallel, the 100 TB
    * shape (a global pack would serialize on one partition). All-integer
    * arithmetic on non-negative operands, so Spark's truncating `div`
    * and DuckDB's flooring `//` agree and the oracle hashes. */
  val txPack = GraftQuery(
    "tx_pack",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs(s, dir)
        .withColumn("n_tokens", size(split($"text", " ")).cast(LongType))
        .withColumn("start_tok", sum($"n_tokens").over(w) - $"n_tokens")
        .selectExpr("doc_id", "lang", "n_tokens",
          "start_tok div 512 AS bin",
          "start_tok % 512 AS bin_offset",
          "(start_tok + n_tokens - 1) div 512 AS end_bin")
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 - CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS start_tok
        FROM documents)
      SELECT doc_id, lang, n_tokens,
             start_tok // 512 AS bin,
             start_tok % 512 AS bin_offset,
             (start_tok + n_tokens - 1) // 512 AS end_bin
      FROM t
      ORDER BY doc_id"""))

  /** Blocking + verify fuzzy dedup — the classic entity-resolution shape
    * at scale: candidate pairs come from an EQUI-join on aligned 10-char
    * bands of the 30-char prefix (blocking keys: edit-light duplicates
    * rarely disturb every band), then the exact `levenshtein` verifies.
    * Exact pair multiplicity via the first-agreeing-band predicate (the
    * SimJoinBandRewrite trick over strings). The oracle replays the SAME
    * blocking predicate naively — Spark's plan is the shuffle-
    * partitionable banded join, DuckDB's is an O(n²) scan, results are
    * identical by construction. `levenshtein` is classic integer DP in
    * both engines, so the verify agrees bit-exactly. */
  val ddEditPairs = GraftQuery(
    "dd_edit_pairs",
    (s, dir) => {
      import s.implicits._
      val pre = docs(s, dir)
        .select($"doc_id", substring(lower($"text"), 1, 30).as("pre"))
        .filter(length($"pre") === 30)
      val banded = pre.select($"doc_id", $"pre",
        posexplode(array(
          substring($"pre", 1, 10), substring($"pre", 11, 10),
          substring($"pre", 21, 10))).as(Seq("band_idx", "band_val")))
      val l = banded.as("l")
      val r = banded.as("r")
      def firstAgree(a: Column, b: Column): Column =
        when(substring(a, 1, 10) === substring(b, 1, 10), 0)
          .when(substring(a, 11, 10) === substring(b, 11, 10), 1)
          .otherwise(2)
      l.join(r,
          $"l.band_idx" === $"r.band_idx" && $"l.band_val" === $"r.band_val" &&
            $"l.doc_id" < $"r.doc_id" &&
            firstAgree($"l.pre", $"r.pre") === $"l.band_idx")
        .select($"l.doc_id".as("id_a"), $"r.doc_id".as("id_b"),
          levenshtein($"l.pre", $"r.pre").cast(LongType).as("edit_distance"))
        .filter($"edit_distance" <= 2)
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH pre AS (
        SELECT doc_id, SUBSTR(LOWER(text), 1, 30) AS pre
        FROM documents
        WHERE LENGTH(SUBSTR(LOWER(text), 1, 30)) = 30)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_distance
      FROM pre a JOIN pre b ON a.doc_id < b.doc_id
       AND (SUBSTR(a.pre, 1, 10) = SUBSTR(b.pre, 1, 10)
         OR SUBSTR(a.pre, 11, 10) = SUBSTR(b.pre, 11, 10)
         OR SUBSTR(a.pre, 21, 10) = SUBSTR(b.pre, 21, 10))
      WHERE levenshtein(a.pre, b.pre) <= 2
      ORDER BY id_a, id_b"""))

  /** PassJoin (Li, Deng, Feng — VLDB'12): the EXACT edit-distance
    * similarity join for VARIABLE-length strings (dd_edit_pairs' aligned
    * bands are exact only for equal-length substitution-only edits).
    * Pigeonhole on the SHORTER string of a pair: partition it into k+1
    * segments — if ed(s,t) ≤ k, some segment of s occurs VERBATIM in t
    * at a position shifted by at most k. Candidate generation is thus an
    * equi-join on (shorter-length, segment-index, segment-text): the
    * short side emits its k+1 segments; the probe side enumerates, for
    * each candidate shorter length ℓ ∈ [L−k, L], the substrings in each
    * segment's ±k position window — a bounded (2k+1)²·(k+1) ≈ 75-key
    * expansion per string, NOT a cross join. Exact levenshtein verifies
    * survivors; (least, greatest) id ordering dedups the symmetric
    * equal-length case. The key is each document's first five words
    * lowercased, so lengths genuinely vary. Oracle: brute-force
    * levenshtein over all pairs. 100 TB: both sides shuffle on the
    * candidate key — near-linear like the other banded joins. */
  val ddPassJoin = GraftQuery(
    "dd_passjoin",
    (s, dir) => {
      import s.implicits._
      val k = 2
      val p = docs(s, dir).select($"doc_id",
          lower(array_join(slice(split($"text", " "), 1, 5), " ")).as("ks"))
        .withColumn("len", length($"ks"))
      // segment layout for a string of length l (3 segments): the first
      // (3 - l%3) take l div 3 chars, the rest one more — closed form
      // shared by both sides so the equi-key agrees per length
      def layout(lCol: String, iCol: String): (String, String) = (
        s"($lCol div 3) + IF($iCol >= 3 - ($lCol % 3), 1, 0)", // len_i
        s"1 + $iCol * ($lCol div 3) + GREATEST(0, $iCol - (3 - ($lCol % 3)))") // start_i
      val (liS, qiS) = layout("ls", "i")
      val segs = p.select($"doc_id".as("id_s"), $"ks".as("ks_s"), $"len".as("ls"),
          explode(expr("sequence(0, 2)")).as("i"))
        .withColumn("seg", expr(s"substring(ks_s, $qiS, $liS)"))
        .filter(length($"seg") > 0)
        .select($"id_s", $"ks_s", $"ls", $"i", $"seg")
      val (liT, qiT) = layout("lseg", "i")
      val probes = p.select($"doc_id".as("id_t"), $"ks".as("ks_t"), $"len".as("lt"),
          explode(expr(s"sequence(greatest(1, len - $k), len)")).as("lseg"))
        .select($"id_t", $"ks_t", $"lt", $"lseg",
          explode(expr("sequence(0, 2)")).as("i"))
        .withColumn("li", expr(liT))
        .withColumn("qi", expr(qiT))
        .select($"id_t", $"ks_t", $"lt", $"lseg", $"i", $"li",
          explode(expr(s"sequence($qiT - $k, $qiT + $k)")).as("q"))
        .filter($"q" >= 1 && $"q" + $"li" - lit(1) <= $"lt" && $"li" > 0)
        .select($"id_t", $"ks_t", $"lt", $"lseg", $"i",
          expr("substring(ks_t, q, li)").as("seg"))
      segs.join(probes,
          $"ls" === $"lseg" && segs("i") === probes("i") &&
            segs("seg") === probes("seg") && $"id_s" =!= $"id_t")
        .select(
          least($"id_s", $"id_t").as("id_a"),
          greatest($"id_s", $"id_t").as("id_b"),
          levenshtein($"ks_s", $"ks_t").cast(LongType).as("dist"))
        .filter($"dist" <= k)
        .distinct()
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               LOWER(ARRAY_TO_STRING((STRING_SPLIT(text, ' '))[1:5], ' ')) AS ks
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.ks, b.ks) AS BIGINT) AS dist
      FROM p a JOIN p b ON a.doc_id < b.doc_id
      WHERE levenshtein(a.ks, b.ks) <= 2
      ORDER BY id_a, id_b"""))

  /** Per-domain document caps — the crawl-curation rule that no single
    * (lang, source) domain dominates the training mix: rank a domain's
    * documents by quality proxy (length, doc_id tie-break) and keep the
    * top 50. 100 TB shape: ONE shuffle on the domain key; each window
    * only ever sorts one domain's rows (spillable sort), and the cap
    * bounds the output to 50 × |domains| regardless of corpus size. */
  val txDomainCap = GraftQuery(
    "tx_domain_cap",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang", $"source").orderBy($"n_chars".desc, $"doc_id")
      docs(s, dir)
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter($"rk" <= 50)
        .select($"lang", $"source", $"rk", $"doc_id", $"n_chars")
        .orderBy($"lang", $"source", $"rk")
    },
    Some("""
      WITH r AS (
        SELECT lang, source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents)
      SELECT lang, source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
      FROM r WHERE rk <= 50
      ORDER BY lang, source, rk"""))

  /** Overlapping-window chunking for retrieval corpora (RAG): 128-token
    * chunks on a 96-token stride (32 tokens of overlap so no boundary
    * sentence is lost to both neighbors). `sequence(0, nt-1, 96)` emits
    * the chunk starts, `slice` takes the tokens, and the chunk content is
    * surfaced as an md5 so the row stays narrow. Pure per-row flatMap —
    * embarrassingly parallel, output linear in token count; the lazy
    * explode never materializes a doc's chunk list. */
  val txChunkOverlap = GraftQuery(
    "tx_chunk_overlap",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .withColumn("tokens", split($"text", " "))
        .withColumn("nt", size($"tokens"))
        .filter($"nt" > 0)
        .select($"doc_id", $"nt", $"tokens",
          explode(expr("sequence(0, nt - 1, 96)")).as("start"))
        .select(
          $"doc_id",
          expr("CAST(start DIV 96 AS BIGINT)").as("chunk_id"),
          $"start".cast(LongType).as("start_tok"),
          least(lit(128), $"nt" - $"start").cast(LongType).as("len_tok"),
          md5(concat_ws(" ", expr("slice(tokens, start + 1, 128)"))).as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS nt
        FROM documents),
      s AS (
        SELECT doc_id, toks, nt, UNNEST(RANGE(0, nt, 96)) AS start
        FROM d WHERE nt > 0)
      SELECT doc_id,
             CAST(start // 96 AS BIGINT) AS chunk_id,
             CAST(start AS BIGINT) AS start_tok,
             CAST(LEAST(128, nt - start) AS BIGINT) AS len_tok,
             MD5(ARRAY_TO_STRING(list_slice(toks, start + 1, LEAST(start + 128, nt)), ' '))
               AS chunk_md5
      FROM s
      ORDER BY doc_id, chunk_id"""))

  /** WIMBD-style corpus n-gram census (Elazar et al. 2024, "What's In My
    * Big Data?"): the 20 most-frequent word trigrams with occurrence and
    * document-frequency counts. One explode + one partial-aggregated
    * count shuffle + a TakeOrdered top-k — the counts-first shape that
    * lets a 100 TB corpus census run as a single map-side-combined pass
    * (no per-doc state, no join). Ties at the cut break on the ngram text
    * so the result is total-ordered. */
  val txCorpusNgrams = GraftQuery(
    "tx_corpus_ngrams",
    (s, dir) => {
      import s.implicits._
      val rows = shingleRows(
        docs(s, dir).withColumn("tokens", split($"text", " ")), 3,
        distinct = false)
      rows.groupBy($"shingle".as("ngram"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct($"doc_id").as("n_docs"))
        .orderBy($"n_occurrences".desc, $"ngram")
        .limit(20)
    },
    Some("""
      WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
      sh AS (SELECT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS ngram
             FROM t, UNNEST(RANGE(1, LEN(tokens) - 1)) AS u(i)
             WHERE LEN(tokens) >= 3)
      SELECT ngram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
      FROM sh
      GROUP BY ngram
      ORDER BY n_occurrences DESC, ngram
      LIMIT 20"""))

  /** Content-defined chunking dedup (the FastCDC/LBFS recipe at word
    * granularity, Muthitacharoen et al. 2001): chunk boundaries fall
    * where the rolling fingerprint of the last 3 words hits a target
    * pattern (md5 low nibble = 0 → expected chunk ≈ 16 words), so an
    * insertion early in a document SHIFTS boundaries only locally and
    * repeated passages re-chunk identically wherever they occur — the
    * property fixed-stride passage windows (dd_subdoc_dedup) lack.
    * Output: the top-50 chunks by corpus occurrence.
    *
    * 100 TB shape: the explode is linear in corpus tokens, the boundary
    * decision is per-row (no cross-row state — the "rolling" window is
    * re-derived from the array, so no sequential scan), chunk reassembly
    * is one (doc, chunk) aggregate on the already-doc-partitioned rows,
    * and the census is a map-side-combined count + TakeOrdered. */
  val ddCdcChunks = GraftQuery(
    "dd_cdc_chunks",
    (s, dir) => {
      Tables.registerViews(s, dir)
      s.sql(s"""
        WITH t AS (SELECT doc_id, SPLIT(text, ' ') AS ws FROM documents),
        w AS (
          SELECT doc_id, i, element_at(ws, i) AS w,
                 CASE WHEN i >= 3 AND (INSTR('0123456789abcdef',
                        SUBSTR(md5(concat_ws(' ', element_at(ws, i-2),
                                                  element_at(ws, i-1),
                                                  element_at(ws, i))), 32, 1)) - 1) = 0
                      THEN 1 ELSE 0 END AS b
          FROM t LATERAL VIEW explode(sequence(1, size(ws))) sq AS i),
        c AS (
          SELECT doc_id, i, w,
                 COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
          FROM w),
        chunks AS (
          SELECT doc_id, chunk_idx,
                 md5(listagg(w, ' ') WITHIN GROUP (ORDER BY i)) AS chunk_hash,
                 COUNT(*) AS n_words
          FROM c GROUP BY doc_id, chunk_idx)
        SELECT chunk_hash, COUNT(*) AS occurrences,
               COUNT(DISTINCT doc_id) AS docs,
               MIN(n_words) AS n_words, MIN(doc_id) AS first_doc
        FROM chunks
        GROUP BY chunk_hash
        ORDER BY occurrences DESC, chunk_hash
        LIMIT 50""")
    },
    Some("""
      WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
      w AS (
        SELECT doc_id, i, ws[i] AS w,
               CASE WHEN i >= 3 AND (INSTR('0123456789abcdef',
                      SUBSTR(md5(concat_ws(' ', ws[i-2], ws[i-1], ws[i])), 32, 1)) - 1) = 0
                    THEN 1 ELSE 0 END AS b
        FROM t, UNNEST(RANGE(1, LEN(ws) + 1)) AS sq(i)),
      c AS (
        SELECT doc_id, i, w,
               COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        FROM w),
      chunks AS (
        SELECT doc_id, chunk_idx,
               md5(STRING_AGG(w, ' ' ORDER BY i)) AS chunk_hash,
               COUNT(*) AS n_words
        FROM c GROUP BY doc_id, chunk_idx)
      SELECT chunk_hash, COUNT(*) AS occurrences,
             COUNT(DISTINCT doc_id) AS docs,
             MIN(n_words) AS n_words, MIN(doc_id) AS first_doc
      FROM chunks
      GROUP BY chunk_hash
      ORDER BY occurrences DESC, chunk_hash
      LIMIT 50"""))

  /** Bloom-filter dedup membership — the constant-space pre-filter a
    * 100 TB ingest runs BEFORE any join against the corpus: a 4,032-bit
    * Bloom filter (64 × 63-bit BIGINT words — 63 so no set bit ever
    * touches the sign bit, keeping the words engine-portable) with 3
    * md5-derived hash positions is FITTED over the corpus slice
    * (doc_id % 10 ≠ 7) by a single bit_or aggregate, broadcast (it is 4
    * rows — in production, 10s of MB), and PROBED by the arriving slice;
    * each arriving doc reports its bloom verdict next to ground truth
    * (an exact md5 semi-join), exposing the false-positive behavior the
    * Bloom parameters trade away. Everything is integer/bit arithmetic
    * on md5 prefixes, so DuckDB replays the filter bit-for-bit — the
    * oracle checks the exact WORDS the fit produces, not just the
    * verdicts. At scale the arriving side never shuffles: fit is one
    * aggregate, probe is a broadcast join. */
  val ddBloomFilter = GraftQuery(
    "dd_bloom_filter",
    (s, dir) => {
      import s.implicits._
      val hashed = docs(s, dir).select($"doc_id", md5($"text").as("h"))
      val corpus = hashed.filter($"doc_id" % 10 =!= 7)
      val arriving = hashed.filter($"doc_id" % 10 === 7)
      def positions(df: DataFrame): DataFrame = df
        .select($"doc_id", $"h",
          explode(array(graft.functions.BloomDedup.positions($"h"): _*)).as("pos"))
      val bloom = positions(corpus)
        .select(expr("pos div 63").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("mask"))
        .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
      val probed = positions(arriving)
        .select($"doc_id", expr("pos div 63").as("word"),
          ($"pos" % 63L).cast(IntegerType).as("bit"))
        .join(broadcast(bloom), Seq("word"), "left")
        .select($"doc_id",
          coalesce(expr("(shiftright(bits, bit) & 1) = 1"), lit(false))
            .cast(IntegerType).as("hit"))
        .groupBy($"doc_id").agg(sum($"hit").as("n_set"))
      val exact = arriving
        .join(corpus.select($"h").distinct().withColumn("m", lit(1)),
          Seq("h"), "left")
        .select($"doc_id", $"m".isNotNull.as("exact_dup"))
      probed.join(exact, Seq("doc_id"))
        .select($"doc_id", ($"n_set" === 3L).as("bloom_hit"), $"exact_dup",
          ($"n_set" === 3L && !$"exact_dup").as("false_positive"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, MD5(text) AS h FROM documents),
      corpus AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
      arriving AS (SELECT * FROM d WHERE doc_id % 10 = 7),
      js AS (SELECT UNNEST(['0', '1', '2']) AS j),
      cpos AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
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
      ex AS (
        SELECT a.doc_id, a.h IN (SELECT h FROM corpus) AS exact_dup
        FROM arriving a)
      SELECT ag.doc_id, ag.n_set = 3 AS bloom_hit, ex.exact_dup,
             ag.n_set = 3 AND NOT ex.exact_dup AS false_positive
      FROM agg ag JOIN ex ON ex.doc_id = ag.doc_id
      ORDER BY ag.doc_id"""))

  /** URL-canonicalization dedup — the FIRST dedup pass every web-crawl
    * corpus runs (before any content hashing): two fetches of the same
    * page differ only in URL noise, so the canonical form (fragment
    * stripped, host case-folded, `www.` dropped, `utm_*` tracking
    * parameters removed, dangling `?`/`&` tidied) is the dedup key. The
    * documents table carries no URL, so one is SYNTHESIZED
    * deterministically from doc_id (the Media.synthesize pattern) with
    * realistic noise — mixed-case host, fragment, utm parameters — and
    * the oracle replays both the synthesis AND the canonicalization, so
    * a hash match proves the string surgery exactly. Per-row projection
    * + one hash aggregate on the canonical key: at 100 TB this is a
    * map-side-combined groupBy, no joins. */
  val txUrlDedup = GraftQuery(
    "tx_url_dedup",
    (s, dir) => {
      import s.implicits._
      val url = concat(lit("https://WWW.Site"), ($"doc_id" % 7).cast(StringType),
        lit(".Example.COM/articles/"), ($"doc_id" % 40).cast(StringType),
        lit("?utm_source=feed&id="), ($"doc_id" % 40).cast(StringType),
        lit("&utm_campaign=c"), ($"doc_id" % 3).cast(StringType),
        lit("#frag"), ($"doc_id" % 5).cast(StringType))
      val canonical =
        regexp_replace(
          regexp_replace(
            regexp_replace(
              lower(regexp_replace(url, "#.*$", "")),
              "utm_[a-z]+=[^&]*&?", ""),
            "[?&]$", ""),
          "^https://www\\.", "https://")
      docs(s, dir)
        .select($"doc_id", canonical.as("canonical_url"))
        .groupBy($"canonical_url")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keep_id"))
        .orderBy($"canonical_url")
    },
    Some("""
      WITH u AS (
        SELECT doc_id,
               'https://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
               '.Example.COM/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
               '?utm_source=feed&id=' || CAST(doc_id % 40 AS VARCHAR) ||
               '&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR) ||
               '#frag' || CAST(doc_id % 5 AS VARCHAR) AS url
        FROM documents),
      c AS (
        SELECT doc_id,
               REGEXP_REPLACE(
                 REGEXP_REPLACE(
                   REGEXP_REPLACE(
                     LOWER(REGEXP_REPLACE(url, '#.*$', '')),
                     'utm_[a-z]+=[^&]*&?', '', 'g'),
                   '[?&]$', ''),
                 '^https://www\.', 'https://') AS canonical_url
        FROM u)
      SELECT canonical_url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
      FROM c
      GROUP BY canonical_url
      ORDER BY canonical_url"""))

  /** HTML main-content extraction — the crawl step BEFORE any text
    * scoring: raw fetches are markup, and quality/dedup operate on the
    * extracted main text. The documents table carries plain text, so a
    * realistic page is SYNTHESIZED around it (head/title, a nav bar, the
    * body paragraph, a footer — the boilerplate a trafilatura-style
    * extractor removes) and the operator recovers the main text by
    * structural stripping: boilerplate containers (`<nav>`, `<footer>`,
    * `<head>`) dropped wholesale, remaining tags removed, whitespace
    * collapsed. Output is the extraction REPORT (recovered length,
    * main-content ratio, lossless-roundtrip flag) — per-row regex
    * projection only, no shuffle except the final sort; the oracle
    * replays synthesis and extraction with the same regexes. */
  val txHtmlExtract = GraftQuery(
    "tx_html_extract",
    (s, dir) => {
      import s.implicits._
      val html = concat(
        lit("<html><head><title>Doc "), $"doc_id".cast(StringType),
        lit("</title><meta charset=\"utf-8\"/></head><body>"),
        lit("<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>"),
        lit("<p>"), $"text", lit("</p>"),
        lit("<footer>(c) 2024 Site"), ($"doc_id" % 7).cast(StringType),
        lit(" - All rights reserved</footer></body></html>"))
      val extracted = trim(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(html, "<head>.*?</head>", " "),
              "<(nav|footer)>.*?</(nav|footer)>", " "),
            "<[^>]*>", " "),
          "\\s+", " "))
      docs(s, dir)
        .select($"doc_id", $"n_chars",
          length(html).as("html_chars"),
          length(extracted).as("extracted_chars"),
          (extracted === $"text").as("lossless"))
        .withColumn("main_ratio",
          $"extracted_chars".cast(DoubleType) / $"html_chars".cast(DoubleType))
        .orderBy($"doc_id")
    },
    Some("""
      WITH h AS (
        SELECT doc_id, text, n_chars,
               '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
               '</title><meta charset="utf-8"/></head><body>' ||
               '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>' ||
               '<p>' || text || '</p>' ||
               '<footer>(c) 2024 Site' || CAST(doc_id % 7 AS VARCHAR) ||
               ' - All rights reserved</footer></body></html>' AS html
        FROM documents),
      x AS (
        SELECT doc_id, text, n_chars, html,
               TRIM(REGEXP_REPLACE(
                 REGEXP_REPLACE(
                   REGEXP_REPLACE(
                     REGEXP_REPLACE(html, '<head>.*?</head>', ' ', 'g'),
                     '<(nav|footer)>.*?</(nav|footer)>', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '\s+', ' ', 'g')) AS extracted
        FROM h)
      SELECT doc_id, n_chars,
             CAST(LENGTH(html) AS INTEGER) AS html_chars,
             CAST(LENGTH(extracted) AS INTEGER) AS extracted_chars,
             extracted = text AS lossless,
             CAST(LENGTH(extracted) AS DOUBLE) / CAST(LENGTH(html) AS DOUBLE)
               AS main_ratio
      FROM x
      ORDER BY doc_id"""))

  /** The end-to-end CURATION FUNNEL — the whole pre-training data DAG as
    * one oracle-checked report: raw corpus → URL-canonical dedup (the
    * tx_url_dedup rule: keep the min doc_id per canonical URL) → quality
    * gate (≥ 20 whitespace tokens) → exact content dedup (md5 keep-one)
    * → train-slice selection (the tx_train_split salted-md5 rule:
    * 48-bit hex prefix < 90% of 2⁴⁸). Output: one row per stage with
    * surviving doc/char counts — the funnel a data-curation team reviews
    * before every training run. Each stage is a filter or keyed keep-one
    * over the previous survivor set; the only shuffles are the dedup
    * groupBys, and the stage counts are map-side-combined aggregates.
    * Every rule is integer/hash-deterministic, so DuckDB replays the
    * funnel exactly. */
  val txCurationFunnel = GraftQuery(
    "tx_curation_funnel",
    (s, dir) => {
      import s.implicits._
      val raw = docs(s, dir)
      val canonical = concat(lit("s"), ($"doc_id" % 7).cast(StringType),
        lit("/p"), ($"doc_id" % 40).cast(StringType))
      val urlKeep = raw.withColumn("cu", canonical)
        .withColumn("keep",
          min($"doc_id").over(
            org.apache.spark.sql.expressions.Window.partitionBy($"cu")))
        .filter($"doc_id" === $"keep").drop("cu", "keep")
      val quality = urlKeep.filter(size(split($"text", "\\s+")) >= 20)
      val exact = quality
        .withColumn("h", md5($"text"))
        .withColumn("keep",
          min($"doc_id").over(
            org.apache.spark.sql.expressions.Window.partitionBy($"h")))
        .filter($"doc_id" === $"keep").drop("h", "keep")
      val train = exact.filter(
        conv(substring(md5(concat(lit("s|"), $"doc_id".cast(StringType))), 1, 12),
          16, 10).cast(LongType) < 253327479039590L) // 0.9 * 2^48
      def stage(n: Long, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
          .select(lit(n).as("stage"), lit(name).as("stage_name"),
            $"n_docs", $"n_chars")
      stage(0L, "raw", raw)
        .unionByName(stage(1L, "url_dedup", urlKeep))
        .unionByName(stage(2L, "quality", quality))
        .unionByName(stage(3L, "exact_dedup", exact))
        .unionByName(stage(4L, "train_split", train))
        .orderBy($"stage")
    },
    Some("""
      WITH raw AS (SELECT doc_id, text, n_chars FROM documents),
      url_keep AS (
        SELECT doc_id, text, n_chars FROM (
          SELECT *, MIN(doc_id) OVER (PARTITION BY
            's' || CAST(doc_id % 7 AS VARCHAR) || '/p' || CAST(doc_id % 40 AS VARCHAR)
          ) AS keep FROM raw) WHERE doc_id = keep),
      quality AS (
        SELECT * FROM url_keep
        WHERE LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) >= 20),
      exact AS (
        SELECT doc_id, text, n_chars FROM (
          SELECT *, MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keep
          FROM quality) WHERE doc_id = keep),
      train AS (
        SELECT * FROM exact
        WHERE CAST(('0x' || SUBSTR(MD5('s|' || CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) < 253327479039590)
      SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
             COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM raw
      UNION ALL SELECT 1, 'url_dedup', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM url_keep
      UNION ALL SELECT 2, 'quality', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM quality
      UNION ALL SELECT 3, 'exact_dedup', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM exact
      UNION ALL SELECT 4, 'train_split', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM train
      ORDER BY stage"""))

  /** Bloom-filter HEALTH report — the dd_lsh_stats twin for the Bloom
    * tier: word-level fill statistics (set bits via bit_count over the
    * fitted words), the THEORETICAL false-positive rate (fill³ — 3
    * independent hash probes), and the OBSERVED FP rate from the
    * arriving slice's ground truth, side by side. This is the report
    * that says "grow m" before the pre-filter starts waving dups
    * through; counts-only aggregates, one row out. The fill³ power is
    * one exactly-rounded IEEE multiply chain, bit-identical in DuckDB. */
  val ddBloomStats = GraftQuery(
    "dd_bloom_stats",
    (s, dir) => {
      import s.implicits._
      val hashed = docs(s, dir).select($"doc_id", md5($"text").as("h"))
      val corpus = hashed.filter($"doc_id" % 10 =!= 7)
      val bloom = graft.functions.BloomDedup.fit(corpus).cache()
      val fill = bloom.agg(
        count(lit(1)).as("n_words"),
        sum(expr("bit_count(bits)")).cast("long").as("set_bits"))
        .select($"n_words", $"set_bits",
          ($"set_bits".cast(DoubleType) / lit(4032.0d)).as("fill"))
      val verdicts = ddBloomFilter.fn(s, dir)
      val observed = verdicts.agg(
        count(lit(1)).as("n_probed"),
        sum(when($"false_positive", 1L).otherwise(0L)).as("n_fp"),
        sum(when(!$"exact_dup", 1L).otherwise(0L)).as("n_nondup"))
      fill.crossJoin(observed)
        .select($"n_words", $"set_bits", $"fill",
          (($"fill" * $"fill") * $"fill").as("predicted_fp_rate"),
          $"n_probed", $"n_fp",
          // nullif-guarded: on a corpus shape where every arriving doc is
          // an exact dup, n_nondup = 0 and Spark (non-ANSI) yields NULL
          // while DuckDB's IEEE divide yields inf — both sides agree on
          // NULL instead (ADVICE r8)
          ($"n_fp".cast(DoubleType) /
            nullif($"n_nondup".cast(DoubleType), lit(0.0d)))
            .as("observed_fp_rate"))
    },
    Some("""
      WITH d AS (SELECT doc_id, MD5(text) AS h FROM documents),
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
      fill AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS set_bits
        FROM bloom),
      apos AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM arriving, js),
      probe AS (
        SELECT a.doc_id,
               COALESCE((b.bits >> CAST(a.pos % 63 AS INT)) & 1 = 1, FALSE) AS hit
        FROM apos a LEFT JOIN bloom b ON b.word = a.pos // 63),
      agg AS (
        SELECT doc_id, SUM(CASE WHEN hit THEN 1 ELSE 0 END) = 3 AS bloom_hit
        FROM probe GROUP BY doc_id),
      ex AS (
        SELECT a.doc_id, a.h IN (SELECT h FROM corpus) AS exact_dup
        FROM arriving a),
      obs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
               CAST(SUM(CASE WHEN ag.bloom_hit AND NOT ex.exact_dup
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
               CAST(SUM(CASE WHEN NOT ex.exact_dup THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nondup
        FROM agg ag JOIN ex ON ex.doc_id = ag.doc_id)
      SELECT f.n_words, f.set_bits,
             CAST(f.set_bits AS DOUBLE) / 4032.0 AS fill,
             ((CAST(f.set_bits AS DOUBLE) / 4032.0)
               * (CAST(f.set_bits AS DOUBLE) / 4032.0))
               * (CAST(f.set_bits AS DOUBLE) / 4032.0) AS predicted_fp_rate,
             o.n_probed, o.n_fp,
             CAST(o.n_fp AS DOUBLE) / NULLIF(CAST(o.n_nondup AS DOUBLE), 0.0)
               AS observed_fp_rate
      FROM fill f, obs o"""))

  // ---------------------------------------------------------------------
  // Dedup impact report
  // ---------------------------------------------------------------------

  /** The DEDUP impact report — the dedup analogue of tx_corpus_report:
    * one row quantifying, over the full corpus, what each dedup family
    * would remove — exact-duplicate documents (md5, lowest id kept),
    * near-duplicate documents (non-representative members of the MinHash
    * CC clusters, read from the persisted label table), and
    * exact-substring duplicated TOKENS (the ExactSubstr interval-union
    * sum) — with the document/token fractions a curation team tracks
    * release over release. Counts are independent per family (a doc can
    * be both an exact and a near dup; the stages overlap by design and
    * the fractions are reported against the same raw denominators).
    * 100 TB shape: three key-partitioned aggregates over existing
    * artifacts + three one-row cross joins. */
  val ddDedupReport = GraftQuery(
    "dd_dedup_report",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val totals = d.agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast(LongType)).as("n_tokens"))
      val h = d.select($"doc_id", md5($"text").as("h"))
      val exactRow = h.as("a").join(h.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("b.doc_id")).distinct()
        .agg(count(lit(1)).as("exact_dup_docs"))
      val nearRow = clusterTable(s, dir).filter($"doc_id" =!= $"cluster")
        .agg(count(lit(1)).as("near_dup_docs"))
      val substrRow = ddSubstringDup.fn(s, dir)
        .agg(sum($"dup_tokens").as("substring_dup_tokens"))
      totals.crossJoin(exactRow).crossJoin(nearRow).crossJoin(substrRow)
        .select($"n_docs", $"n_tokens", $"exact_dup_docs", $"near_dup_docs",
          $"substring_dup_tokens",
          ($"exact_dup_docs".cast(DoubleType) / $"n_docs".cast(DoubleType))
            .as("exact_frac"),
          ($"near_dup_docs".cast(DoubleType) / $"n_docs".cast(DoubleType))
            .as("near_frac"),
          ($"substring_dup_tokens".cast(DoubleType) / $"n_tokens".cast(DoubleType))
            .as("substring_token_frac"))
    },
    Some {
      val pairSql = ddMinhashLshPairs.oracle.get.trim.stripSuffix("ORDER BY doc_a, doc_b")
      s"""
      WITH RECURSIVE base AS ($pairSql),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM base
        UNION ALL
        SELECT doc_b, doc_a FROM base),
      reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node),
      clusters AS (SELECT node AS doc_id, MIN(label) AS cluster
                   FROM reach GROUP BY node),
      t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
      totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEN(tokens)) AS BIGINT) AS n_tokens FROM t),
      hh AS (SELECT doc_id, MD5(text) AS h FROM documents),
      ex AS (
        SELECT CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS exact_dup_docs
        FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS near_dup_docs
             FROM clusters WHERE doc_id <> cluster),
      win AS (
        SELECT doc_id, i, ARRAY_TO_STRING(tokens[i:i+${SubstrK - 1}], ' ') AS g
        FROM t, UNNEST(RANGE(1, LEN(tokens) - ${SubstrK - 2})) AS u(i)
        WHERE LEN(tokens) >= $SubstrK),
      dup AS (SELECT g FROM win GROUP BY g HAVING COUNT(*) > 1),
      dpos AS (SELECT doc_id, i FROM win JOIN dup USING (g)),
      isl AS (
        SELECT doc_id, i,
               CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + $SubstrK
                    THEN 1 ELSE 0 END AS brk
        FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
      isl2 AS (
        SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
          ROWS UNBOUNDED PRECEDING) AS island
        FROM isl),
      cov AS (
        SELECT doc_id, island, MAX(i) - MIN(i) + $SubstrK AS cov
        FROM isl2 GROUP BY doc_id, island),
      ss AS (SELECT CAST(SUM(cov) AS BIGINT) AS substring_dup_tokens FROM cov)
      SELECT totals.n_docs, totals.n_tokens, ex.exact_dup_docs,
             nd.near_dup_docs, ss.substring_dup_tokens,
             CAST(ex.exact_dup_docs AS DOUBLE) / CAST(totals.n_docs AS DOUBLE)
               AS exact_frac,
             CAST(nd.near_dup_docs AS DOUBLE) / CAST(totals.n_docs AS DOUBLE)
               AS near_frac,
             CAST(ss.substring_dup_tokens AS DOUBLE)
               / CAST(totals.n_tokens AS DOUBLE) AS substring_token_frac
      FROM totals, ex, nd, ss"""
    })

  // ---------------------------------------------------------------------
  // BPE merge training
  // ---------------------------------------------------------------------

  private val bpeRounds = 6

  /** DISTRIBUTED BPE training (Sennrich et al. 2016) — the actual
    * merge-learning loop, not just pre-tokenization: words are spelled as
    * space-separated symbols (chars + `</w>`), and each round (a) counts
    * adjacent symbol pairs weighted by word frequency, (b) takes the
    * most frequent pair (ties lexicographic), (c) merges it corpus-wide.
    * Output: the first 6 learned merges (round, left, right, pair_freq) —
    * the vocabulary a tokenizer trainer would emit.
    *
    * Engine-exactness: pair counts are integer sums; the per-round merge
    * application is string `replace` on the padded spelling — the same
    * non-overlapping left-to-right semantics in Spark and DuckDB — and
    * the winning pair reaches the replace as a broadcast 1-row cross
    * join (Spark) / scalar subquery (DuckDB), so NO fitted state crosses
    * the driver. 100 TB shape: the word-frequency table is the only
    * corpus-sized input; each round is one pair-keyed aggregate over the
    * (distinct-word-sized) spelling table + a TakeOrdered(1). */
  val txBpeTrain = GraftQuery(
    "tx_bpe_train",
    (s, dir) => {
      import s.implicits._
      var w = docs(s, dir)
        .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("freq"))
        .select(concat(
          array_join(expr("regexp_extract_all(word, '.', 0)"), " "),
          lit(" </w>")).as("sp"), $"freq")
      var merges: DataFrame = null
      for (r <- 1 to bpeRounds) {
        val pairs = w
          .select($"freq", split($"sp", " ").as("t"))
          .select($"freq", explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))"))
            .as("p"))
          .groupBy($"p.l".as("left"), $"p.r".as("right"))
          .agg(sum($"freq").as("pair_freq"))
        // 1-row materialization: the winning merge is consumed twice
        // (the output union AND the corpus-wide replace) — checkpointing
        // it keeps each round at ONE pair aggregate
        val top = pairs.orderBy($"pair_freq".desc, $"left", $"right").limit(1)
          .select(lit(r.toLong).as("round"), $"left", $"right", $"pair_freq")
          .localCheckpoint()
        merges = if (merges == null) top else merges.union(top)
        w = w.crossJoin(broadcast(
            top.select($"left".as("ml"), $"right".as("mr"))))
          .select(expr(
            "trim(replace(concat(' ', sp, ' '), concat(' ', ml, ' ', mr, ' '), concat(' ', ml, mr, ' ')))")
            .as("sp"), $"freq")
          .localCheckpoint()
      }
      merges.orderBy($"round")
    },
    Some {
      val rounds = (1 to bpeRounds).map { i =>
        s"""m$i AS MATERIALIZED (
        SELECT $i AS round, l AS left_sym, r AS right_sym,
               CAST(SUM(freq) AS BIGINT) AS pair_freq
        FROM (
          SELECT freq, t[i] AS l, t[i + 1] AS r
          FROM (SELECT freq, STRING_SPLIT(sp, ' ') AS t FROM w${i - 1}),
               UNNEST(RANGE(1, LEN(t))) AS u(i))
        GROUP BY l, r
        ORDER BY pair_freq DESC, l, r LIMIT 1),
      w$i AS MATERIALIZED (
        SELECT TRIM(REPLACE(' ' || sp || ' ',
                 ' ' || (SELECT left_sym FROM m$i) || ' ' || (SELECT right_sym FROM m$i) || ' ',
                 ' ' || (SELECT left_sym FROM m$i) || (SELECT right_sym FROM m$i) || ' ')) AS sp,
               freq
        FROM w${i - 1})"""
      }.mkString(",\n      ")
      val unions = (1 to bpeRounds)
        .map(i =>
          s"""SELECT round, left_sym AS "left", right_sym AS "right", pair_freq FROM m$i""")
        .mkString("\n      UNION ALL ")
      s"""
      WITH w0 AS MATERIALIZED (
        SELECT ARRAY_TO_STRING(regexp_extract_all(word, '.'), ' ') || ' </w>' AS sp,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS word
              FROM documents)
        GROUP BY 1),
      $rounds
      $unions
      ORDER BY round"""
    })

  // ---------------------------------------------------------------------
  // Count-Min Sketch heavy hitters
  // ---------------------------------------------------------------------

  /** Count-Min Sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    * verification: a depth-3 × width-256 integer counter matrix over the
    * token stream (three salted md5 bucket rows), probed for the true
    * top-20 words — estimate = min over the 3 rows, with the CMS
    * guarantee `estimate ≥ true` surfaced as the `overestimate` column.
    * Completes the sketch family (HLL q34, KLL-style quantiles q39b,
    * Bloom dd_bloom_*): CMS is the point-frequency sketch. Everything is
    * integer counts over engine-portable md5 buckets, so the oracle is
    * exact. 100 TB shape: the sketch build is ONE map-side-combined
    * aggregate onto ≤ 768 cells (the entire sketch is broadcast-sized by
    * construction — that is the point of CMS); the probe side is 60
    * rows. */
  private val CmsW = 256

  /** Salted CMS bucket columns for a frame carrying (w, j). */
  private[graft] def cmsBucketed(df: DataFrame): DataFrame = df
    .withColumn("m", md5(concat(lit("cms"), col("j").cast("string"), lit("|"), col("w"))))
    .withColumn("bucket", expr(s"${h16SqlAt("m", 1)} % $CmsW"))

  /** The depth-3 × width-256 CMS counter matrix over a (text) frame —
    * shared verbatim by the batch build ([[txCmsTopk]]) and the streaming
    * build (st_cms_sketch): one aggregate onto ≤ 768 cells, which under
    * streaming complete-mode is the canonical incrementally-maintained
    * sketch (bounded state by construction). */
  private[graft] def cmsCells(df: DataFrame): DataFrame =
    cmsBucketed(df
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      .select(col("w"), explode(expr("sequence(0, 2)")).as("j")))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cell_cnt"))

  val txCmsTopk = GraftQuery(
    "tx_cms_topk",
    (s, dir) => {
      import s.implicits._
      // one token pass: the per-word counts feed BOTH the truth top-20
      // and the sketch build (cell count = Σ word counts per bucket —
      // identical values to the per-occurrence fold cmsCells runs for
      // streaming, but the salting/md5 work here is per DISTINCT word,
      // not per occurrence, and the corpus is scanned once)
      val counts = docs(s, dir)
        .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("true_cnt"))
        .cache()
      val cells = cmsBucketed(
        counts.select($"w", $"true_cnt", explode(expr("sequence(0, 2)")).as("j")))
        .groupBy($"j", $"bucket").agg(sum($"true_cnt").as("cell_cnt"))
      val top = counts.orderBy($"true_cnt".desc, $"w").limit(20)
      val probes = cmsBucketed(
        top.select($"w", $"true_cnt", explode(expr("sequence(0, 2)")).as("j")))
      probes.join(cells, Seq("j", "bucket"))
        .groupBy($"w", $"true_cnt").agg(min($"cell_cnt").as("cms_estimate"))
        .select($"w", $"true_cnt", $"cms_estimate",
          ($"cms_estimate" - $"true_cnt").as("overestimate"))
        .orderBy($"true_cnt".desc, $"w")
    },
    Some(s"""
      WITH toks AS (
        SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents),
      salted AS (
        SELECT w, j, MD5('cms' || CAST(j AS VARCHAR) || '|' || w) AS m
        FROM toks, UNNEST([0, 1, 2]) AS u(j)),
      cells AS (
        SELECT j, ${h16SqlAt("m", 1)} % 256 AS bucket, COUNT(*) AS cell_cnt
        FROM salted GROUP BY 1, 2),
      top AS (
        SELECT w, COUNT(*) AS true_cnt FROM toks
        GROUP BY w ORDER BY true_cnt DESC, w LIMIT 20),
      probes AS (
        SELECT t.w, t.true_cnt, j,
               MD5('cms' || CAST(j AS VARCHAR) || '|' || t.w) AS m
        FROM top t, UNNEST([0, 1, 2]) AS u(j)),
      pb AS (
        SELECT w, true_cnt, j, ${h16SqlAt("m", 1)} % 256 AS bucket FROM probes)
      SELECT p.w, p.true_cnt, MIN(c.cell_cnt) AS cms_estimate,
             MIN(c.cell_cnt) - p.true_cnt AS overestimate
      FROM pb p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
      GROUP BY p.w, p.true_cnt
      ORDER BY true_cnt DESC, w"""))

  // ---------------------------------------------------------------------
  // Containment (asymmetric near-dup)
  // ---------------------------------------------------------------------

  /** Broder containment C(A→B) = |S(A)∩S(B)| / |S(A)| over the df-capped
    * 5-shingle sets — the ASYMMETRIC companion to dd_ngram_jaccard:
    * a short document quoted wholesale inside a long one has low Jaccard
    * (the union is dominated by the long doc) but containment ≈ 1 from
    * the short side, which is exactly the "article embedded in a crawl
    * page" case Jaccard dedup misses. Same df-capped shingle equi-join
    * (linear candidates), same 100 TB shape as the Jaccard pass; emits
    * pairs where either direction's containment ≥ 0.8. */
  val ddContainment = GraftQuery(
    "dd_containment",
    (s, dir) => {
      import s.implicits._
      val sh = shingleTable(s, dir)
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      sharedShingleCounts(sh)
        .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn("containment_a", $"shared".cast(DoubleType) / $"na".cast(DoubleType))
        .withColumn("containment_b", $"shared".cast(DoubleType) / $"nb".cast(DoubleType))
        .filter($"containment_a" >= 0.8 || $"containment_b" >= 0.8)
        .select($"doc_a", $"doc_b", $"shared", $"na", $"nb",
          $"containment_a", $"containment_b")
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""
      WITH allsh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+4], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 3)) AS t(i)
        WHERE LEN(tokens) >= 5),
      sh AS (
        SELECT doc_id, shingle FROM allsh
        WHERE shingle IN (SELECT shingle FROM allsh
                          GROUP BY shingle HAVING COUNT(*) <= $maxShingleDf)),
      cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared, ca.n_shingles AS na, cb.n_shingles AS nb,
             CAST(shared AS DOUBLE) / CAST(ca.n_shingles AS DOUBLE) AS containment_a,
             CAST(shared AS DOUBLE) / CAST(cb.n_shingles AS DOUBLE) AS containment_b
      FROM pairs
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / CAST(ca.n_shingles AS DOUBLE) >= 0.8
         OR CAST(shared AS DOUBLE) / CAST(cb.n_shingles AS DOUBLE) >= 0.8
      ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------------
  // Corpus novelty curve
  // ---------------------------------------------------------------------

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 3-shingles whose FIRST corpus occurrence (min doc_id) is this doc —
    * the curation diagnostic behind "the web is running out of new text":
    * replicas and boilerplate score near 0, fresh material near 1, and the
    * corpus-level decay of this curve is the saturation signal dataset
    * builders track. 100 TB shape: one shingle-keyed aggregate for the
    * first-occurrence table, one shingle-keyed join back, one doc-keyed
    * aggregate — all linear, no pair joins. */
  val txNgramNovelty = GraftQuery(
    "tx_ngram_novelty",
    (s, dir) => {
      import s.implicits._
      val sh = shingleRows(docs(s, dir).withColumn("tokens", split($"text", " ")), 3)
      val first = sh.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
      sh.join(first, "shingle")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
        .select($"doc_id", $"n_shingles", $"n_novel",
          ($"n_novel".cast(DoubleType) / $"n_shingles".cast(DoubleType))
            .as("novelty_frac"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+2], ' ') AS shingle
        FROM t, UNNEST(RANGE(1, LEN(tokens) - 1)) AS u(i)
        WHERE LEN(tokens) >= 3),
      first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
      FROM sh JOIN first USING (shingle)
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Exact-substring duplication accounting (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better" — the ExactSubstr pass)
  // ---------------------------------------------------------------------


  /** Per-document duplicated-span accounting: a k-token window is
    * "duplicated" if the identical window occurs anywhere else in the
    * corpus (another doc OR another position of the same doc); the
    * duplicated-token count is the size of the UNION of all duplicated
    * windows' [i, i+k) spans — the quantity ExactSubstr dedup would
    * remove. k = 5 here so the synthetic corpus produces non-trivial
    * spans (production uses ~50-token windows).
    *
    * 100 TB shape — the reason this formulation (not a suffix array) is
    * the distributed one: the corpus becomes a (window-hash → postings)
    * key-partitioned aggregate (one shuffle, map-side partial), the
    * duplicated postings flow back keyed by doc, and the span union is a
    * per-doc sorted window (gaps-and-islands, linear per doc). No
    * quadratic pair join anywhere, no driver state. */
  val ddSubstringDup = GraftQuery(
    "dd_substring_dup",
    (s, dir) => {
      import s.implicits._
      val k = SubstrK
      val toks = docs(s, dir).withColumn("tokens", split($"text", " "))
      val win = toks.filter(size($"tokens") >= k)
        .select($"doc_id",
          explode(expr(s"sequence(1, size(tokens) - ${k - 1})")).as("i"),
          $"tokens")
        .select($"doc_id", $"i",
          expr(s"concat_ws(' ', slice(tokens, i, $k))").as("g"))
      val dup = win.groupBy($"g").agg(count(lit(1)).as("c"))
        .filter($"c" > 1).select($"g")
      val dpos = win.join(dup, "g").select($"doc_id", $"i")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"i")
      val isl = dpos
        .withColumn("brk",
          when(lag($"i", 1).over(w).isNull ||
            $"i" > lag($"i", 1).over(w) + k, 1L).otherwise(0L))
        .withColumn("island", sum($"brk").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val perDoc = isl.groupBy($"doc_id", $"island")
        .agg((max($"i") - min($"i") + k).as("cov"))
        .groupBy($"doc_id").agg(sum($"cov").as("dup_tokens"))
      toks.select($"doc_id", size($"tokens").cast(LongType).as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
          (coalesce($"dup_tokens", lit(0L)).cast(DoubleType) /
            $"n_tokens".cast(DoubleType)).as("dup_frac"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
      win AS (
        SELECT doc_id, i, ARRAY_TO_STRING(tokens[i:i+${SubstrK - 1}], ' ') AS g
        FROM t, UNNEST(RANGE(1, LEN(tokens) - ${SubstrK - 2})) AS u(i)
        WHERE LEN(tokens) >= $SubstrK),
      dup AS (SELECT g FROM win GROUP BY g HAVING COUNT(*) > 1),
      dpos AS (SELECT doc_id, i FROM win JOIN dup USING (g)),
      isl AS (
        SELECT doc_id, i,
               CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + $SubstrK
                    THEN 1 ELSE 0 END AS brk
        FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
      isl2 AS (
        SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
          ROWS UNBOUNDED PRECEDING) AS island
        FROM isl),
      cov AS (
        SELECT doc_id, island, MAX(i) - MIN(i) + $SubstrK AS cov
        FROM isl2 GROUP BY doc_id, island),
      dd AS (SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS dup_tokens
             FROM cov GROUP BY doc_id)
      SELECT t.doc_id, CAST(LEN(tokens) AS BIGINT) AS n_tokens,
             COALESCE(dd.dup_tokens, 0) AS dup_tokens,
             CAST(COALESCE(dd.dup_tokens, 0) AS DOUBLE)
               / CAST(LEN(tokens) AS DOUBLE) AS dup_frac
      FROM t LEFT JOIN dd USING (doc_id)
      ORDER BY doc_id"""))

  /** C4-style heuristic document filter (Raffel et al. 2020, §2.2): the
    * published rule set re-expressed over this corpus — terminal
    * punctuation, minimum word count, curly-brace (code) rejection, and
    * the lorem-ipsum placeholder check. Every rule is emitted as its own
    * flag so downstream curation can audit WHICH rule fired (the verdict
    * alone is not actionable at corpus scale); `keep` gates on the three
    * rules that discriminate on this corpus (the synthetic generator never
    * emits sentence punctuation, so the terminal-punct flag is reported
    * but not gating — the calibration note a real pipeline would make
    * per-source). 100 TB shape: a single narrow projection, no shuffle at
    * all until the output sort. */
  val txC4Filter = GraftQuery(
    "tx_c4_filter",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id",
          size(split($"text", " ")).cast(LongType).as("n_words"),
          ($"text".rlike("[.!?]$")).as("r_terminal_punct"),
          (size(split($"text", " ")) >= 30).as("r_min_words"),
          (!$"text".contains("{")).as("r_no_brace"),
          (!lower($"text").contains("lorem ipsum")).as("r_no_lorem"))
        .withColumn("keep", $"r_min_words" && $"r_no_brace" && $"r_no_lorem")
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
             REGEXP_MATCHES(text, '[.!?]$') AS r_terminal_punct,
             LEN(STRING_SPLIT(text, ' ')) >= 30 AS r_min_words,
             NOT CONTAINS(text, '{') AS r_no_brace,
             NOT CONTAINS(LOWER(text), 'lorem ipsum') AS r_no_lorem,
             (LEN(STRING_SPLIT(text, ' ')) >= 30
               AND NOT CONTAINS(text, '{')
               AND NOT CONTAINS(LOWER(text), 'lorem ipsum')) AS keep
      FROM documents ORDER BY doc_id"""))

  /** Quality-signal ENSEMBLE — the rank-average combiner curation
    * pipelines use when no single heuristic is trusted: three cheap
    * signals (word count, type-token ratio, mean word length), each
    * converted to its corpus PERCENT_RANK (scale-free, outlier-immune —
    * the reason production ensembles rank before averaging), then
    * averaged and bucketed into deciles. Exactness: percent_rank is
    * integer-derived ((rank−1)/(n−1), one correctly-rounded division),
    * the TTR and mean-word-length signals are single divisions of exact
    * integers, and the 3-term average is a fixed-order IEEE expression —
    * bit-identical across engines with no fitted state. 100 TB shape:
    * three window passes over scalar columns (each a sort-based exchange
    * on a 1-double key), then a width-1 projection. */
  val txQualityEnsemble = GraftQuery(
    "tx_quality_ensemble",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val f = docs(s, dir).select($"doc_id",
        size(split($"text", " ")).cast(LongType).as("n_words"),
        (size(array_distinct(split($"text", " "))).cast(DoubleType) /
          size(split($"text", " ")).cast(DoubleType)).as("ttr"),
        ((length($"text") - size(split($"text", " ")) + 1).cast(DoubleType) /
          size(split($"text", " ")).cast(DoubleType)).as("mean_wlen"))
      val scored = f
        .withColumn("pr_words",
          percent_rank().over(Window.orderBy($"n_words", $"doc_id")))
        .withColumn("pr_ttr",
          percent_rank().over(Window.orderBy($"ttr", $"doc_id")))
        .withColumn("pr_wlen",
          percent_rank().over(Window.orderBy($"mean_wlen", $"doc_id")))
        .withColumn("score", ($"pr_words" + $"pr_ttr" + $"pr_wlen") / 3.0d)
      scored
        .withColumn("decile",
          ntile(10).over(Window.orderBy($"score", $"doc_id")).cast(LongType))
        .select($"doc_id", $"n_words", $"score", $"decile")
        .orderBy($"doc_id")
    },
    Some("""
      WITH f AS (
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
               CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                 / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS ttr,
               CAST(LENGTH(text) - LEN(STRING_SPLIT(text, ' ')) + 1 AS DOUBLE)
                 / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS mean_wlen
        FROM documents),
      scored AS (
        SELECT doc_id, n_words,
               (PERCENT_RANK() OVER (ORDER BY n_words, doc_id)
                + PERCENT_RANK() OVER (ORDER BY ttr, doc_id)
                + PERCENT_RANK() OVER (ORDER BY mean_wlen, doc_id)) / 3.0 AS score
        FROM f)
      SELECT doc_id, n_words, score,
             CAST(NTILE(10) OVER (ORDER BY score, doc_id) AS BIGINT) AS decile
      FROM scored ORDER BY doc_id"""))

  /** Tokenizer FERTILITY by language — tokens produced per whitespace
    * word, THE metric a tokenizer evaluation reports per language before
    * a model commits to a vocab (high fertility = the language pays more
    * sequence length per word; Rust/SentencePiece reports the same
    * number). Uses the shared BPE-ish regex segmentation of
    * [[txBpeTokens]]; per-language sums are exact integers, fertility is
    * one correctly-rounded division. 100 TB: one narrow aggregate, the
    * per-doc regex work is embarrassingly parallel. */
  val txFertility = GraftQuery(
    "tx_fertility",
    (s, dir) => {
      import s.implicits._
      val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"
      docs(s, dir).select($"lang",
          size(regexp_extract_all($"text", lit(pat), lit(0))).cast(LongType)
            .as("bpe"),
          size(split($"text", " ")).cast(LongType).as("words"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"bpe").as("n_bpe_tokens"),
          sum($"words").as("n_words"),
          (sum($"bpe").cast(DoubleType) / sum($"words").cast(DoubleType))
            .as("fertility"))
        .orderBy($"lang")
    },
    Some("""
      WITH f AS (
        SELECT lang,
               CAST(LEN(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS BIGINT) AS bpe,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS words
        FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
             CAST(SUM(words) AS BIGINT) AS n_words,
             CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(words) AS DOUBLE) AS fertility
      FROM f GROUP BY lang ORDER BY lang"""))

  /** Near-dup THRESHOLD CALIBRATION sweep — the report a curation team
    * reads before fixing the Jaccard cutoff: for each candidate
    * threshold, how many pairs fire and how many documents would be
    * removed (higher-id side of each pair, the keep-lowest convention).
    * One pass over the df-capped shingle-join pairs (the
    * [[ddNgramJaccard]] candidate shape — linear, never all-pairs), the
    * thresholds exploding from a 5-row literal array; comparisons
    * against literals are deterministic, so the whole sweep is
    * oracle-exact. */
  val ddThresholdSweep = GraftQuery(
    "dd_threshold_sweep",
    (s, dir) => {
      import s.implicits._
      val sh = shingleTable(s, dir)
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      // r13: smallest swept threshold is 0.1 => 11*min >= na+nb prune;
      // pairs below it contribute no row at ANY threshold
      val pairs = sharedShingleCounts(sh, keepFactor = Some(11L))
        .join(cnt.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(cnt.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn("jaccard",
          $"shared".cast(DoubleType) / ($"na" + $"nb" - $"shared").cast(DoubleType))
      pairs
        .select($"doc_a", $"doc_b", $"jaccard",
          explode(array(Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(lit): _*)).as("threshold"))
        .filter($"jaccard" >= $"threshold")
        .groupBy($"threshold")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"doc_b").as("n_docs_removed"))
        .orderBy($"threshold")
    },
    Some(s"""
      WITH allsh AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(tokens[i:i+4], ' ') AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens FROM documents),
             UNNEST(RANGE(1, LEN(tokens) - 3)) AS t(i)
        WHERE LEN(tokens) >= 5),
      sh AS (
        SELECT doc_id, shingle FROM allsh
        WHERE shingle IN (SELECT shingle FROM allsh
                          GROUP BY shingle HAVING COUNT(*) <= $maxShingleDf)),
      cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      j AS (
        SELECT doc_a, doc_b,
               CAST(shared AS DOUBLE)
                 / CAST(ca.n_shingles + cb.n_shingles - shared AS DOUBLE) AS jaccard
        FROM pairs
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b)
      SELECT threshold, COUNT(*) AS n_pairs,
             COUNT(DISTINCT doc_b) AS n_docs_removed
      FROM j, UNNEST(CAST([0.1, 0.3, 0.5, 0.7, 0.9] AS DOUBLE[])) AS t(threshold)
      WHERE jaccard >= threshold
      GROUP BY threshold
      ORDER BY threshold"""))

  /** Vocabulary-growth curve (Heaps' law check) — the corpus diagnostic
    * that tells a data team whether a crawl is still contributing new
    * vocabulary or has gone stale/duplicative: cumulative distinct-word
    * count against cumulative token count at ten corpus checkpoints.
    * Each word is attributed to the FIRST bucket it appears in (min over
    * a monotone bucket id — one word-keyed aggregate), so the whole
    * query is two linear aggregates plus a 10-row window; nothing
    * pairwise, no global sort of the corpus. The bucket id derives from
    * a broadcast MAX(doc_id) scalar (doc_id·10 div (max+1)), NOT an
    * NTILE over a global ORDER BY — the ntile formulation is a one-
    * reducer gather at 100 TB. Integer-only output. */
  val txHeapsLaw = GraftQuery(
    "tx_heaps_law",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val mx = docs(s, dir).agg(max($"doc_id").as("m"))
      val t = docs(s, dir).crossJoin(broadcast(mx))
        .select($"doc_id", expr("doc_id * 10 div (m + 1)").as("bucket"),
          expr("filter(split(text, ' '), x -> x != '')").as("w"))
      val tok = t.groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"), sum(size($"w").cast(LongType)).as("n_tokens"))
      val nw = t.select($"bucket", explode($"w").as("word"))
        .groupBy($"word").agg(min($"bucket").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("new_words"))
      val win = Window.orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tok.join(nw, Seq("bucket"), "left")
        .select($"bucket", $"n_docs",
          sum($"n_tokens").over(win).as("cum_tokens"),
          sum(coalesce($"new_words", lit(0L))).over(win).as("cum_vocab"))
        .orderBy($"bucket")
    },
    Some("""
      WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
      t AS (
        SELECT doc_id, doc_id * 10 // (m + 1) AS bucket,
               LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS w
        FROM documents, mx),
      tok AS (
        SELECT bucket, COUNT(*) AS n_docs,
               SUM(CAST(LEN(w) AS BIGINT)) AS n_tokens
        FROM t GROUP BY bucket),
      fo AS (
        SELECT word, MIN(bucket) AS bucket
        FROM (SELECT bucket, UNNEST(w) AS word FROM t)
        GROUP BY word),
      nw AS (SELECT bucket, COUNT(*) AS new_words FROM fo GROUP BY bucket)
      SELECT tok.bucket, CAST(tok.n_docs AS BIGINT) AS n_docs,
             CAST(SUM(tok.n_tokens) OVER (ORDER BY tok.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens,
             CAST(SUM(COALESCE(nw.new_words, 0)) OVER (ORDER BY tok.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_vocab
      FROM tok LEFT JOIN nw ON tok.bucket = nw.bucket
      ORDER BY tok.bucket"""))

  /** Collocation mining by LIFT — the association-strength complement of
    * [[txCorpusNgrams]] (which ranks raw frequency): adjacent word pairs
    * ranked by n(a,b)·N / (n(a)·n(b)), the PMI exponent, so pairs that
    * co-occur far above chance surface even when rare in absolute terms.
    * Exactness: all counts are integers; lift is ONE division of two
    * BIGINT products (a single IEEE op — deterministic on both engines);
    * min-support 5 and total ordering (lift DESC, pair) pin the top-20.
    * 100 TB shape: bigram and unigram counts are map-side-combinable
    * aggregates; the marginals attach by two vocab-keyed equi-joins
    * (never a broadcast of an unbounded vocabulary); top-20 is a
    * TakeOrdered. */
  val txCooccurLift = GraftQuery(
    "tx_cooccur_lift",
    (s, dir) => {
      import s.implicits._
      val t = docs(s, dir)
        .select(expr("filter(split(text, ' '), x -> x != '')").as("w"))
      val ug = t.select(explode($"w").as("word"))
        .groupBy($"word").agg(count(lit(1)).as("n"))
      val totals = ug.agg(sum($"n").as("total"))
      val bg = t.filter(size($"w") >= 2)
        .select(explode(expr(
          "transform(sequence(2, size(w)), i -> struct(element_at(w, i - 1) AS p, element_at(w, i) AS c))"))
          .as("pc"))
        .select($"pc.p".as("word_a"), $"pc.c".as("word_b"))
        .groupBy($"word_a", $"word_b").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 5L)
      bg.join(ug.select($"word".as("word_a"), $"n".as("n_a")), Seq("word_a"))
        .join(ug.select($"word".as("word_b"), $"n".as("n_b")), Seq("word_b"))
        .crossJoin(broadcast(totals))
        .select($"word_a", $"word_b", $"n_ab", $"n_a", $"n_b",
          (($"n_ab" * $"total").cast(DoubleType) /
            ($"n_a" * $"n_b").cast(DoubleType)).as("lift"))
        .orderBy($"lift".desc, $"word_a", $"word_b")
        .limit(20)
    },
    Some("""
      WITH t AS (
        SELECT LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS w
        FROM documents),
      ug AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT UNNEST(w) AS word FROM t) GROUP BY word),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM ug),
      bg AS (
        SELECT w[i] AS word_a, w[i + 1] AS word_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM t, UNNEST(RANGE(1, LEN(w))) AS u(i)
        WHERE LEN(w) >= 2
        GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      SELECT bg.word_a, bg.word_b, bg.n_ab, a.n AS n_a, b.n AS n_b,
             CAST(bg.n_ab * tot.total AS DOUBLE)
               / CAST(a.n * b.n AS DOUBLE) AS lift
      FROM bg JOIN ug a ON bg.word_a = a.word
              JOIN ug b ON bg.word_b = b.word, tot
      ORDER BY lift DESC, word_a, word_b
      LIMIT 20"""))

  val all: Seq[GraftQuery] = Seq(
    txHeapsLaw, txCooccurLift,
    txC4Filter, txQualityEnsemble, txFertility, ddThresholdSweep,
    txUrlDedup, txHtmlExtract, txCurationFunnel, ddBloomStats, ddSubstringDup,
    txNgramNovelty, ddContainment, txCmsTopk, txBpeTrain, ddDedupReport,
    txTokenCount, txQuality, txLangId, txFingerprint, txRepetition, txScrub,
    txContamination, txGopherFilter, txTfidfTerms, txStratifiedSample,
    txTrainSplit, txMixtureWeights, txCorpusReport, txPack,
    ddExact, ddNgramJaccard, ddMinhashSig, ddMinhashLshPairs, ddSimhash,
    ddSimhashPairs, ddDedupClusters, ddDedupKeep, ddDedupKeepBest, ddSubdocDedup, ddSimjoinAuto,
    txBpeTokens, txPackDocs, ddEditPairs, ddPassJoin, txDomainCap,
    txChunkOverlap, ddIncremental, ddLshStats, txWeightedSample, ddLshEval,
    txCorpusNgrams, ddCcIncremental, ddCdcChunks, ddBloomFilter,
    ddMinhashTopk)
}
