package graft

import org.apache.spark.sql.functions._

import graft.queries.TextQueries

/** Scale-behavior specs for the dedup family (VERDICT r1 items 2-3):
  * 64-bit simhash must keep the candidate-pair space near-linear, and the
  * ngram-jaccard shingle join must not explode on boilerplate-heavy
  * corpora thanks to the document-frequency cap.
  */
class TextDedupSpec extends SparkSpec {

  /** Write a synthetic documents table with the testdata schema. */
  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Candidate-pair upper bound exactly as the pairing query generates
    * them, via the SAME key SQL the query joins on (TextQueries
    * .simComboKeySqls evaluated through Spark). */
  private def comboCandidates(hashes: Seq[Long]): Long = {
    import spark.implicits._
    val keyed = hashes.toDF("simhash64")
      .select(posexplode(array(TextQueries.simComboKeySqls.map(expr): _*))
        .as(Seq("c", "key")))
      .groupBy($"c", $"key").count()
      .select(expr("count * (count - 1) div 2").as("pairs"))
      .agg(sum($"pairs")).collect()(0)
    if (keyed.isNullAt(0)) 0L else keyed.getLong(0)
  }

  test("simhash occupies the 64-bit space (no 16-bit saturation)") {
    val sims = TextQueries.ddSimhash.fn(spark, sfDir).collect()
    assert(sims.length === 500)
    val vals = sims.map(_.getAs[Long]("simhash64"))
    // a 16-bit fingerprint could never leave [0, 65536)
    assert(vals.exists(v => v < 0 || v > (1L << 32)),
      "fingerprints confined to a small space — simhash not 64-bit")
    // 64-bit space on 500 docs: accidental collisions essentially impossible
    assert(vals.distinct.length >= vals.length - 20)
  }

  test("simhash pigeonhole candidates stay near-linear; exact dup recovered") {
    val rnd = new scala.util.Random(7)
    def doc(): String =
      (0 until 80).map(_ => s"w${rnd.nextInt(10000)}").mkString(" ")
    val base = (1 to 500).map(i => (i.toLong, doc()))
    val corpus = base :+ (9001L, base.head._2) // exact duplicate of doc 1
    val dir = writeDocs(corpus)

    val hashes = TextQueries.ddSimhash.fn(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash64")))
    // candidate pairs exactly as the pairing query generates them: agree on
    // one of the 20 (triple index, packed 3-block value) keys; counted per
    // key = an upper bound on the deduplicated join size
    val n = hashes.length
    val cand = comboCandidates(hashes.map(_._2))
    // 16-bit simhash degenerated to ~n²/64 (≈3,900 here); ~32-bit combo
    // keys give ~20·C(n,2)/2³² ≈ 0 expected — assert the linear bound
    assert(cand < n, s"candidate blow-up: $cand pairs from $n docs")

    val pairs = TextQueries.ddSimhashPairs.fn(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("dist")))
    assert(pairs.exists { case (a, b, d) => a == 1L && b == 9001L && d == 0L },
      "exact duplicate not recovered by pigeonhole pairing")
    // random 80-word docs: no hash-noise "near-dups" at 64 bits
    assert(pairs.count { case (a, b, _) => !(a == 1L && b == 9001L) } === 0)
  }

  test("combo keys shrink adversarial bucket occupancy ≥2⁹× vs single-block keys") {
    // Adversarial corpus for the OLD 4×16-bit scheme: every hash shares the
    // same low 16 bits (think boilerplate header dominating those simhash
    // bit-votes) but is random above — block 0 used to put ALL docs in one
    // bucket, C(n,2) candidates. The k-of-m triple keys each include at
    // least one block above bit 22, so buckets stay near-empty.
    val rnd = new scala.util.Random(11)
    val n = 2000
    val hashes = (0 until n).map(_ => (rnd.nextLong() << 16) | 0xBEEFL)
    val oldCand = (0 until 4).map { k =>
      hashes.groupBy(h => (h >> (16 * k)) & 0xffffL)
        .values.map(v => v.size.toLong * (v.size - 1) / 2).sum
    }.sum
    val newCand = comboCandidates(hashes)
    assert(oldCand >= n.toLong * (n - 1) / 2, "corpus not adversarial for the old scheme")
    assert(newCand * 512 <= oldCand,
      s"combo keys shrank occupancy only ${oldCand.toDouble / newCand.max(1)}× " +
        s"($oldCand → $newCand candidates)")
  }

  test("dedup clusters are the exact transitive closure of the LSH pairs") {
    // Planted duplicate groups over a random background: a 3-member exact
    // group (guarantees a cluster of size ≥3) and a separate 2-member
    // group. Expected labels = union-find over the pairs the LSH query
    // itself emits on the same corpus, so the spec checks exactly the
    // closure step and nothing about LSH recall.
    val rnd = new scala.util.Random(23)
    def doc(): String =
      (0 until 80).map(_ => s"w${rnd.nextInt(10000)}").mkString(" ")
    val base = (1 to 60).map(i => (i.toLong, doc()))
    val corpus = base ++ Seq(
      (101L, base(0)._2), (102L, base(0)._2), // group {1, 101, 102}
      (201L, base(1)._2))                     // group {2, 201}
    val dir = writeDocs(corpus)

    val pairs = TextQueries.ddMinhashLshPairs.fn(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)

    // driver-side union-find = ground-truth components
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val expected = parent.keys.map(n => (n, find(n))).toSeq.sorted

    val got = TextQueries.ddDedupClusters.fn(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"))).toSeq.sorted
    assert(got === expected)
    // the planted 3-group must land in ONE cluster (transitivity observed)
    val byCluster = got.groupBy(_._2).values.map(_.map(_._1).toSet)
    assert(byCluster.exists(c => Set(1L, 101L, 102L).subsetOf(c)))
  }

  test("gopher gate: each rule fires on its planted document, clean doc keeps") {
    import spark.implicits._
    val good = (("the quick brown fox jumps over the lazy dog and then it ran " * 6)
      .trim.split(" ").zipWithIndex.map { case (w, i) => if (i % 13 == 0) w + i else w })
      .mkString(" ") // ~72 varied words, stopwords present, no dup lines
    val docs = Seq(
      (1L, good),
      (2L, "too short"), // word_count
      (3L, ("a b c " * 30).trim + " the of"), // mean_word_len < 3
      (4L, (1 to 60).map(i => s"### $i%%%").mkString(" ") + " the of is to"), // symbol_ratio
      (5L, (1 to 60).map(i => s"word$i").mkString(" ")), // no_stopwords
      (6L, (("these lines repeat exactly the same\n" * 30) +
        (1 to 40).map(i => s"extra$i the of").mkString("\n"))), // dup_lines
      (7L, ("spam " * 55).trim + " the of is to in varied words here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
    docs.createOrReplaceTempView("documents_gopher_test")
    // run the registered plan shape against the planted frame
    val out = graft.queries.TextQueries.gopherVerdicts(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(out(1L) === "keep", s"got $out")
    assert(out(2L) === "word_count")
    assert(out(3L) === "mean_word_len")
    assert(out(4L) === "symbol_ratio")
    assert(out(5L) === "no_stopwords")
    assert(out(6L) === "dup_lines")
    assert(out(7L) === "top_token")
  }

  test("the per-row MinHash signer equals the exploded definition") {
    val aggs = (0 until 8).map(h => s"MIN(MD5(CONCAT('$h|', shingle))) AS mh$h").mkString(", ")
    for (dir <- Seq(sfDir, sfDir.stripSuffix("sf0.001") + "sf0.01")) {
      val docs = graft.api.Tables.load(spark, dir, "documents")
      docs.createOrReplaceTempView("minhash_equiv_docs")
      // the signature as it was defined before the per-row signer: every
      // distinct 3-token shingle exploded to a row, then grouped by doc_id
      val exploded = spark.sql(s"""
        SELECT doc_id, $aggs
        FROM (SELECT DISTINCT doc_id, shingle
              FROM (SELECT doc_id, EXPLODE(TRANSFORM(SEQUENCE(1, SIZE(tokens) - 2),
                             i -> CONCAT_WS(' ', SLICE(tokens, i, 3)))) AS shingle
                    FROM (SELECT doc_id, SPLIT(text, ' ') AS tokens FROM minhash_equiv_docs)
                    WHERE SIZE(tokens) >= 3))
        GROUP BY doc_id""")
      val perRow = TextQueries.minhashSigned(docs)
      assert(perRow.count() === exploded.count(), dir)
      assert(perRow.exceptAll(exploded).isEmpty && exploded.exceptAll(perRow).isEmpty, dir)
    }
  }

  test("ngram jaccard df-cap: boilerplate creates no pairs, rare overlap still found") {
    val boiler = (0 until 30).map(j => s"b$j").mkString(" ")
    val docs =
      (1 to 100).map(i =>
        (i.toLong, boiler + " " + (0 until 5).map(j => s"u${i}_$j").mkString(" "))) ++
      Seq(
        (200L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (201L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val dir = writeDocs(docs)
    val res = TextQueries.ddNgramJaccard.fn(spark, dir).collect()
    val pairs = res.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // the two docs share 5 of 7 rare shingles → jaccard 5/7, found
    assert(pairs.contains((200L, 201L)))
    // the 100 boilerplate docs share only df=100 shingles (all capped out):
    // without the cap this would be C(100,2) = 4,950 candidate pairs
    assert(pairs.forall { case (a, _) => a >= 200L },
      s"boilerplate-only pairs leaked through the df cap: $pairs")
  }

  test("subdoc dedup flags exactly the docs sharing an aligned 20-token passage") {
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val uniqA = (1 to 20).map(i => s"aaa$i").mkString(" ")
    val uniqB = (1 to 20).map(i => s"bbb$i").mkString(" ")
    val uniqC = (1 to 25).map(i => s"ccc$i").mkString(" ")
    // the shared window sits at passage slot 1 in doc 0 and slot 2 in
    // doc 1 — alignment of the slot CONTENT is what matters, not position
    val dir = writeDocs(Seq(
      (0L, s"$shared $uniqA"),
      (1L, s"$uniqB $shared"),
      (2L, uniqC)))
    val rows = TextQueries.ddSubdocDedup.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_passages"), r.getAs[Long]("n_dup_passages")))).toMap
    assert(rows === Map(0L -> ((2L, 1L)), 1L -> ((2L, 1L)), 2L -> ((1L, 0L))))
  }

  test("SimJoinBandRewrite: banded plan returns exactly the brute-force pair set") {
    import spark.implicits._
    // signatures engineered so distances straddle the threshold, including
    // a pair differing in all four bands (never band-equal → must be out)
    val sigs = Seq(
      1L -> 0x0000000000000000L,
      2L -> 0x0000000000000007L, // dist 3 from #1 — in
      3L -> 0x000000000000000FL, // dist 4 from #1 — out; dist 1 from #2? (0x7^0xF=0x8) dist 1 — in
      4L -> 0x1111111111110000L, // far from all
      5L -> 0x1111111111110001L) // dist 1 from #4 — in
      .toDF("id", "sig")
    val got = sigs.as("a").join(sigs.as("b"),
      col("a.id") < col("b.id") &&
        expr("hamming_distance(a.sig, b.sig) <= 3"))
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, sa) <- raw; (ib, sb) <- raw
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(got === want)
    // multiset semantics: duplicated input rows multiply pairs, no dedup loss
    val dup = sigs.union(sigs.filter($"id" === 1L))
    val n = dup.as("a").join(dup.as("b"),
      col("a.id") < col("b.id") && expr("hamming_distance(a.sig, b.sig) <= 3"))
      .count()
    // pair (1,2) now appears twice (two copies of id 1), (1,3) absent (dist 4)
    val wantDup = want.size + 1
    assert(n === wantDup)
    // wider threshold (k=7 → 8 variable-width bands): still exact
    val got7 = sigs.as("a").join(sigs.as("b"),
      col("a.id") < col("b.id") &&
        expr("hamming_distance(a.sig, b.sig) <= 7"))
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want7 = (for {
      (ia, sa) <- raw; (ib, sb) <- raw
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (ia, ib)).toSet
    assert(got7 === want7)
    // k=0 edge: one full-width 64-bit band. The mask (1L<<64)-1 wraps to 0
    // in Scala, which would make both band values the CONSTANT 0 (a
    // single-reducer cross product); the band must instead be the
    // signature itself — a real equality join key.
    val eq = Seq(1L -> 42L, 2L -> 42L, 3L -> 43L, 4L -> 42L).toDF("id", "sig")
    val df0 = eq.as("a").join(eq.as("b"),
      col("a.id") < col("b.id") && expr("hamming_distance(a.sig, b.sig) <= 0"))
      .select(col("a.id"), col("b.id"))
    val opt = df0.queryExecution.optimizedPlan.toString
    assert(!opt.contains("array(0)"),
      s"k=0 band values folded to constant 0 — degenerate join keys:\n$opt")
    val got0 = df0.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got0 === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("boundary packing: next-fit keeps docs whole and respects the 512 capacity") {
    def doc(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    // lens 500, 10, 500, 600(capped to 512) → packs [500+10], [500], [512]
    val dir = writeDocs(Seq(
      (0L, doc(500)), (1L, doc(10)), (2L, doc(500)), (3L, doc(600))))
    val rows = TextQueries.txPackDocs.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("len"), r.getAs[Long]("pack_id"), r.getAs[Long]("used_after"))))
      .toMap
    assert(rows === Map(
      0L -> ((500L, 0L, 500L)),
      1L -> ((10L, 0L, 510L)),
      2L -> ((500L, 1L, 500L)),
      3L -> ((512L, 2L, 512L))))
  }
}
