package graft

import graft.multimodal.Media
import graft.queries.MultimodalQueries

/** Property specs for the round-11 operators. Oracle hash-matching is the
  * driver's gate; these pin operator INVARIANTS a hash can't express. */
class NewOperatorsR11Spec extends SparkSpec {

  test("audio fingerprint: bands are the PCM energy of the exact quarter spans") {
    import spark.implicits._
    // a WAV long enough that every band holds full + partial periods
    val dur = 403L
    val media = Seq(Media.MediaRecord(1L, "audio", Media.wavBytes(dur))).toDF(
      "doc_id", "media_type", "payload")
    val fp = Media.audioFingerprints(spark, media).collect()
    assert(fp.length === 1)
    // independent replay of the generation formula over each band span
    val expected = (0 until 4).map { k =>
      val from = dur * k / 4
      val to = dur * (k + 1) / 4
      (from until to).map { i =>
        val dev = (64 + (dur * 11 + i * 37) % 97) - 128
        dev * dev
      }.sum % 65536L
    }
    assert(Seq(fp(0).b0, fp(0).b1, fp(0).b2, fp(0).b3) === expected)
    assert(fp(0).fp === expected.map(b => f"$b%04x").mkString)
  }

  test("audio fingerprint: non-WAV and sub-4-sample payloads yield no row") {
    import spark.implicits._
    val media = Seq(
      Media.MediaRecord(1L, "audio", Media.mp3Bytes(100L)), // not WAV
      Media.MediaRecord(2L, "audio", Media.wavBytes(3L)), // < 4 samples
      Media.MediaRecord(3L, "audio", Media.wavBytes(4L))
    ).toDF("doc_id", "media_type", "payload")
    val fp = Media.audioFingerprints(spark, media).collect()
    assert(fp.map(_.doc_id).toSeq === Seq(3L))
  }

  test("video signature: bands are essence byte sums; a 2-bit-near pair survives the band join") {
    import spark.implicits._
    // two AVI essences differing in ONE byte: band sums 1625 vs 1626 in
    // band 3 (xor = 0x3, 2 bits) — a genuine near-dup the pigeonhole
    // band join must find; a third, far essence must not pair
    val e1 = "A" * 100
    val e2 = "A" * 99 + "B"
    val e3 = "z" * 100
    val media = Seq(
      (1L, e1), (2L, e2), (3L, e3)
    ).map { case (id, t) =>
      Media.MediaRecord(id, "video", Media.aviBytes(4, 4, 10, t.getBytes("UTF-8")))
    }.toDF("doc_id", "media_type", "payload")
    val fps = Media.videoSignatures(spark, media).collect().sortBy(_.doc_id)
    assert(fps.map(_.doc_id).toSeq === Seq(1L, 2L, 3L))
    assert(fps(0).b0 === 25L * 65 % 65536)
    assert(fps(1).b3 === (24L * 65 + 66) % 65536)
    // mm_video_neardup's band matcher on this tiny set
    val fpDf = fps.toSeq.toDF()
    val pairs = MultimodalQueries.bandMatch(fpDf, fpDf).filter($"doc_id" < $"doc_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L, 2L)))
  }

  test("pcap ingest admission: streaming capture directory equals the batch gate") {
    import graft.queries.PcapQueries
    import org.apache.spark.sql.functions._
    val fixPcap = PcapQueries.fixturePath
    val dir = java.nio.file.Files.createTempDirectory("pcapadm")
    val ck = java.nio.file.Files.createTempDirectory("pcapadmck").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("cap-001.pcap"))

    // static artifact fitted ONCE (the production posture): the Bloom
    // word map over the corpus lane of the known capture
    val bloomMap = graft.functions.BloomDedup.fitMapRow(
      graft.functions.BloomDedup.fit(
        PcapQueries.packetDocs(spark, fixPcap)
          .filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id"), md5(col("text")).as("h")))).cache()

    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = spark.readStream.format("pcap").load(dir.toString)
      .select(col("`frame.number`").as("doc_id"), col("`_ws.col.info`").as("text"))
      .filter(col("doc_id") % 10 === 7)
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = PcapQueries.packetAdmission(b, bloomMap, minTokens = 5L).collect()
        acc.synchronized { acc ++= res.map(_.toSeq) }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(acc.length === 48) // lane-7 frames of the 485-frame capture
      // a rotated second capture file lands -> next micro-batch runs the
      // SAME gate over its arriving frames
      java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("cap-002.pcap"))
      q.processAllAvailable()
    } finally q.stop()

    // batch twin: the registered query's gate over one capture, doubled
    // (both stream files are copies, and the Bloom bit_or is idempotent
    // under duplicate corpus rows)
    val batch = graft.queries.PcapQueries.pcapIngestAdmission
      .fn(spark, sfDir).collect().map(_.toSeq).toSeq
    def key(r: Seq[Any]) = r.head.asInstanceOf[Long]
    assert(acc.sortBy(key).toSeq === (batch ++ batch).sortBy(key))
  }

  /** Brute-force all-pairs Hamming <= 3 over `(doc_id, bands)`. */
  private def allPairs(fps: Seq[(Long, Seq[Long])]): Seq[(Long, Long, Long)] =
    (for {
      (i, a) <- fps; (j, b) <- fps if i < j
      d = a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= 3
    } yield (i, j, d.toLong)).sortBy(p => (p._1, p._2))

  for ((query, modality) <- Seq("mm_phash_neardup" -> "image",
      "mm_audio_fingerprint" -> "audio", "mm_video_neardup" -> "video"))
    test(s"$query: pigeonhole band join has no false negatives vs all-pairs") {
      import spark.implicits._
      // the fingerprints the query decodes, as (doc_id, b0..b3)
      val media = Media.synthesize(graft.api.Tables.load(spark, sfDir, "documents"))
      val fp = (modality match {
        case "image" => MultimodalQueries.phashBands(MultimodalQueries.mmPhash.fn(spark, sfDir))
        case "audio" => Media.audioFingerprints(spark, media).toDF()
        case "video" => Media.videoSignatures(spark, media).toDF()
      }).select("doc_id", "b0", "b1", "b2", "b3")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Long, Long, Long)].collect().toSeq
          .map { case (id, b0, b1, b2, b3) => (id, Seq(b0, b1, b2, b3)) }
      val fps = rows(fp)
      val truth = allPairs(fps)
      val got = SparkEntry.queries(query)(spark, sfDir).as[(Long, Long, Long)].collect().toSeq
      assert(got === truth)
      // sf0.001 has image and audio near-dup pairs; its video signatures
      // are all more than 3 bits apart
      if (modality != "video") assert(truth.nonEmpty)
      // the matcher over the corpus plus copies 1-3 bits away, one flipped
      // bit in each of the first 1-3 bands: every copy must pair
      val copies = fps.map { case (id, b) => (id + 1000000L, b.indices.map(k =>
        if (k <= id % 3) b(k) ^ (1L << ((id + 5 * k) % 16)) else b(k))) }
      val both = (fps ++ copies).map { case (id, b) => (id, b(0), b(1), b(2), b(3)) }
        .toDF("doc_id", "b0", "b1", "b2", "b3")
      val matched = MultimodalQueries.bandMatch(both, both).filter($"doc_id" < $"doc_b")
        .orderBy("doc_id", "doc_b").as[(Long, Long, Long)].collect().toSeq
      assert(matched === allPairs(fps ++ copies))
      assert(matched.size >= fps.size)
    }
}
