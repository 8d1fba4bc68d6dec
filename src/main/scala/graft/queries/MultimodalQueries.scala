package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{GraftQuery, Tables}
import graft.multimodal.Media

/** Multimodal binary-column pipeline surfaced as driver queries. The
  * payloads are REAL container bytes (PNG/JPEG/GIF/TIFF/WebP/WAV/MP3/
  * FLAC/Ogg/AVI/MP4 — see
  * [[graft.multimodal.Media]]) whose declared dimensions derive from the
  * document md5; Spark recovers them by PARSING the codec headers while
  * the DuckDB oracle replays the GENERATION formulas — a hash match
  * therefore proves the byte-level header decode end-to-end.
  *
  * Decode semantics: images → (width, height, 0), audio → (0, 0,
  * duration), video → (width, height, duration). Container overheads are
  * fixed per format (png 57 / jpeg 41 / gif 14 bytes + payload; wav 44 +
  * duration silence samples; avi 100 + payload), which the oracle
  * reproduces arithmetically for n_bytes. */
object MultimodalQueries {

  /** The media modalities, and the four 16-bit band columns every
    * modality's fingerprint has (see [[fingerprints]]). Defined first: the
    * oracle SQL of the queries below reads them while the object loads. */
  private val modalities = Seq("image", "audio", "video")
  private val bands = (0 until 4).map(k => s"b$k")

  /** Shared oracle CTE: per-document md5-derived generation parameters.
    * Container overheads: png 57 / jpeg+EXIF 77 / gif 14 / tiff 38 /
    * webp 38 + RIFF pad + payload; wav 44 + duration samples; mp3 121 +
    * duration digit count; flac 42 fixed; ogg 106 fixed; avi 100 /
    * mp4 244 + payload. */
  private val paramsCte = """
      params AS (
        SELECT doc_id, text,
               1 + (ASCII(SUBSTR(MD5(text), 1, 1)) * 256 + ASCII(SUBSTR(MD5(text), 2, 1))) % 512 AS gw,
               1 + (ASCII(SUBSTR(MD5(text), 3, 1)) * 256 + ASCII(SUBSTR(MD5(text), 4, 1))) % 512 AS gh,
               ASCII(SUBSTR(MD5(text), 5, 1)) * 256 + ASCII(SUBSTR(MD5(text), 6, 1)) AS gdur,
               1 + (ASCII(SUBSTR(MD5(text), 7, 1)) * 256 + ASCII(SUBSTR(MD5(text), 8, 1))) % 8 AS gorient
        FROM documents),
      meta AS (
        SELECT doc_id,
               (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
               CAST(CASE
                 WHEN doc_id % 3 = 0 THEN
                   (CASE CAST((doc_id // 3) % 5 AS INTEGER)
                      WHEN 0 THEN 57 WHEN 1 THEN 77 WHEN 2 THEN 14
                      WHEN 3 THEN 38
                      ELSE 38 + OCTET_LENGTH(ENCODE(text)) % 2 END)
                   + OCTET_LENGTH(ENCODE(text))
                 WHEN doc_id % 3 = 1 THEN
                   CASE CAST((doc_id // 3) % 4 AS INTEGER)
                     WHEN 0 THEN 44 + gdur
                     WHEN 1 THEN 121 + LENGTH(CAST(gdur AS VARCHAR))
                     WHEN 2 THEN 42
                     ELSE 106 END
                 ELSE
                   CASE WHEN (doc_id // 3) % 2 = 0 THEN 100 ELSE 244 END
                   + OCTET_LENGTH(ENCODE(text)) END AS BIGINT) AS n_bytes,
               CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE gw END AS BIGINT) AS width,
               CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE gh END AS BIGINT) AS height,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE gdur END AS BIGINT) AS duration_ms,
               gorient
        FROM params)"""

  val mmMediaMeta = GraftQuery(
    "mm_media_meta",
    (s, dir) => {
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      Media.extractMeta(s, media).toDF().orderBy("doc_id")
    },
    Some(s"""
      WITH $paramsCte
      SELECT doc_id, media_type, n_bytes, width, height, duration_ms
      FROM meta
      ORDER BY doc_id"""))

  /** Aggregate over decoded metadata: batch stats per media type. */
  val mmTypeStats = GraftQuery(
    "mm_type_stats",
    (s, dir) => {
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      Media.extractMeta(s, media).toDF()
        .groupBy("media_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          min(col("width")).as("min_width"),
          max(col("height")).as("max_height"))
        .orderBy("media_type")
    },
    Some(s"""
      WITH $paramsCte
      SELECT media_type, COUNT(*) AS n,
             CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
             MIN(width) AS min_width, MAX(height) AS max_height
      FROM meta
      GROUP BY media_type
      ORDER BY media_type"""))

  /** 1→N frame sampling over the video subset (lazy flatMap inside
    * mapPartitions — the shape a video→training-frames extractor runs at
    * scale). Duration and essence come from REAL AVI container parsing;
    * the frame fingerprint hashes the movi essence (= the document
    * bytes), which is what the oracle replays. */
  val mmFrameSample = GraftQuery(
    "mm_frame_sample",
    (s, dir) => {
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      Media.sampleFrames(s, media).toDF().orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH v AS (
        SELECT doc_id, text,
               ASCII(SUBSTR(MD5(text), 5, 1)) * 256 + ASCII(SUBSTR(MD5(text), 6, 1)) AS duration_ms
        FROM documents
        WHERE doc_id % 3 = 2),
      nf AS (SELECT *, 1 + duration_ms % 4 AS n_frames FROM v)
      SELECT doc_id, i AS frame_idx,
             CAST(i * (duration_ms // n_frames) AS BIGINT) AS ts_ms,
             MD5(text || ':' || CAST(i AS VARCHAR)) AS frame_md5
      FROM nf, UNNEST(RANGE(0, CAST(n_frames AS BIGINT))) AS t(i)
      ORDER BY doc_id, frame_idx"""))

  /** Container-format distribution: sniff the REAL magic of every payload
    * ([[graft.multimodal.Media.codecOf]]) and aggregate counts + bytes
    * per codec. The oracle reconstructs the synthesis rotation (png/jpeg/
    * gif/tiff/webp by doc_id/3 mod 5 on image rows, wav/mp3/flac/ogg on
    * audio, avi/mp4 on video) — a hash
    * match proves the sniffer classified every container byte-exactly. */
  val mmCodecStats = GraftQuery(
    "mm_codec_stats",
    (s, dir) => {
      import s.implicits._
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      media.as[(Long, String, Array[Byte])]
        .mapPartitions(_.map { case (id, _, payload) =>
          (id, Media.codecOf(payload), payload.length.toLong)
        })
        .toDF("doc_id", "codec", "n_bytes")
        .groupBy($"codec")
        .agg(count(lit(1)).as("n"), sum($"n_bytes").as("total_bytes"))
        .orderBy($"codec")
    },
    Some("""
      WITH params AS (
        SELECT doc_id,
               ASCII(SUBSTR(MD5(text), 5, 1)) * 256 + ASCII(SUBSTR(MD5(text), 6, 1)) AS gdur,
               OCTET_LENGTH(ENCODE(text)) AS len
        FROM documents),
      m AS (
        SELECT CASE
                 WHEN doc_id % 3 = 1 THEN
                   CASE CAST((doc_id // 3) % 4 AS INTEGER)
                     WHEN 0 THEN 'wav' WHEN 1 THEN 'mp3'
                     WHEN 2 THEN 'flac' ELSE 'ogg' END
                 WHEN doc_id % 3 = 2 THEN
                   CASE WHEN (doc_id // 3) % 2 = 0 THEN 'avi' ELSE 'mp4' END
                 ELSE (['png', 'jpeg', 'gif', 'tiff', 'webp'])[CAST((doc_id // 3) % 5 AS INTEGER) + 1]
               END AS codec,
               CASE
                 WHEN doc_id % 3 = 1 THEN
                   CASE CAST((doc_id // 3) % 4 AS INTEGER)
                     WHEN 0 THEN 44 + gdur
                     WHEN 1 THEN 121 + LENGTH(CAST(gdur AS VARCHAR))
                     WHEN 2 THEN 42
                     ELSE 106 END
                 WHEN doc_id % 3 = 2 THEN
                   (CASE WHEN (doc_id // 3) % 2 = 0 THEN 100 ELSE 244 END) + len
                 ELSE (CASE CAST((doc_id // 3) % 5 AS INTEGER)
                         WHEN 0 THEN 57 WHEN 1 THEN 77 WHEN 2 THEN 14
                         WHEN 3 THEN 38
                         ELSE 38 + len % 2 END) + len
               END AS n_bytes
        FROM params)
      SELECT codec, COUNT(*) AS n, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
      FROM m
      GROUP BY codec
      ORDER BY codec"""))

  /** EXIF orientation distribution over the image subset: Spark PARSES
    * the APP1 TIFF IFD ([[graft.multimodal.Media.exifOrientation]]) — II
    * and MM byte orders — while the oracle replays the generation formula
    * (jpeg rows carry 1-8, png/gif carry none → 0). */
  val mmOrientationStats = GraftQuery(
    "mm_orientation_stats",
    (s, dir) => {
      import s.implicits._
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      media.filter($"media_type" === "image")
        .as[(Long, String, Array[Byte])]
        .mapPartitions(_.map { case (id, _, payload) =>
          (id, Media.exifOrientation(payload))
        })
        .toDF("doc_id", "orientation")
        .groupBy($"orientation")
        .agg(count(lit(1)).as("n"))
        .orderBy($"orientation")
    },
    Some(s"""
      WITH $paramsCte
      SELECT CAST(CASE WHEN CAST((doc_id // 3) % 5 AS INTEGER) = 1
                       THEN gorient ELSE 0 END AS BIGINT) AS orientation,
             COUNT(*) AS n
      FROM meta
      WHERE doc_id % 3 = 0
      GROUP BY 1
      ORDER BY orientation"""))

  /** `(doc_id, codec, phash)` of every image whose essence a walker
    * recovers, in no particular order: [[mmPhash]] sorts it for output,
    * while the pHash artifact and [[mmPhashNeardup]] need no order (a
    * sort would add a range exchange and its bound-sampling job). */
  private def phashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Media.synthesize(Tables.load(s, dir, "documents"))
      .filter($"media_type" === "image")
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, _, payload) =>
        val h = Media.aHash64(Media.imageEssence(payload))
        if (h == null) None else Some((id, Media.codecOf(payload), h))
      })
      .toDF("doc_id", "codec", "phash")
  }

  /** Perceptual hashing over the image subset: Spark walks the REAL
    * container (PNG IDAT chunk iteration / JPEG marker-segment walk /
    * GIF descriptor+trailer bounds — [[Media.imageEssence]]) to recover
    * the codec data section, then computes the canonical 8×8 average
    * hash ([[Media.aHash64]]). The oracle replays the hash from the
    * generation bytes, so a match proves the byte-level essence
    * extraction AND the hash fold. Equal-phash grouping is then ordinary
    * exact dedup machinery (hash groupBy) — the near-dup variant is the
    * [[graft.functions.HammingDistance]] banded join the simhash family
    * already runs. TIFF/WebP rotation slots have no essence walker and
    * drop out (the documented boundary). */
  val mmPhash = GraftQuery(
    "mm_phash",
    (s, dir) => phashes(s, dir).orderBy(col("doc_id")),
    Some(s"""
      WITH ${fpCteSql("image")}
      SELECT doc_id,
             (['png', 'jpeg', 'gif'])[CAST((doc_id // 3) % 5 AS INTEGER) + 1] AS codec,
             printf('%04x%04x%04x%04x', b0, b1, b2, b3) AS phash
      FROM image_fp
      ORDER BY doc_id"""))

  /** Container integrity validation: every PNG chunk's CRC32 is
    * RECOMPUTED and compared to the stored value ([[Media.pngCrcOk]]);
    * even-id PNGs get one bit flipped inside IDAT first
    * ([[Media.corruptOneByte]]), so the oracle's id-parity truth table
    * only hash-matches if the CRC walk detects exactly the damaged
    * payloads — the ingest-time bit-rot gate, validated end-to-end. */
  val mmIntegrity = GraftQuery(
    "mm_integrity",
    (s, dir) => {
      import s.implicits._
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      media.as[(Long, String, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, _, payload) =>
          if (Media.codecOf(payload) != "png") None
          else {
            val p = if (id % 2 == 0) Media.corruptOneByte(payload) else payload
            Some((id, Media.pngCrcOk(p)))
          }
        })
        .toDF("doc_id", "crc_ok")
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id, (doc_id % 2 <> 0) AS crc_ok
      FROM documents
      WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0
      ORDER BY doc_id"""))

  /** Audio feature extraction over the REAL PCM essence: Spark walks each
    * WAV container to its data chunk and folds peak / RMS / midline
    * crossings over the actual sample bytes ([[Media.audioFeatures]]);
    * the oracle replays the generation waveform (64 + (dur·11 + i·37)
    * mod 97) over `range(dur)` — a hash match proves the byte-level
    * chunk walk AND the sample arithmetic. 100 TB shape: per-row
    * bounded work in one `mapPartitions` pass, no shuffle before the
    * final sort; integer sums + exactly-rounded sqrt keep it
    * bit-deterministic across engines and re-shards. */
  val mmAudioStats = GraftQuery(
    "mm_audio_stats",
    (s, dir) => {
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      Media.audioFeatures(s, media).toDF().orderBy("doc_id")
    },
    Some("""
      WITH params AS (
        SELECT doc_id,
               ASCII(SUBSTR(MD5(text), 5, 1)) * 256 + ASCII(SUBSTR(MD5(text), 6, 1)) AS gdur
        FROM documents
        WHERE doc_id % 3 = 1 AND (doc_id // 3) % 4 = 0),
      s AS (
        SELECT p.doc_id, p.gdur, g.i,
               64 + (p.gdur * 11 + g.i * 37) % 97 AS smp,
               64 + (p.gdur * 11 + (g.i - 1) * 37) % 97 AS prev
        FROM params p, LATERAL (SELECT UNNEST(range(0, p.gdur)) AS i) g)
      SELECT doc_id,
             COUNT(*) AS n_samples,
             CAST(MAX(ABS(smp - 128)) AS BIGINT) AS peak_dev,
             CAST(SUM(CASE WHEN i > 0 AND ((smp >= 128) <> (prev >= 128))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings,
             SQRT(CAST(SUM((smp - 128) * (smp - 128)) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) AS rms
      FROM s GROUP BY doc_id, gdur
      ORDER BY doc_id"""))

  /** Audio NEAR-duplicate pairs over the banded energy fingerprint —
    * the audio leg of the multimodal dedup ladder (VERDICT r10 #7),
    * mirroring mm_phash_neardup's exact-band argument: each WAV's PCM
    * stream splits into 4 equal time bands whose energies (sum of
    * squared midline deviations over the REAL sample bytes) reduce to
    * 16-bit keys ([[Media.audioFingerprints]]); fingerprints within
    * Hamming distance ≤ 3 are near-dup pairs, found by the 4×16-bit
    * pigeonhole band equi-join (≤ 3 flipped bits leave ≥ 1 band intact,
    * so the candidate join is EXACT, never all-pairs). The oracle
    * replays the generation waveform (64 + (dur·11 + i·37) mod 97) over
    * each band's exact sample range, so a hash match proves the RIFF
    * chunk walk, the band partition, the energy fold, the banding, and
    * the distance end-to-end. 100 TB shape: fingerprint once
    * (mapPartitions, no shuffle), band equi-join on 16-bit keys,
    * distance only on candidates — label-once artifacts, linear scan. */
  val mmAudioFingerprint = GraftQuery(
    "mm_audio_fingerprint",
    (s, dir) => {
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      neardupPairs(Media.audioFingerprints(s, media).toDF().cache())
    },
    Some(neardupPairsSql("audio")))

  /** PIXEL-level decode: every document becomes a fully decodable
    * grayscale PNG (deflate-compressed scanlines, all five PNG row
    * filters in rotation — [[Media.pngPixelBytes]]); Spark INFLATES the
    * IDAT, UN-filters every row, and average-pools the recovered pixels
    * into a 4×4 thumbnail (the resize/feature-extract step of an image
    * training pipeline). The oracle replays the generator's pixel
    * formula `(seed + 31x + 7y) mod 256` arithmetically over the exact
    * block partition — so a hash match proves zlib + filter
    * reconstruction byte-for-byte, not just header parsing. Scale shape:
    * one mapPartitions pass, constant memory, no shuffle. */
  val mmThumbnail = GraftQuery(
    "mm_thumbnail",
    (s, dir) => {
      val media = Media.synthesizePixels(Tables.load(s, dir, "documents"))
      Media.thumbnails(s, media).toDF().orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               8 + (ASCII(SUBSTR(MD5(text), 1, 1)) * 256 + ASCII(SUBSTR(MD5(text), 2, 1))) % 25 AS pw,
               8 + (ASCII(SUBSTR(MD5(text), 3, 1)) * 256 + ASCII(SUBSTR(MD5(text), 4, 1))) % 25 AS ph,
               (ASCII(SUBSTR(MD5(text), 5, 1)) * 256 + ASCII(SUBSTR(MD5(text), 6, 1))) % 256 AS pseed
        FROM documents),
      blk AS (
        SELECT doc_id, pw, ph, pseed, by, bx
        FROM p, UNNEST(RANGE(0, 4)) t1(by), UNNEST(RANGE(0, 4)) t2(bx)),
      cell AS (
        SELECT doc_id, pw, ph, by, bx,
               CAST(SUM((pseed + 31 * x + 7 * y) % 256) AS BIGINT) // COUNT(*) AS avgv
        FROM blk,
             UNNEST(GENERATE_SERIES(bx * pw // 4, (bx + 1) * pw // 4 - 1)) xs(x),
             UNNEST(GENERATE_SERIES(by * ph // 4, (by + 1) * ph // 4 - 1)) ys(y)
        GROUP BY 1, 2, 3, 4, 5),
      t AS (
        SELECT doc_id, pw, ph,
               STRING_AGG(printf('%02x', avgv), '' ORDER BY by, bx) AS thumb
        FROM cell GROUP BY 1, 2, 3)
      SELECT doc_id, CAST(pw AS BIGINT) AS width, CAST(ph AS BIGINT) AS height,
             thumb
      FROM t
      ORDER BY doc_id"""))

  /** Image NEAR-duplicate pairs over the perceptual hash — the multimodal
    * capstone that composes [[mmPhash]]'s real container decode with the
    * text tier's banded near-dup machinery: pHashes within Hamming
    * distance ≤ 3 are near-dup pairs, found by the shared band matcher
    * ([[bandMatch]]) over the hash's four 16-bit blocks, as the audio and
    * video ladders do. The oracle replays the pHash from the generation
    * bytes (the mm_phash contract), so a match proves container decode +
    * hash fold + banding + distance end-to-end. 100 TB shape: decode once
    * (mapPartitions batch), band equi-join on 16-bit keys, distance only
    * on candidates. */
  val mmPhashNeardup = GraftQuery(
    "mm_phash_neardup",
    (s, dir) => neardupPairs(phashBands(phashes(s, dir)).cache()),
    Some(neardupPairsSql("image")))

  /** pHash top-k SERVING (tier: multimodal×ANN crossover): for the three
    * lowest-id query images, the five nearest neighbors by Hamming
    * distance over the full pHash table — "find visually similar images"
    * as one plan, through the shared probe ([[hammingTopK]]). 100 TB
    * shape: identical to the brute-force ANN arm — one corpus scan per
    * query batch, integer math, queries×k rows out; the banded-join
    * variant (mm_phash_neardup) is the scale path when the query set is
    * the corpus itself. */
  val mmPhashTopk = GraftQuery(
    "mm_phash_topk",
    (s, dir) => servingTopK(s, dir, "image", lane = None, k = 5),
    Some(topkSql("image", lane = None, k = 5)))

  /** PERSISTED media fingerprint artifacts (r12 optimization round): the
    * pHash table, audio fingerprint bands, video essence signature, and
    * decoded media dimensions, each written ONCE per (session, dir)
    * behind the shared write-once guard: decode/fingerprint once in a
    * batch job, serve every probe / admission / funnel pass from the
    * catalog table. The FIT queries (mm_media_meta, mm_phash,
    * mm_audio_fingerprint, mm_video_neardup) still measure the real
    * container decode; only downstream serving consumers read tables.
    * Values are bit-identical: the fingerprints are integers/hex strings
    * and parquet round-trips them exactly. */
  private def mediaTable(s: SparkSession, dir: String, kind: String)(
      frame: => DataFrame): DataFrame = {
    val name = graft.Artifacts.table(s, kind, dir) { base =>
      // parallel file layout at write time: the decode runs over the
      // documents scan's single input split, so an un-repartitioned save
      // would leave every downstream probe single-split (guide §6 —
      // output sizing determines reader parallelism)
      frame.repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").saveAsTable(base)
    }
    s.table(name)
  }

  private[queries] def phashTable(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir, "phash")(
      phashes(s, dir).select(col("doc_id"), col("phash")))

  private[queries] def afpTable(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir, "afp")(
      Media.audioFingerprints(s, Media.synthesize(Tables.load(s, dir, "documents")))
        .toDF().select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3")))

  private[queries] def vsigTable(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir, "vsig")(
      Media.videoSignatures(s, Media.synthesize(Tables.load(s, dir, "documents"))).toDF())

  private[queries] def dimsTable(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir, "mediameta")(
      Media.extractMeta(s, Media.synthesize(Tables.load(s, dir, "documents"))).toDF())

  /** Build the persisted media artifacts eagerly (the Bench prep step). */
  private[graft] def prepare(s: SparkSession, dir: String): Unit = {
    phashTable(s, dir); afpTable(s, dir); vsigTable(s, dir); dimsTable(s, dir)
    ()
  }

  // ---- the media fingerprint kernel ----------------------------------
  // Every modality's fingerprint has one shape, (doc_id, b0, b1, b2, b3):
  // four 16-bit band keys. Near-dup pairs, admission and the funnel run
  // through one band matcher; every top-k lane through one probe.

  /** The persisted fingerprint `(doc_id, b0..b3)` of one modality:
    * "image" (the pHash's 16-bit blocks), "audio" (PCM energy bands) or
    * "video" (essence byte-sum bands). */
  def fingerprints(s: SparkSession, dir: String, modality: String): DataFrame =
    modality match {
      case "image" => phashBands(phashTable(s, dir))
      case "audio" => afpTable(s, dir)
      case "video" => vsigTable(s, dir)
    }

  /** A `(doc_id, phash)` frame's fingerprint: the 16-hex-digit pHash's
    * four 4-digit blocks as 16-bit band keys. */
  def phashBands(ph: DataFrame): DataFrame =
    ph.select(col("doc_id") +: (0 until 4).map(k => expr(
      s"CAST(conv(substring(phash, ${1 + 4 * k}, 4), 16, 10) AS BIGINT)").as(bands(k))): _*)

  /** `(doc_id, h1, h2)`: a fingerprint's bands packed into two 32-bit
    * halves (h1 = b0·2¹⁶ + b1, h2 = b2·2¹⁶ + b3), the form the top-k
    * probe scores with two codegen hamming_distance calls. */
  def halves(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), (col("b0") * 65536L + col("b1")).as("h1"),
      (col("b2") * 65536L + col("b3")).as("h2"))

  /** Near-duplicate matches between fingerprint frames `a` and `b` (each
    * `(doc_id, b0..b3)` plus the extra equi-join `keys`): rows `(doc_id,
    * doc_b, dist)` at Hamming distance ≤ 3. Three flipped bits leave at
    * least one of the four 16-bit bands intact, so the (blk, key)
    * equi-join over the exploded bands finds every match (pigeonhole) and
    * is never all-pairs; the distance runs only on distinct candidates. */
  def bandMatch(a: DataFrame, b: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    def exploded(fp: DataFrame, id: String, p: String) = fp.select(
      (keys.map(col) :+ col("doc_id").as(id)) ++ bands.indices.map(k =>
        col(bands(k)).as(s"$p$k")) :+
        posexplode(array(bands.map(col): _*)).as(Seq("blk", "key")): _*)
    val ab = (0 until 4).map(k => s"a$k") ++ (0 until 4).map(k => s"c$k")
    val dist = (0 until 4).map(k => s"bit_count(a$k ^ c$k)").mkString(" + ")
    exploded(a, "doc_id", "a").join(exploded(b, "doc_b", "c"), keys ++ Seq("blk", "key"))
      .select("doc_id", "doc_b" +: ab: _*).distinct()
      .withColumn("dist", expr(s"CAST($dist AS BIGINT)"))
      .filter(col("dist") <= 3L)
      .select("doc_id", "doc_b", "dist")
  }

  /** Near-duplicate pairs `(doc_a, doc_b, dist)`, doc_a < doc_b, within one
    * fingerprint frame. */
  private def neardupPairs(fp: DataFrame): DataFrame =
    bandMatch(fp, fp).filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")

  /** Stream-static top-k probe: arriving `(query_id, q1, q2)` rows score
    * the static corpus halves `(doc_id, h1, h2)` and keep each query's
    * topK by Hamming distance (ties by candidate id): broadcast arriving
    * rows, two codegen hamming_distance calls per pair, per-query
    * WindowGroupLimit. Stateless per batch, so the identical plan serves
    * under Structured Streaming foreachBatch (StreamingSpec pins
    * streaming == batch across a batch split). */
  def hammingTopK(s: SparkSession, corpus: DataFrame, arriving: DataFrame,
      topK: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"query_id").orderBy($"dist", $"cand_id")
    corpus.join(broadcast(arriving), $"doc_id" =!= $"query_id")
      .select($"query_id", $"doc_id".as("cand_id"),
        expr("hamming_distance(q1, h1) + hamming_distance(q2, h2)").as("dist"))
      .withColumn("mm_rank", row_number().over(w).cast("long"))
      .filter($"mm_rank" <= topK)
      .select($"query_id", $"mm_rank", $"cand_id", $"dist")
      .orderBy($"query_id", $"mm_rank")
  }

  /** One modality's top-k serving lane over its persisted fingerprint
    * (cached: corpus and queries both read it). `lane = None`: the three
    * lowest ids query the whole corpus; `Some(r)`: the ids ending in r
    * arrive as queries against the rest. */
  private[queries] def servingTopK(s: SparkSession, dir: String, modality: String,
      lane: Option[Int], k: Int): DataFrame = {
    val hv = halves(fingerprints(s, dir, modality)).cache()
    val (corpus, arriving) = lane match {
      case None => (hv, hv.orderBy("doc_id").limit(3))
      case Some(r) => (hv.filter(col("doc_id") % 10 =!= r), hv.filter(col("doc_id") % 10 === r))
    }
    hammingTopK(s, corpus, arriving.select(col("doc_id").as("query_id"),
      col("h1").as("q1"), col("h2").as("q2")), k)
  }

  /** The DuckDB twin of [[fingerprints]]: a CTE chain ending in
    * `<modality>_fp(doc_id, b0..b3)`, replayed from the generation
    * contract. Image: the 8×8 average hash over the first 64 essence
    * bytes (MSB-first against the floor-mean), 16 bits per band. Audio:
    * the waveform 64 + (d·11 + i·37) mod 97 over each quarter's samples,
    * squared midline deviations summed mod 2¹⁶. Video: the essence (the
    * ASCII text) byte sums per quarter mod 2¹⁶. */
  private[queries] def fpCteSql(modality: String): String = {
    def pivot(src: String) = s"""
        SELECT doc_id, ${bands.indices.map(k =>
          s"MAX(CASE WHEN k = $k THEN b END) AS b$k").mkString(", ")}
        FROM $src GROUP BY doc_id"""
    modality match {
      case "image" => s"""
      img AS (
        SELECT doc_id, text
        FROM documents
        WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 IN (0, 1, 2)
          AND OCTET_LENGTH(ENCODE(text)) >= 64),
      codes AS (
        SELECT doc_id,
               list_transform(range(1, 65),
                              i -> ascii(substr(text, CAST(i AS INTEGER), 1))) AS c
        FROM img),
      m AS (SELECT doc_id, c, list_sum(c) // 64 AS mean FROM codes),
      image_fp AS (
        SELECT doc_id, ${(0 until 4).map(k => (0 until 16).map(i =>
          s"CASE WHEN c[${16 * k + i + 1}] > mean THEN ${1 << (15 - i)} ELSE 0 END")
          .mkString("CAST(", " + ", s" AS BIGINT) AS b$k")).mkString(",\n               ")}
        FROM m)"""
      case "audio" => s"""
      aud AS (
        SELECT doc_id,
               ASCII(SUBSTR(MD5(text), 5, 1)) * 256 + ASCII(SUBSTR(MD5(text), 6, 1)) AS d
        FROM documents
        WHERE doc_id % 3 = 1 AND (doc_id // 3) % 4 = 0),
      audband AS (
        SELECT f.doc_id, t.k,
               CAST(SUM( ((64 + (f.d * 11 + g.i * 37) % 97) - 128)
                       * ((64 + (f.d * 11 + g.i * 37) % 97) - 128) )
                    % 65536 AS BIGINT) AS b
        FROM aud f, UNNEST(RANGE(0, 4)) t(k),
             LATERAL (SELECT UNNEST(GENERATE_SERIES(
               t.k * f.d // 4, (t.k + 1) * f.d // 4 - 1)) AS i) g
        WHERE f.d >= 4
        GROUP BY 1, 2),
      audio_fp AS (${pivot("audband")})"""
      case "video" => s"""
      vid AS (
        SELECT doc_id, text, LENGTH(text) AS n
        FROM documents
        WHERE doc_id % 3 = 2 AND LENGTH(text) >= 4),
      vidband AS (
        SELECT v.doc_id, t.k,
               CAST(SUM(ASCII(SUBSTR(v.text, CAST(g.i AS INTEGER), 1)))
                    % 65536 AS BIGINT) AS b
        FROM vid v, UNNEST(RANGE(0, 4)) t(k),
             LATERAL (SELECT UNNEST(GENERATE_SERIES(
               t.k * v.n // 4 + 1, (t.k + 1) * v.n // 4)) AS i) g
        GROUP BY 1, 2),
      video_fp AS (${pivot("vidband")})"""
    }
  }

  /** The DuckDB twin of [[bandMatch]]: `(doc_id, doc_b, dist)` over
    * fingerprint relations `a` and `b` joined on `on` and any equal band,
    * at Hamming distance ≤ 3. */
  private[queries] def bandPairsSql(a: String, b: String, on: String): String = {
    val dist = bands.map(c => s"BIT_COUNT(XOR(a.$c, b.$c))").mkString(" + ")
    s"""
        SELECT a.doc_id, b.doc_id AS doc_b, CAST($dist AS BIGINT) AS dist
        FROM $a a JOIN $b b
          ON $on AND (${bands.map(c => s"a.$c = b.$c").mkString(" OR ")})
        WHERE $dist <= 3"""
  }

  /** The DuckDB twin of [[neardupPairs]] over one modality's fingerprint. */
  private def neardupPairsSql(modality: String): String = s"""
      WITH ${fpCteSql(modality)}
      SELECT doc_id AS doc_a, doc_b, dist FROM (${
        bandPairsSql(s"${modality}_fp", s"${modality}_fp", "a.doc_id < b.doc_id")})
      ORDER BY doc_a, doc_b"""

  /** The DuckDB twin of [[servingTopK]]. */
  private[queries] def topkSql(modality: String, lane: Option[Int], k: Int): String = {
    val (corpus, queries) = lane match {
      case None => ("TRUE", "ORDER BY doc_id LIMIT 3")
      case Some(r) => (s"doc_id % 10 <> $r", s"WHERE doc_id % 10 = $r")
    }
    s"""
      WITH ${fpCteSql(modality)},
      hv AS (SELECT doc_id, b0 * 65536 + b1 AS h1, b2 * 65536 + b3 AS h2
             FROM ${modality}_fp),
      corpus AS (SELECT * FROM hv WHERE $corpus),
      q AS (SELECT doc_id AS query_id, h1 AS q1, h2 AS q2 FROM hv $queries),
      scored AS (
        SELECT q.query_id, c.doc_id AS cand_id,
               CAST(BIT_COUNT(XOR(q.q1, c.h1)) + BIT_COUNT(XOR(q.q2, c.h2))
                 AS BIGINT) AS dist
        FROM corpus c CROSS JOIN q WHERE c.doc_id <> q.query_id),
      r AS (
        SELECT query_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY dist, cand_id) AS BIGINT) AS mm_rank,
               cand_id, dist
        FROM scored)
      SELECT query_id, mm_rank, cand_id, dist FROM r
      WHERE mm_rank <= $k
      ORDER BY query_id, mm_rank"""
  }

  /** The IMAGE ingest-admission gate — the multimodal mirror of
    * st_ingest_admission, in ONE declarative plan: an arriving image
    * (doc_id ending in 0, the st_phash_serve lane) is admitted only when
    * it passes the resolution-quality gate (width×height ≥ 16384, the
    * mm_resolution_filter rule) AND has NO corpus pHash within Hamming
    * distance ≤ 3 (the shared band matcher — never all-pairs). Both
    * verdicts fuse in one plan: real container decode for the
    * dimensions, a broadcast left-join for the duplicate counts. The
    * oracle replays dimensions AND pHash from the generation bytes.
    * 100 TB shape: per-arrival work = its band buckets' occupancy. */
  val stImageAdmission = GraftQuery(
    "st_image_admission",
    (s, dir) => {
      import s.implicits._
      // serving/admission path: probe the PERSISTED artifacts, never
      // re-decode per batch; the arriving set is the pHash-able lane
      // (decodable container slots), joined to its decoded dimensions
      val dims = dimsTable(s, dir)
        .filter($"media_type" === "image")
        .select($"doc_id", $"width", $"height")
      val fp = fingerprints(s, dir, "image")
      imageAdmission(s, dims, fp.filter($"doc_id" % 10 =!= 0), fp.filter($"doc_id" % 10 === 0))
    },
    Some(s"""
      WITH $paramsCte, ${fpCteSql("image")},
      corpus AS (SELECT * FROM image_fp WHERE doc_id % 10 <> 0),
      arr AS (SELECT * FROM image_fp WHERE doc_id % 10 = 0),
      hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM (${bandPairsSql("arr", "corpus", "TRUE")}) GROUP BY doc_id)
      SELECT a.doc_id, mt.width, mt.height,
             COALESCE(h.n_dups, 0) AS n_dups,
             (mt.width * mt.height >= 16384
              AND COALESCE(h.n_dups, 0) = 0) AS admitted
      FROM arr a
      JOIN meta mt USING (doc_id)
      LEFT JOIN hits h USING (doc_id)
      ORDER BY doc_id"""))

  /** The image-admission transform: ARRIVING fingerprints against the
    * static corpus fingerprints and dims artifacts — input-agnostic (no
    * stateful operator), so the identical transform runs per micro-batch
    * under foreachBatch (StreamingSpec). */
  def imageAdmission(s: SparkSession, dims: DataFrame, corpus: DataFrame,
      arriving: DataFrame): DataFrame = {
    import s.implicits._
    val hits = bandMatch(arriving, corpus)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dups"))
    arriving.select($"doc_id")
      .join(dims, Seq("doc_id"))
      .join(broadcast(hits), Seq("doc_id"), "left_outer")
      .select($"doc_id", $"width", $"height",
        coalesce($"n_dups", lit(0L)).as("n_dups"))
      .withColumn("admitted",
        $"width" * $"height" >= 16384L && $"n_dups" === 0L)
      .orderBy($"doc_id")
  }

  /** Audio fingerprint top-k SERVING — the audio twin of mm_phash_topk,
    * completing the audio ladder (fingerprint → near-dup pairs → top-k
    * serving → streaming twin): for the three lowest-id audio documents,
    * the five nearest corpus fingerprints by Hamming distance. 100 TB
    * shape: label-once/serve-many over the persisted fingerprint
    * artifact, one corpus scan per query batch, queries×k rows out. */
  val mmAfpTopk = GraftQuery(
    "mm_afp_topk",
    (s, dir) => servingTopK(s, dir, "audio", lane = None, k = 5),
    Some(topkSql("audio", lane = None, k = 5)))

  /** Video NEAR-duplicate pairs over the banded essence signature — the
    * video leg of the multimodal dedup ladder, completing the modality
    * matrix (image pHash, audio energy fingerprint, video essence
    * signature — all through the same band matcher). Oracle replays the
    * essence bytes from the generation contract (AVI movi / MP4 mdat
    * carry the document bytes). 100 TB shape: signature once
    * (mapPartitions, no shuffle), band equi-join on 16-bit keys,
    * distance only on candidates. */
  val mmVideoNeardup = GraftQuery(
    "mm_video_neardup",
    (s, dir) => {
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      neardupPairs(Media.videoSignatures(s, media).toDF().cache())
    },
    Some(neardupPairsSql("video")))

  /** Video signature top-k SERVING — the video twin of mm_phash_topk /
    * mm_afp_topk: for the three lowest-id videos, the five nearest
    * corpus signatures by Hamming distance. */
  val mmVsigTopk = GraftQuery(
    "mm_vsig_topk",
    (s, dir) => servingTopK(s, dir, "video", lane = None, k = 5),
    Some(topkSql("video", lane = None, k = 5)))

  /** Shot-boundary (scene-cut) statistics per video: consecutive sampled
    * frames are compared by the Hamming distance of their 60-bit frame
    * signatures (md5-derived, the same signature a perceptual hash would
    * supply on real decoders); a transition with distance ≥ 16 is a cut.
    * This is the standard "keyframe selection / shot segmentation"
    * pre-pass of video curation pipelines, expressed as one lag window
    * per video partition + one per-video aggregate — per-doc linear,
    * no cross-video dependency, scales as a plain keyed window. */
  val mmSceneCut = GraftQuery(
    "mm_scene_cut",
    (s, dir) => {
      import s.implicits._
      val frames = Media.sampleFrames(s,
        Media.synthesize(Tables.load(s, dir, "documents"))).toDF()
      val sig = frames.select($"doc_id", $"frame_idx",
        expr("cast(conv(substring(frame_md5, 1, 15), 16, 10) as bigint)").as("sig"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"frame_idx")
      sig.withColumn("prev", lag($"sig", 1).over(w))
        .withColumn("hamming",
          expr("bit_count(sig ^ prev)").cast(org.apache.spark.sql.types.LongType))
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_frames"),
          sum(when($"hamming" >= 16, 1L).otherwise(0L)).as("n_cuts"),
          (sum($"hamming").cast(org.apache.spark.sql.types.DoubleType) /
            count($"hamming").cast(org.apache.spark.sql.types.DoubleType))
            .as("mean_hamming"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH v AS (
        SELECT doc_id, text,
               ASCII(SUBSTR(MD5(text), 5, 1)) * 256 + ASCII(SUBSTR(MD5(text), 6, 1)) AS duration_ms
        FROM documents
        WHERE doc_id % 3 = 2),
      nf AS (SELECT *, 1 + duration_ms % 4 AS n_frames FROM v),
      f AS (
        SELECT doc_id, i AS frame_idx,
               MD5(text || ':' || CAST(i AS VARCHAR)) AS frame_md5
        FROM nf, UNNEST(RANGE(0, CAST(n_frames AS BIGINT))) AS t(i)),
      sig AS (
        SELECT doc_id, frame_idx,
               CAST(('0x' || SUBSTR(frame_md5, 1, 15)) AS BIGINT) AS sig
        FROM f),
      d AS (
        SELECT doc_id, sig,
               LAG(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        FROM sig),
      h AS (
        SELECT doc_id,
               CASE WHEN prev IS NULL THEN NULL
                    ELSE BIT_COUNT(XOR(sig, prev)) END AS hamming
        FROM d)
      SELECT doc_id, COUNT(*) AS n_frames,
             CAST(SUM(CASE WHEN hamming >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
             CAST(SUM(hamming) AS DOUBLE) / CAST(COUNT(hamming) AS DOUBLE)
               AS mean_hamming
      FROM h GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Image-curation resolution gate — the min-resolution / aspect-ratio
    * filter every vision-training pipeline runs before captioning or
    * embedding (e.g. LAION's w,h ≥ 256 rule): per image (decoded width ×
    * height from the REAL container headers), the megapixel-bucket, the
    * keep verdict at 64k pixels, and an extreme-aspect-ratio flag
    * (>4:1 either way — banners/strips that crop badly). Integer
    * arithmetic only. 100 TB shape: a mapPartitions header decode (bytes
    * never shuffle) + a narrow projection; the verdict joins downstream
    * curation like dd_dedup_keep does for text. */
  val mmResolutionFilter = GraftQuery(
    "mm_resolution_filter",
    (s, dir) => {
      import s.implicits._
      val media = Media.synthesize(Tables.load(s, dir, "documents"))
      Media.extractMeta(s, media).toDF()
        .filter($"media_type" === "image")
        .select($"doc_id", $"width", $"height",
          ($"width" * $"height").as("n_pixels"),
          expr("(width * height) div 65536").as("px_bucket"),
          ($"width" * $"height" >= 65536L).as("keep_res"),
          ($"width" > $"height" * 4 || $"height" > $"width" * 4)
            .as("extreme_aspect"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH $paramsCte
      SELECT doc_id, width, height,
             width * height AS n_pixels,
             CAST(width * height AS BIGINT) // 65536 AS px_bucket,
             width * height >= 65536 AS keep_res,
             (width > height * 4 OR height > width * 4) AS extreme_aspect
      FROM meta
      WHERE media_type = 'image'
      ORDER BY doc_id"""))

  /** Exposure/contrast gate over REAL decoded pixels — the LAION-style
    * "too dark / blown out" image filter: each image's pixels (recovered
    * by the full PNG decode — zlib inflate + all five row un-filters,
    * [[Media.decodeGray]]) are histogrammed into 16 luma bands, the
    * dominant band picked (tie → lowest band, mirroring the oracle's
    * `ORDER BY n DESC, band`), and the corpus-level distribution of
    * dominant bands reported. A pipeline reads this to set its exposure
    * keep-range before committing to a full filter pass. The oracle
    * replays the generator's pixel formula `(seed + 31x + 7y) mod 256`
    * arithmetically over the w×h grid — a hash match proves the
    * pixel-level decode, not just the header walk. 100 TB shape: one
    * mapPartitions decode pass (constant memory), one 16-row aggregate. */
  val mmLumaBands = GraftQuery(
    "mm_luma_bands",
    (s, dir) => {
      import s.implicits._
      val media = Media.synthesizePixels(Tables.load(s, dir, "documents"))
      media.as[(Long, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          Option(Media.decodeGray(payload)).map { img =>
            val hist = new Array[Long](16)
            img.px.foreach(p => hist(p / 16) += 1)
            var best = 0
            var i = 1
            while (i < 16) { if (hist(i) > hist(best)) best = i; i += 1 }
            (id, best.toLong, img.w.toLong * img.h)
          }
        }
      }.toDF("doc_id", "dominant_band", "n_px")
        .groupBy($"dominant_band")
        .agg(count(lit(1)).as("n_images"), sum($"n_px").as("total_px"))
        .orderBy($"dominant_band")
    },
    Some("""
      WITH imgs AS (
        SELECT doc_id,
               8 + (ASCII(SUBSTR(MD5(text), 1, 1)) * 256
                    + ASCII(SUBSTR(MD5(text), 2, 1))) % 25 AS w,
               8 + (ASCII(SUBSTR(MD5(text), 3, 1)) * 256
                    + ASCII(SUBSTR(MD5(text), 4, 1))) % 25 AS h,
               (ASCII(SUBSTR(MD5(text), 5, 1)) * 256
                    + ASCII(SUBSTR(MD5(text), 6, 1))) % 256 AS seed
        FROM documents),
      px AS (
        SELECT doc_id, ((seed + 31 * x.i + 7 * y.i) % 256) // 16 AS band
        FROM imgs, UNNEST(RANGE(0, w)) AS x(i), UNNEST(RANGE(0, h)) AS y(i)),
      bc AS (SELECT doc_id, band, COUNT(*) AS n FROM px GROUP BY 1, 2),
      dom AS (
        SELECT doc_id, band FROM (
          SELECT doc_id, band, n,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n DESC, band) AS rn
          FROM bc) WHERE rn = 1),
      npx AS (SELECT doc_id, CAST(w AS BIGINT) * h AS n_px FROM imgs)
      SELECT CAST(dom.band AS BIGINT) AS dominant_band,
             COUNT(*) AS n_images,
             CAST(SUM(npx.n_px) AS BIGINT) AS total_px
      FROM dom JOIN npx ON dom.doc_id = npx.doc_id
      GROUP BY dom.band
      ORDER BY dominant_band"""))

  /** Every modality's fingerprint in one frame, `(doc_id, modality,
    * b0..b3)`: one row per fingerprintable media item, the common
    * currency of the cross-modality funnel below. */
  def mediaFingerprints(s: SparkSession, dir: String): DataFrame =
    modalities.map(m => fingerprints(s, dir, m)
      .select(col("doc_id") +: lit(m).as("modality") +: bands.map(col): _*))
      .reduce(_ unionByName _)

  /** The DuckDB twin of [[mediaFingerprints]]: the three modality CTE
    * chains ending in `fps(doc_id, modality, b0..b3)`. */
  private[queries] def mediaFpsCteSql: String =
    modalities.map(fpCteSql).mkString(",") + ",\n      fps AS (" +
      modalities.map(m => s"""
        SELECT doc_id, '$m' AS modality, ${bands.mkString(", ")} FROM ${m}_fp""")
        .mkString("\n        UNION ALL") + ")"

  /** The CROSS-MODALITY admission capstone (VERDICT r11 #3) — the whole
    * multimodal curation funnel as ONE oracle-checked report: for every
    * ARRIVING item (doc_id % 10 = 7), its modality, the text-tier
    * verdicts (token-count quality + exact Bloom membership), the
    * semantic near-dup count (IVF-cell + LSH-bucket cosine gate), the
    * per-modality MEDIA near-dup count (image pHash / audio energy
    * fingerprint / video essence signature, all through the shared band
    * matcher [[bandMatch]] — never all-pairs), and the final
    * admit decision. Catalyst fuses every gate arm into one plan: two
    * broadcast model joins (Bloom word map, hit counts), one (cell,
    * bucket) equi-join, one (modality, band, key) equi-join. Stateless
    * per batch, so the identical transform serves under foreachBatch
    * (StreamingSpec pins streaming == batch). 100 TB shape: per-arrival
    * work = band/bucket occupancy; every corpus-side artifact is a
    * fit-once broadcast or persisted bucketed table. */
  val mmAdmissionFunnel = GraftQuery(
    "mm_admission_funnel",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      // text tier: token quality + Bloom membership over the shared lane
      val hashed = docs.select($"doc_id", $"text", md5($"text").as("h"))
      val bloomMap = graft.functions.BloomDedup.fitMapRow(
        graft.functions.BloomDedup.fit(
          hashed.filter($"doc_id" % 10 =!= 7).select($"doc_id", $"h")))
      val textGate = hashed.filter($"doc_id" % 10 === 7)
        .withColumn("n_tokens", size(split($"text", "\\s+")).cast("long"))
        .join(graft.functions.BloomDedup.probe(
          hashed.filter($"doc_id" % 10 === 7).select($"doc_id", $"h"), bloomMap),
          Seq("doc_id"))
        .select($"doc_id", $"n_tokens", $"bloom_hit")
      // semantic tier: IVF cell + corpus-scaled LSH bucket cosine gate
      val bits = SimilarityQueries.neardupBits(
        Tables.load(s, dir, "embeddings").count())
      val cells = graft.functions.AnnIndexes.ivf(s, dir, k = 16)
        .assigned.select($"vec_id", $"embedding", $"cell",
          graft.functions.Vectors.lshBucket($"embedding", bits).as("bucket"))
      val semHits = cells.filter($"vec_id" % 10 === 7).as("a")
        .join(cells.filter($"vec_id" % 10 =!= 7).as("x"),
          org.apache.spark.sql.functions.col("x.cell") === org.apache.spark.sql.functions.col("a.cell") &&
            org.apache.spark.sql.functions.col("x.bucket") === org.apache.spark.sql.functions.col("a.bucket"))
        .filter(graft.functions.Vectors.cosine(
          org.apache.spark.sql.functions.col("x.embedding"),
          org.apache.spark.sql.functions.col("a.embedding")) >= 0.4)
        .groupBy(org.apache.spark.sql.functions.col("a.vec_id").as("doc_id"))
        .agg(count(lit(1)).as("n_sem_dups"))
      // media tier: per-modality banded near-dup counts
      val fps = mediaFingerprints(s, dir)
      val mediaHits = bandMatch(fps.filter($"doc_id" % 10 === 7),
        fps.filter($"doc_id" % 10 =!= 7), Seq("modality"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_media_dups"))
      val fingerprinted = fps.filter($"doc_id" % 10 === 7)
        .select($"doc_id").distinct().withColumn("fp", lit(true))
      // the funnel report: every gate verdict + the final decision
      textGate
        .withColumn("modality", expr(
          "CASE WHEN doc_id % 3 = 0 THEN 'image' " +
            "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"))
        .join(broadcast(semHits), Seq("doc_id"), "left_outer")
        .join(broadcast(mediaHits), Seq("doc_id"), "left_outer")
        .join(broadcast(fingerprinted), Seq("doc_id"), "left_outer")
        .select($"doc_id", $"modality", $"n_tokens", $"bloom_hit",
          coalesce($"n_sem_dups", lit(0L)).as("n_sem_dups"),
          coalesce($"fp", lit(false)).as("fingerprinted"),
          coalesce($"n_media_dups", lit(0L)).as("n_media_dups"))
        .withColumn("admitted",
          $"n_tokens" >= 20L && !$"bloom_hit" &&
            $"n_sem_dups" === 0L && $"n_media_dups" === 0L)
        .orderBy($"doc_id")
    },
    oracleGen = Some((s, dir) => AnnOracles.admissionFunnelSql(
      graft.functions.AnnIndexes.ivf(s, dir, k = 16).centroids, tau = 0.4,
      SimilarityQueries.duckBucket("embedding",
        SimilarityQueries.neardupBits(
          Tables.load(s, dir, "embeddings").count())))))

  val all: Seq[GraftQuery] =
    Seq(mmMediaMeta, mmTypeStats, mmFrameSample, mmCodecStats, mmOrientationStats,
      mmPhash, mmIntegrity, mmAudioStats, mmThumbnail, mmPhashNeardup, mmSceneCut,
      mmResolutionFilter, mmLumaBands, mmPhashTopk, mmAudioFingerprint,
      mmAfpTopk, mmVideoNeardup, mmVsigTopk, stImageAdmission, mmAdmissionFunnel)
}
