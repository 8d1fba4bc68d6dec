package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video travel as opaque
  * `binary` columns with typed metadata alongside (driver-mandated
  * extension, SURVEY §7.6.5).
  *
  * The pipeline is real end-to-end: [[synthesize]] builds WELL-FORMED
  * container bytes (PNG with CRC'd chunks, JFIF JPEG with an SOF0 frame
  * header, GIF89a, RIFF/WAVE PCM, RIFF/AVI with an `avih` main header)
  * whose declared dimensions/duration derive deterministically from the
  * document's md5, and [[decode]] recovers them by parsing the actual
  * codec headers — PNG IHDR (ISO 15948 §11.2.2), JPEG SOF marker scan
  * (ITU T.81 §B.2.2), GIF logical screen descriptor (GIF89a spec §18),
  * WAV fmt/data chunk walk (RIFF spec), AVI `avih` AVIMAINHEADER. A
  * payload with an unknown magic falls back to digest-derived metadata
  * ([[digestMeta]]) — the documented boundary for codecs this container
  * cannot parse. Because the oracle replays the GENERATION formulas while
  * Spark replays the PARSERS, a hash-match proves the byte-level decode
  * is correct.
  *
  * Spark-side mechanics: per-partition batch processing (`mapPartitions`
  * over a typed Dataset, the Scala analogue of `mapInPandas`), lazy 1→N
  * flatMap for frame sampling, no driver-side materialization.
  */
object Media {

  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  final case class MediaMeta(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Long,
      height: Long,
      duration_ms: Long)

  private def md5Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def crc32(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue.toInt
  }

  // ---- container builders (fixture synthesis; all fields real) ----

  /** PNG: 8-byte signature, IHDR (13-byte payload + CRC32), one IDAT
    * carrying the raw document bytes, IEND. Total = 57 + data.length. */
  def pngBytes(w: Long, h: Long, data: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(57 + data.length) // big-endian (PNG network order)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes(ISO_8859_1))
    val ihdrType = bb.position() - 4
    bb.putInt(w.toInt).putInt(h.toInt)
      .put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(crc32(bb.array(), ihdrType, 4 + 13))
    bb.putInt(data.length).put("IDAT".getBytes(ISO_8859_1))
    val idatType = bb.position() - 4
    bb.put(data)
    bb.putInt(crc32(bb.array(), idatType, 4 + data.length))
    bb.putInt(0).put("IEND".getBytes(ISO_8859_1))
      .putInt(crc32("IEND".getBytes(ISO_8859_1), 0, 4))
    bb.array()
  }

  /** JPEG: SOI, JFIF APP0, SOF0 (8-bit precision, 3 components), the raw
    * document bytes as stand-in entropy data, EOI. Total = 41 + len. */
  def jpegBytes(w: Long, h: Long, data: Array[Byte]): Array[Byte] =
    jpegBytes(w, h, 0L, data)

  /** JPEG with an optional EXIF APP1 (orientation > 0): a little-endian
    * TIFF header + a one-entry IFD0 carrying tag 0x0112 (Orientation).
    * APP1 adds 36 bytes ⇒ total = 77 + len (41 + len without EXIF). */
  def jpegBytes(w: Long, h: Long, orientation: Long, data: Array[Byte]): Array[Byte] = {
    val exifLen = if (orientation > 0) 36 else 0
    val bb = ByteBuffer.allocate(41 + exifLen + data.length)
    bb.putShort(0xFFD8.toShort) // SOI
    bb.putShort(0xFFE0.toShort).putShort(16.toShort) // APP0 JFIF
      .put("JFIF".getBytes(ISO_8859_1)).put(0.toByte)
      .put(1.toByte).put(1.toByte) // version 1.1
      .put(0.toByte) // density units
      .putShort(1.toShort).putShort(1.toShort)
      .put(0.toByte).put(0.toByte) // no thumbnail
    if (orientation > 0) {
      bb.putShort(0xFFE1.toShort).putShort(34.toShort) // APP1, len 2+6+8+18
        .put("Exif".getBytes(ISO_8859_1)).put(0.toByte).put(0.toByte)
      // TIFF header, little-endian ("II"), IFD0 right after (offset 8)
      bb.put('I'.toByte).put('I'.toByte)
        .putShort(java.lang.Short.reverseBytes(42.toShort))
        .putInt(java.lang.Integer.reverseBytes(8))
      // IFD0: one entry — tag 0x0112, type SHORT(3), count 1, value
      bb.putShort(java.lang.Short.reverseBytes(1.toShort)) // entry count
      bb.putShort(java.lang.Short.reverseBytes(0x0112.toShort))
        .putShort(java.lang.Short.reverseBytes(3.toShort))
        .putInt(java.lang.Integer.reverseBytes(1))
        .putShort(java.lang.Short.reverseBytes(orientation.toShort))
        .putShort(0.toShort) // value padding
      bb.putInt(0) // next IFD offset
    }
    bb.putShort(0xFFC0.toShort).putShort(17.toShort) // SOF0, len 2+6+3*3
      .put(8.toByte).putShort(h.toShort).putShort(w.toShort).put(3.toByte)
    var c = 1
    while (c <= 3) { bb.put(c.toByte).put(0x11.toByte).put(0.toByte); c += 1 }
    bb.put(data)
    bb.putShort(0xFFD9.toShort) // EOI
    bb.array()
  }

  /** MP3: an ID3v2.3 container with a TLEN frame declaring the duration
    * in ms (text), then 100 bytes of stand-in MPEG data.
    * Total = 21 + digits(durMs) + 100. */
  def mp3Bytes(durMs: Long): Array[Byte] = {
    val digits = durMs.toString.getBytes(ISO_8859_1)
    val frameLen = 1 + digits.length // encoding byte + text
    val tagLen = 10 + frameLen // one frame
    val bb = ByteBuffer.allocate(10 + tagLen + 100)
    bb.put("ID3".getBytes(ISO_8859_1)).put(3.toByte).put(0.toByte).put(0.toByte)
    // syncsafe size (7 bits per byte)
    bb.put(((tagLen >> 21) & 0x7f).toByte).put(((tagLen >> 14) & 0x7f).toByte)
      .put(((tagLen >> 7) & 0x7f).toByte).put((tagLen & 0x7f).toByte)
    bb.put("TLEN".getBytes(ISO_8859_1)).putInt(frameLen).putShort(0.toShort)
    bb.put(0.toByte).put(digits) // ISO-8859-1 text encoding
    var i = 0
    while (i < 100) { bb.put(0x55.toByte); i += 1 }
    bb.array()
  }

  /** MP4 (ISO BMFF): ftyp + moov(mvhd timescale 1000/duration, trak(tkhd
    * 16.16 dimensions)) + mdat carrying the document bytes as essence.
    * Total = 244 + len. */
  def mp4Bytes(w: Long, h: Long, durMs: Long, data: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(244 + data.length) // big-endian (BMFF network order)
    def box(tpe: String, payloadLen: Int): Unit =
      bb.putInt(8 + payloadLen).put(tpe.getBytes(ISO_8859_1))
    box("ftyp", 12)
    bb.put("isom".getBytes(ISO_8859_1)).putInt(0x200).put("isom".getBytes(ISO_8859_1))
    box("moov", 108 + 100)
    box("mvhd", 100)
    bb.putInt(0) // version/flags
      .putInt(0).putInt(0) // ctime/mtime
      .putInt(1000) // timescale
      .putInt(durMs.toInt) // duration (ms at timescale 1000)
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0.toShort) // rate/volume
    bb.put(new Array[Byte](8)) // reserved
    // identity matrix
    bb.putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
    bb.put(new Array[Byte](24)) // pre_defined
    bb.putInt(2) // next track id
    box("trak", 92)
    box("tkhd", 84)
    bb.putInt(0).putInt(0).putInt(0).putInt(1).putInt(0) // vf/ct/mt/track/res
      .putInt(durMs.toInt)
    bb.put(new Array[Byte](8)) // reserved
    bb.putShort(0.toShort).putShort(0.toShort).putShort(0.toShort).putShort(0.toShort)
    bb.putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
    bb.putInt((w << 16).toInt).putInt((h << 16).toInt) // 16.16 fixed
    box("mdat", data.length)
    bb.put(data)
    bb.array()
  }

  /** GIF89a: signature + logical screen descriptor (LE dimensions), raw
    * document bytes, 0x3B trailer. Total = 14 + len. */
  def gifBytes(w: Long, h: Long, data: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(14 + data.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("GIF89a".getBytes(ISO_8859_1))
    bb.putShort(w.toShort).putShort(h.toShort)
    bb.put(0.toByte).put(0.toByte).put(0.toByte) // flags, bg color, aspect
    bb.put(data)
    bb.put(0x3b.toByte)
    bb.array()
  }

  /** WAV: canonical 44-byte RIFF/WAVE header (PCM, mono, 8-bit, 1000 Hz ⇒
    * byte rate 1000, so duration_ms == data length) + silence samples.
    * Total = 44 + durMs. */
  def wavBytes(durMs: Long): Array[Byte] = {
    val n = durMs.toInt
    val bb = ByteBuffer.allocate(44 + n).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ISO_8859_1)).putInt(36 + n).put("WAVE".getBytes(ISO_8859_1))
    bb.put("fmt ".getBytes(ISO_8859_1)).putInt(16)
      .putShort(1.toShort).putShort(1.toShort) // PCM, mono
      .putInt(1000) // sample rate
      .putInt(1000) // byte rate = rate * channels * bits/8
      .putShort(1.toShort).putShort(8.toShort) // block align, bits/sample
    bb.put("data".getBytes(ISO_8859_1)).putInt(n)
    // Deterministic 8-bit PCM waveform (NOT silence): sample i is
    // 64 + (durMs·11 + i·37) mod 97, a 97-periodic sawtooth around an
    // off-center bias — gives [[audioFeatures]] real RMS energy and
    // midline crossings to measure, and the DuckDB oracle replays the
    // formula over generate_series while Spark reads the bytes back.
    var i = 0
    while (i < n) {
      bb.put((64 + ((durMs * 11 + i * 37) % 97)).toByte)
      i += 1
    }
    bb.array()
  }

  /** FLAC: `fLaC` magic + a single (last) STREAMINFO metadata block.
    * Sample rate 1000 Hz with `durMs` total samples ⇒ duration == durMs,
    * the same declared-value trick the WAV byte-rate uses. Fixed 42-byte
    * container (4 magic + 4 block header + 34 STREAMINFO). */
  def flacBytes(durMs: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(42).order(ByteOrder.BIG_ENDIAN)
    bb.put("fLaC".getBytes(ISO_8859_1))
    bb.put(0x80.toByte) // last-metadata-block flag + type 0 (STREAMINFO)
    bb.put(0.toByte).put(0.toByte).put(34.toByte) // block length
    bb.putShort(4096.toShort).putShort(4096.toShort) // min/max block size
    bb.put(0.toByte).put(0.toByte).put(0.toByte) // min frame size (unknown)
    bb.put(0.toByte).put(0.toByte).put(0.toByte) // max frame size (unknown)
    // 64-bit group: sample rate (20) | channels-1 (3) | bps-1 (5) | total samples (36)
    bb.putLong((1000L << 44) | (0L << 41) | (15L << 36) | (durMs & 0xfffffffffL))
    (0 until 16).foreach(_ => bb.put(0.toByte)) // unaudited MD5
    bb.array()
  }

  /** TIFF (classic, little-endian): "II" + 42 + IFD0 at offset 8 with
    * two LONG entries — tag 256 ImageWidth and 257 ImageLength — then the
    * raw document bytes. Fixed 38-byte header ⇒ total = 38 + len. */
  def tiffBytes(w: Long, h: Long, data: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(38 + data.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(8)
    bb.putShort(2.toShort) // IFD0 entry count
    bb.putShort(256.toShort).putShort(4.toShort).putInt(1).putInt(w.toInt)
    bb.putShort(257.toShort).putShort(4.toShort).putInt(1).putInt(h.toInt)
    bb.putInt(0) // next IFD offset
    bb.put(data)
    bb.array()
  }

  /** WebP (RIFF/WEBP): a VP8X extended-format chunk carrying the canvas
    * size as 24-bit LE minus-one fields, then the document bytes in an
    * UNKN chunk (word-aligned per RIFF). Total = 38 + len + (len & 1). */
  def webpBytes(w: Long, h: Long, data: Array[Byte]): Array[Byte] = {
    val pad = data.length & 1
    val bb = ByteBuffer.allocate(38 + data.length + pad).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ISO_8859_1)).putInt(30 + data.length + pad)
      .put("WEBP".getBytes(ISO_8859_1))
    bb.put("VP8X".getBytes(ISO_8859_1)).putInt(10)
    bb.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // flags + reserved
    val wm = (w - 1).toInt; val hm = (h - 1).toInt
    bb.put((wm & 0xff).toByte).put(((wm >> 8) & 0xff).toByte).put(((wm >> 16) & 0xff).toByte)
    bb.put((hm & 0xff).toByte).put(((hm >> 8) & 0xff).toByte).put(((hm >> 16) & 0xff).toByte)
    bb.put("UNKN".getBytes(ISO_8859_1)).putInt(data.length)
    bb.put(data)
    if (pad == 1) bb.put(0.toByte)
    bb.array()
  }

  /** Ogg/Vorbis: a BOS page carrying the 30-byte Vorbis identification
    * header (sample rate 1000 Hz) and an EOS page whose granule position
    * equals `durMs` — at 1000 samples/s the last-granule/rate duration
    * rule yields durMs exactly. Page CRCs are zero (the one well-formed
    * ness concession; Ogg uses its own CRC polynomial). Fixed 106 bytes. */
  def oggBytes(durMs: Long): Array[Byte] = {
    def page(ptype: Int, granule: Long, seq: Int, payload: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(27 + 1 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("OggS".getBytes(ISO_8859_1)).put(0.toByte).put(ptype.toByte)
      bb.putLong(granule).putInt(1).putInt(seq).putInt(0)
      bb.put(1.toByte).put(payload.length.toByte)
      bb.put(payload)
      bb.array()
    }
    val id = ByteBuffer.allocate(30).order(ByteOrder.LITTLE_ENDIAN)
    id.put(1.toByte).put("vorbis".getBytes(ISO_8859_1))
      .putInt(0) // version
      .put(1.toByte) // channels
      .putInt(1000) // sample rate
      .putInt(0).putInt(0).putInt(0) // bitrates
      .put(0x66.toByte) // blocksizes
      .put(1.toByte) // framing
    page(0x02, 0L, 0, id.array()) ++
      page(0x04, durMs, 1, Array.fill(20)(0x55.toByte))
  }

  /** AVI: RIFF/AVI with a LIST/hdrl holding the 56-byte `avih`
    * AVIMAINHEADER (µs-per-frame 1000 and durMs frames ⇒ duration durMs)
    * and a LIST/movi carrying the raw document bytes as the stream
    * essence. Total = 100 + len. */
  def aviBytes(w: Long, h: Long, durMs: Long, data: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(100 + data.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ISO_8859_1)).putInt(92 + data.length).put("AVI ".getBytes(ISO_8859_1))
    bb.put("LIST".getBytes(ISO_8859_1)).putInt(4 + 8 + 56).put("hdrl".getBytes(ISO_8859_1))
    bb.put("avih".getBytes(ISO_8859_1)).putInt(56)
    bb.putInt(1000) // dwMicroSecPerFrame
    bb.putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
    bb.putInt(durMs.toInt) // dwTotalFrames
    bb.putInt(0).putInt(1).putInt(0) // initialFrames, streams, suggestedBuffer
    bb.putInt(w.toInt).putInt(h.toInt)
    bb.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
    bb.put("LIST".getBytes(ISO_8859_1)).putInt(4 + data.length).put("movi".getBytes(ISO_8859_1))
    bb.put(data)
    bb.array()
  }

  /** Synthesize a binary media column from `documents` — deterministic,
    * REAL container formats: images rotate png/jpeg/gif/tiff/webp by
    * doc_id/3 mod 5, audio rotates wav/mp3/flac/ogg mod 4, video
    * alternates avi/mp4; every declared dimension / duration derives
    * from the document md5 (which is what the DuckDB oracle replays).
    * In a real pipeline this column comes straight from parquet
    * `binary` storage. */
  def synthesize(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val data = text.getBytes(UTF_8)
      val hex = md5Hex(data)
      val w = 1 + (hex(0).toLong * 256 + hex(1)) % 512
      val h = 1 + (hex(2).toLong * 256 + hex(3)) % 512
      val dur = hex(4).toLong * 256 + hex(5)
      val orient = 1 + (hex(6).toLong * 256 + hex(7)) % 8
      (id % 3) match {
        case 0 =>
          val payload = ((id / 3) % 5) match {
            case 0 => pngBytes(w, h, data)
            case 1 => jpegBytes(w, h, orient, data) // EXIF APP1 orientation
            case 2 => gifBytes(w, h, data)
            case 3 => tiffBytes(w, h, data)
            case _ => webpBytes(w, h, data)
          }
          MediaRecord(id, "image", payload)
        case 1 =>
          val payload = ((id / 3) % 4) match {
            case 0 => wavBytes(dur)
            case 1 => mp3Bytes(dur)
            case 2 => flacBytes(dur)
            case _ => oggBytes(dur)
          }
          MediaRecord(id, "audio", payload)
        case _ =>
          MediaRecord(id, "video",
            if ((id / 3) % 2 == 0) aviBytes(w, h, dur, data)
            else mp4Bytes(w, h, dur, data))
      }
    }.toDF()
  }

  /** Digest-derived pseudo-metadata — the fallback for payloads whose
    * magic none of the header parsers recognize (codecs this container
    * has no library for). Deterministic, documented boundary. */
  def digestMeta(payload: Array[Byte]): (Long, Long, Long) = {
    val hex = md5Hex(payload)
    val width = 1 + (hex(0).toLong * 256 + hex(1)) % 512
    val height = 1 + (hex(2).toLong * 256 + hex(3)) % 512
    val duration = hex(4).toLong * 256 + hex(5)
    (width, height, duration)
  }

  private def fourcc(d: Array[Byte], i: Int): String =
    if (i + 4 <= d.length) new String(d, i, 4, ISO_8859_1) else ""

  private def u16be(d: Array[Byte], i: Int): Int =
    ((d(i) & 0xff) << 8) | (d(i + 1) & 0xff)
  private def u32be(d: Array[Byte], i: Int): Long =
    ((d(i) & 0xffL) << 24) | ((d(i + 1) & 0xffL) << 16) |
      ((d(i + 2) & 0xffL) << 8) | (d(i + 3) & 0xffL)
  private def u16le(d: Array[Byte], i: Int): Int =
    (d(i) & 0xff) | ((d(i + 1) & 0xff) << 8)
  private def u32le(d: Array[Byte], i: Int): Long =
    (d(i) & 0xffL) | ((d(i + 1) & 0xffL) << 8) |
      ((d(i + 2) & 0xffL) << 16) | ((d(i + 3) & 0xffL) << 24)

  private val PngMagic =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Container sniff by magic — the dispatch [[decode]] runs, surfaced as
    * a value for format-distribution analytics. */
  // ---- pixel-true PNG path (encode + full decode, no stand-in bytes) ----

  private def paethPredictor(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Pixel-true grayscale PNG: 8-bit colour-type-0 scanlines whose pixel
    * at (x, y) is `(seed + 31·x + 7·y) mod 256`, each row filtered with
    * PNG filter `y mod 5` (None/Sub/Up/Average/Paeth — all five standard
    * filters exercised), the filtered stream zlib-DEFLATEd into one IDAT.
    * Unlike [[pngBytes]] (real container, stand-in entropy bytes) this is
    * a fully decodable image: [[decodeGray]] must INFLATE and UN-filter
    * to recover the pixels. PNG spec: RFC 2083 §6 (filters), §2.3 (zlib). */
  def pngPixelBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    val raw = new Array[Byte]((1 + w) * h)
    var pos = 0
    val prior = new Array[Int](w)
    val cur = new Array[Int](w)
    var y = 0
    while (y < h) {
      val ft = y % 5
      raw(pos) = ft.toByte; pos += 1
      var x = 0
      while (x < w) { cur(x) = (seed + 31 * x + 7 * y) % 256; x += 1 }
      x = 0
      while (x < w) {
        val left = if (x > 0) cur(x - 1) else 0
        val up = if (y > 0) prior(x) else 0
        val ul = if (x > 0 && y > 0) prior(x - 1) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paethPredictor(left, up, ul)
        }
        raw(pos) = ((cur(x) - pred) & 0xff).toByte; pos += 1
        x += 1
      }
      System.arraycopy(cur, 0, prior, 0, w)
      y += 1
    }
    val defl = new java.util.zip.Deflater(6)
    defl.setInput(raw); defl.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = out.toByteArray
    val bb = ByteBuffer.allocate(57 + idat.length)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes(ISO_8859_1))
    val ihdrType = bb.position() - 4
    bb.putInt(w).putInt(h)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(crc32(bb.array(), ihdrType, 4 + 13))
    bb.putInt(idat.length).put("IDAT".getBytes(ISO_8859_1))
    val idatType = bb.position() - 4
    bb.put(idat)
    bb.putInt(crc32(bb.array(), idatType, 4 + idat.length))
    bb.putInt(0).put("IEND".getBytes(ISO_8859_1))
      .putInt(crc32("IEND".getBytes(ISO_8859_1), 0, 4))
    bb.array()
  }

  final case class GrayImage(w: Int, h: Int, px: Array[Int])

  /** Full decode of an 8-bit grayscale PNG: chunk walk → concatenated
    * IDAT zlib INFLATE → per-row UN-filtering (all five PNG filter
    * types). Returns null for non-PNG input, wrong bit depth/colour
    * type, truncated zlib streams, or an unknown filter byte — the
    * ingest gate never throws. */
  def decodeGray(payload: Array[Byte]): GrayImage = {
    if (payload.length < 26 || !payload.startsWith(PngMagic) ||
      fourcc(payload, 12) != "IHDR") return null
    val w = u32be(payload, 16).toInt
    val h = u32be(payload, 20).toInt
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14)) return null
    if ((payload(24) & 0xff) != 8 || (payload(25) & 0xff) != 0) return null
    val idat = new java.io.ByteArrayOutputStream()
    var p = 8
    var walking = true
    while (walking && p + 8 <= payload.length) {
      val len = u32be(payload, p).toInt
      val typ = fourcc(payload, p + 4)
      if (len < 0 || p + 8 + len > payload.length) walking = false
      else {
        if (typ == "IDAT") idat.write(payload, p + 8, len)
        if (typ == "IEND") walking = false
        p += 12 + len
      }
    }
    val infl = new java.util.zip.Inflater()
    infl.setInput(idat.toByteArray)
    val raw = new Array[Byte]((1 + w) * h)
    var got = 0
    try {
      while (got < raw.length && !infl.finished()) {
        val n = infl.inflate(raw, got, raw.length - got)
        if (n == 0 && infl.needsInput()) return null // truncated stream
        got += n
      }
    } catch { case _: java.util.zip.DataFormatException => return null }
    finally infl.end()
    if (got != raw.length) return null
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (w + 1)) & 0xff
      if (ft > 4) return null
      var x = 0
      while (x < w) {
        val f = raw(y * (w + 1) + 1 + x) & 0xff
        val left = if (x > 0) px(y * w + x - 1) else 0
        val up = if (y > 0) px((y - 1) * w + x) else 0
        val ul = if (x > 0 && y > 0) px((y - 1) * w + x - 1) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paethPredictor(left, up, ul)
        }
        px(y * w + x) = (f + pred) & 0xff
        x += 1
      }
      y += 1
    }
    GrayImage(w, h, px)
  }

  /** Pixel fixture: every document becomes a fully decodable grayscale
    * PNG whose dims (8–32 px/side) and pixel seed derive from the text
    * md5 — the same hex-char convention [[synthesize]] uses, so the
    * DuckDB oracle replays the parameters arithmetically. */
  def synthesizePixels(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val hex = md5Hex(text.getBytes(UTF_8))
      val w = 8 + ((hex(0).toInt * 256 + hex(1).toInt) % 25)
      val h = 8 + ((hex(2).toInt * 256 + hex(3).toInt) % 25)
      val seed = (hex(4).toInt * 256 + hex(5).toInt) % 256
      (id, pngPixelBytes(w, h, seed))
    }.toDF("doc_id", "payload")
  }

  final case class Thumb(doc_id: Long, width: Long, height: Long, thumb: String)

  /** 4×4 average-pooled thumbnails over REAL decoded pixels: inflate +
    * un-filter each payload ([[decodeGray]]), then integer block
    * averaging (truncating division, non-negative — the `//`-compatible
    * convention every oracle uses). One mapPartitions pass, constant
    * memory; undecodable payloads yield no row. */
  def thumbnails(spark: SparkSession, media: DataFrame): Dataset[Thumb] = {
    import spark.implicits._
    media.as[(Long, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (id, payload) =>
        val img = decodeGray(payload)
        if (img == null) None
        else {
          val sb = new StringBuilder(32)
          var by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val x0 = bx * img.w / 4; val x1 = (bx + 1) * img.w / 4
              val y0 = by * img.h / 4; val y1 = (by + 1) * img.h / 4
              var s = 0L
              var yy = y0
              while (yy < y1) {
                var xx = x0
                while (xx < x1) { s += img.px(yy * img.w + xx); xx += 1 }
                yy += 1
              }
              val avg = s / ((x1 - x0).toLong * (y1 - y0))
              sb.append(f"$avg%02x")
              bx += 1
            }
            by += 1
          }
          Some(Thumb(id, img.w.toLong, img.h.toLong, sb.toString))
        }
      }
    }
  }

  def codecOf(payload: Array[Byte]): String = {
    val n = payload.length
    if (n >= 8 && payload.startsWith(PngMagic)) "png"
    else if (n >= 2 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) "jpeg"
    else if (n >= 6 && new String(payload, 0, 6, ISO_8859_1).matches("GIF8[79]a")) "gif"
    else if (n >= 3 && payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3') "mp3"
    else if (n >= 4 && fourcc(payload, 0) == "fLaC") "flac"
    else if (n >= 12 && fourcc(payload, 4) == "ftyp") "mp4"
    else if (n >= 12 && fourcc(payload, 0) == "RIFF" && fourcc(payload, 8) == "WAVE") "wav"
    else if (n >= 12 && fourcc(payload, 0) == "RIFF" && fourcc(payload, 8) == "AVI ") "avi"
    else if (n >= 12 && fourcc(payload, 0) == "RIFF" && fourcc(payload, 8) == "WEBP") "webp"
    else if (n >= 4 && ((payload(0) == 'I' && payload(1) == 'I' &&
      payload(2) == 42 && payload(3) == 0) ||
      (payload(0) == 'M' && payload(1) == 'M' &&
        payload(2) == 0 && payload(3) == 42))) "tiff"
    else if (n >= 4 && fourcc(payload, 0) == "OggS") "ogg"
    else "unknown"
  }

  /** Real header decode: (width, height, duration_ms). Images report
    * duration 0, audio reports dimensions 0. Unknown magic falls back to
    * [[digestMeta]]. Never throws on malformed input. */
  def decode(payload: Array[Byte]): (Long, Long, Long) = {
    val n = payload.length
    // PNG: signature + first chunk must be IHDR (width/height BE u32)
    if (n >= 24 && payload.startsWith(PngMagic) && fourcc(payload, 12) == "IHDR")
      return (u32be(payload, 16), u32be(payload, 20), 0L)
    // JPEG: marker scan for a start-of-frame segment
    if (n >= 4 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) {
      var p = 2
      while (p + 4 <= n && (payload(p) & 0xff) == 0xff) {
        val m = payload(p + 1) & 0xff
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) p += 2 // standalone
        else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (p + 9 <= n)
            return (u16be(payload, p + 7).toLong, u16be(payload, p + 5).toLong, 0L)
          else return digestMeta(payload)
        } else if (m == 0xda) p = n // SOS: entropy-coded data follows
        else p += 2 + u16be(payload, p + 2)
      }
      return digestMeta(payload)
    }
    // GIF: logical screen descriptor (LE u16 dimensions at 6/8)
    if (n >= 13 && (fourcc(payload, 0) + new String(payload, 4, 2, ISO_8859_1))
        .matches("GIF8[79]a"))
      return (u16le(payload, 6).toLong, u16le(payload, 8).toLong, 0L)
    // MP3 / ID3v2: TLEN text frame declares the duration in ms
    if (n >= 10 && payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3') {
      val tagLen = ((payload(6) & 0x7f) << 21) | ((payload(7) & 0x7f) << 14) |
        ((payload(8) & 0x7f) << 7) | (payload(9) & 0x7f)
      var p = 10
      val tagEnd = math.min(n, 10 + tagLen)
      while (p + 10 <= tagEnd) {
        val id = fourcc(payload, p)
        val size = u32be(payload, p + 4)
        if (size <= 0 || p + 10 + size > tagEnd) return (0L, 0L, 0L)
        if (id == "TLEN" && size >= 2) {
          val txt = new String(payload, p + 11, size.toInt - 1, ISO_8859_1)
          return (0L, 0L, try txt.trim.toLong catch { case _: Throwable => 0L })
        }
        p += 10 + size.toInt
      }
      return (0L, 0L, 0L)
    }
    // FLAC: STREAMINFO's 64-bit packed group — sample rate (20 bits) and
    // total samples (36 bits) give the duration exactly
    if (n >= 26 && fourcc(payload, 0) == "fLaC" && (payload(4) & 0x7f) == 0) {
      val packed = (u32be(payload, 18) << 32) | u32be(payload, 22)
      val sr = packed >>> 44
      val totalSamples = packed & 0xfffffffffL
      return (0L, 0L, if (sr > 0) totalSamples * 1000L / sr else 0L)
    }
    // MP4 / ISO BMFF: moov → mvhd (timescale/duration) + tkhd (16.16 dims)
    if (n >= 12 && fourcc(payload, 4) == "ftyp") {
      var w = 0L
      var h = 0L
      var dur = 0L
      def walk(from: Int, to: Int, depth: Int): Unit = {
        var p = from
        while (p + 8 <= to) {
          val size = u32be(payload, p)
          val tpe = fourcc(payload, p + 4)
          if (size < 8 || p + size > to) return
          val bEnd = (p + size).toInt
          tpe match {
            case "moov" | "trak" if depth < 3 => walk(p + 8, bEnd, depth + 1)
            case "mvhd" if p + 8 + 20 <= to =>
              val ts = u32be(payload, p + 8 + 12)
              val d0 = u32be(payload, p + 8 + 16)
              if (ts > 0) dur = d0 * 1000L / ts
            case "tkhd" if p + 8 + 84 <= to =>
              w = u32be(payload, p + 8 + 76) >> 16
              h = u32be(payload, p + 8 + 80) >> 16
            case _ =>
          }
          p = bEnd
        }
      }
      walk(0, n, 0)
      if (w > 0 || h > 0 || dur > 0) return (w, h, dur)
      return digestMeta(payload)
    }
    if (fourcc(payload, 0) == "RIFF" && n >= 12) {
      val form = fourcc(payload, 8)
      if (form == "WAVE") {
        // chunk walk: fmt → byte rate; data → length; duration = len*1000/rate
        var p = 12
        var byteRate = 0L
        var dataLen = -1L
        while (p + 8 <= n) {
          val id = fourcc(payload, p)
          val size = u32le(payload, p + 4)
          if (id == "fmt " && p + 16 <= n) byteRate = u32le(payload, p + 16)
          if (id == "data") dataLen = size
          // a declared size beyond the buffer is malformed: stop the walk
          if (size > n) p = n
          else p += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
        if (byteRate > 0 && dataLen >= 0)
          return (0L, 0L, dataLen * 1000L / byteRate)
        return digestMeta(payload)
      }
      if (form == "WEBP") {
        // chunk walk to VP8X: canvas = 24-bit LE minus-one fields
        var p = 12
        while (p + 8 <= n) {
          val id = fourcc(payload, p)
          val size = u32le(payload, p + 4)
          if (id == "VP8X" && size >= 10 && p + 18 <= n) {
            def le24(o: Int): Long =
              (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
                ((payload(o + 2) & 0xffL) << 16)
            return (1L + le24(p + 12), 1L + le24(p + 15), 0L)
          }
          if (size > n) p = n
          else p += 8 + size.toInt + (size.toInt & 1)
        }
        return digestMeta(payload)
      }
      if (form == "AVI ") {
        // LIST/hdrl → avih AVIMAINHEADER: µsPerFrame, ..., totalFrames at
        // +16, width/height at +32/+36
        var p = 12
        while (p + 12 <= n) {
          val id = fourcc(payload, p)
          val size = u32le(payload, p + 4)
          if (id == "LIST" && fourcc(payload, p + 8) == "hdrl") {
            var q = p + 12
            val listEnd = math.min(n.toLong, p + 8 + size).toInt
            while (q + 8 <= listEnd) {
              val cid = fourcc(payload, q)
              val csize = u32le(payload, q + 4)
              if (cid == "avih" && q + 8 + 40 <= n) {
                val usPerFrame = u32le(payload, q + 8)
                val totalFrames = u32le(payload, q + 8 + 16)
                val w = u32le(payload, q + 8 + 32)
                val h = u32le(payload, q + 8 + 36)
                return (w, h, usPerFrame * totalFrames / 1000L)
              }
              if (csize > n) q = listEnd
              else q += 8 + csize.toInt + (csize.toInt & 1)
            }
          }
          if (size > n) p = n
          else p += 8 + size.toInt + (size.toInt & 1)
        }
        return digestMeta(payload)
      }
    }
    // TIFF: II/MM byte-order header, IFD0 walk for tags 256/257
    if (n >= 8 && ((payload(0) == 'I' && payload(1) == 'I' &&
        payload(2) == 42 && payload(3) == 0) ||
        (payload(0) == 'M' && payload(1) == 'M' &&
          payload(2) == 0 && payload(3) == 42))) {
      val le = payload(0) == 'I'
      def rd16(o: Int): Int = if (le) u16le(payload, o) else u16be(payload, o)
      def rd32(o: Int): Long = if (le) u32le(payload, o) else u32be(payload, o)
      val ifd = rd32(4)
      if (ifd >= 8 && ifd + 2 <= n) {
        val cnt = rd16(ifd.toInt)
        var w = 0L
        var h = 0L
        var i = 0
        while (i < cnt && ifd + 2 + (i + 1) * 12 <= n) {
          val e = ifd.toInt + 2 + i * 12
          val tag = rd16(e)
          val tpe = rd16(e + 2)
          val value = if (tpe == 3) rd16(e + 8).toLong else rd32(e + 8)
          if (tag == 256) w = value
          if (tag == 257) h = value
          i += 1
        }
        if (w > 0 || h > 0) return (w, h, 0L)
      }
      return digestMeta(payload)
    }
    // Ogg: BOS-page Vorbis id header gives the rate, the LAST page's
    // granule position the total samples — duration = granule/rate
    if (n >= 28 && fourcc(payload, 0) == "OggS") {
      var rate = 0L
      var granule = 0L
      var p = 0
      while (p + 27 <= n && fourcc(payload, p) == "OggS") {
        granule = // u64 LE at +6
          (u32le(payload, p + 6) | (u32le(payload, p + 10) << 32))
        val nsegs = payload(p + 26) & 0xff
        var plen = 0
        var s = 0
        while (s < nsegs && p + 27 + s < n) { plen += payload(p + 27 + s) & 0xff; s += 1 }
        val body = p + 27 + nsegs
        if (rate == 0 && body + 16 <= n && payload(body) == 1 &&
            new String(payload, body + 1, 6, ISO_8859_1) == "vorbis")
          rate = u32le(payload, body + 12)
        p = body + plen
      }
      if (rate > 0) return (0L, 0L, granule * 1000L / rate)
      return digestMeta(payload)
    }
    digestMeta(payload)
  }

  /** The AVI stream essence (LIST/movi contents) — what a real pipeline
    * would hand the frame decoder. Falls back to the whole payload when
    * the container shape is unknown. */
  def aviMoviData(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    if (fourcc(payload, 0) == "RIFF" && fourcc(payload, 8) == "AVI ") {
      var p = 12
      while (p + 12 <= n) {
        val size = u32le(payload, p + 4)
        if (fourcc(payload, p) == "LIST" && fourcc(payload, p + 8) == "movi") {
          val end = math.min(n.toLong, p + 8 + size).toInt
          return java.util.Arrays.copyOfRange(payload, p + 12, math.max(p + 12, end))
        }
        if (size > n) p = n
        else p += 8 + size.toInt + (size.toInt & 1)
      }
    }
    payload
  }

  /** Container essence (what a frame decoder would consume): AVI
    * LIST/movi contents, MP4 mdat contents; whole payload otherwise. */
  def essenceOf(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    if (n >= 12 && fourcc(payload, 4) == "ftyp") {
      var p = 0
      while (p + 8 <= n) {
        val size = u32be(payload, p)
        if (size < 8 || p + size > n) return payload
        if (fourcc(payload, p + 4) == "mdat")
          return java.util.Arrays.copyOfRange(payload, p + 8, (p + size).toInt)
        p = (p + size).toInt
      }
      payload
    } else aviMoviData(payload)
  }

  /** Image-codec essence recovered by a REAL container walk: PNG IDAT
    * chunk data (length-prefixed chunk iteration), JPEG entropy bytes
    * (marker-segment walk to the first non-segment byte, EOI stripped),
    * GIF data between the logical-screen descriptor and the 0x3B
    * trailer. Returns null for non-image/unsupported formats, empty for
    * well-formed containers with no data section. */
  def imageEssence(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    if (n >= 20 && payload.startsWith(PngMagic)) {
      var p = 8
      while (p + 8 <= n) {
        val len = u32be(payload, p)
        val typ = fourcc(payload, p + 4)
        if (typ == "IDAT")
          return java.util.Arrays.copyOfRange(payload, p + 8,
            math.min(n.toLong, p + 8 + len).toInt)
        if (typ == "IEND" || len > n) return Array.emptyByteArray
        p += 12 + len.toInt // length + type + data + crc
      }
      Array.emptyByteArray
    } else if (n >= 4 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) {
      var p = 2
      while (p + 4 <= n && (payload(p) & 0xff) == 0xff) {
        val m = payload(p + 1) & 0xff
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) p += 2
        else if (m == 0xd9) return Array.emptyByteArray
        else p += 2 + u16be(payload, p + 2)
      }
      if (p < n - 2) java.util.Arrays.copyOfRange(payload, p, n - 2)
      else Array.emptyByteArray
    } else if (n >= 14 && new String(payload, 0, 6, ISO_8859_1).matches("GIF8[79]a")) {
      java.util.Arrays.copyOfRange(payload, 13, n - 1)
    } else null
  }

  /** Verify every PNG chunk's stored CRC32 against a recomputation over
    * type+data — the ingest-time integrity gate that catches bit rot and
    * truncation before a corrupt sample reaches training. Structural
    * damage (bad lengths, missing IEND, trailing bytes) also fails. */
  def pngCrcOk(payload: Array[Byte]): Boolean = {
    val n = payload.length
    if (n < 20 || !payload.startsWith(PngMagic)) return false
    var p = 8
    while (p + 12 <= n) {
      val len = u32be(payload, p).toInt
      if (len < 0 || p + 12 + len > n) return false
      val stored = u32be(payload, p + 8 + len)
      val c = new java.util.zip.CRC32()
      c.update(payload, p + 4, 4 + len)
      if ((c.getValue & 0xffffffffL) != stored) return false
      val typ = fourcc(payload, p + 4)
      p += 12 + len
      if (typ == "IEND") return p == n
    }
    false
  }

  /** Deterministic single-bit corruption inside a synthesized PNG's IDAT
    * data (fixture-side damage injection for the integrity check). */
  def corruptOneByte(payload: Array[Byte]): Array[Byte] = {
    val out = payload.clone()
    val pos = math.min(out.length - 1, 41 + math.max(0, (out.length - 57) / 2))
    out(pos) = (out(pos) ^ 0x01).toByte
    out
  }

  /** 8×8 average hash over the first 64 essence bytes (unsigned): byte j
    * of the hash covers essence bytes 8j..8j+7 MSB-first, bit set iff the
    * byte exceeds the floor-mean of the 64. Lowercase hex; null when the
    * essence is too short — the aHash shape every perceptual-dedup
    * pipeline reduces to once frames are grayscale-resized to 8×8. */
  def aHash64(essence: Array[Byte]): String = {
    if (essence == null || essence.length < 64) return null
    var sum = 0L
    var i = 0
    while (i < 64) { sum += essence(i) & 0xff; i += 1 }
    val mean = sum / 64
    val out = new StringBuilder(16)
    var j = 0
    while (j < 8) {
      var b = 0
      var k = 0
      while (k < 8) {
        if ((essence(8 * j + k) & 0xff) > mean) b |= 1 << (7 - k)
        k += 1
      }
      out.append("%02x".format(b))
      j += 1
    }
    out.toString
  }

  /** EXIF orientation (tag 0x0112) from a JPEG APP1 segment; 0 when
    * absent/unparseable. Handles both II and MM byte orders. */
  def exifOrientation(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n < 4 || (payload(0) & 0xff) != 0xff || (payload(1) & 0xff) != 0xd8) return 0L
    var p = 2
    while (p + 4 <= n && (payload(p) & 0xff) == 0xff) {
      val m = payload(p + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) p += 2
      else {
        val seglen = u16be(payload, p + 2)
        if (m == 0xe1 && p + 4 + 6 <= n &&
            new String(payload, p + 4, 4, ISO_8859_1) == "Exif") {
          val tiff = p + 10 // past "Exif\0\0"
          if (tiff + 8 > n) return 0L
          val le = payload(tiff) == 'I'
          def r16(i: Int) = if (le) u16le(payload, i) else u16be(payload, i)
          def r32(i: Int) = if (le) u32le(payload, i) else u32be(payload, i)
          val ifd = tiff + r32(tiff + 4).toInt
          if (ifd + 2 > n) return 0L
          val count = r16(ifd)
          var e = 0
          while (e < count && ifd + 2 + (e + 1) * 12 <= n) {
            val at = ifd + 2 + e * 12
            if (r16(at) == 0x0112) return r16(at + 8).toLong
            e += 1
          }
          return 0L
        } else if (m == 0xda) return 0L
        else p += 2 + seglen
      }
    }
    0L
  }

  /** Batch metadata extraction: one `mapPartitions` pass, constant memory
    * per partition, executor-local — scales to any number of partitions. */
  def extractMeta(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.as[(Long, String, Array[Byte])].mapPartitions { it =>
      it.map { case (id, tpe, payload) =>
        val (w, h, d) = decode(payload)
        MediaMeta(id, tpe, payload.length.toLong, w, h, d)
      }
    }
  }

  /** Signal features of one PCM audio payload — see [[audioFeatures]]. */
  final case class AudioStats(
      doc_id: Long, n_samples: Long, peak_dev: Long, n_crossings: Long, rms: Double)

  /** Real DSP over the WAV essence: walks the RIFF chunks to the `data`
    * chunk (same chunk walk [[decode]] does for duration) and computes
    * per-payload signal statistics from the actual 8-bit PCM bytes —
    * peak deviation and RMS energy around the 128 midpoint, and midline
    * crossings (the classic zero-crossing-rate voicing feature). All
    * integer sums + one exactly-rounded divide/sqrt, so the result is
    * bit-identical to the oracle's formula replay. Non-WAV payloads
    * yield no row (the dispatch a mixed-modality pipeline would do by
    * [[codecOf]]). */
  def audioFeatures(spark: SparkSession, media: DataFrame): Dataset[AudioStats] = {
    import spark.implicits._
    media.as[(Long, String, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (id, _, payload) =>
        if (codecOf(payload) != "wav") None
        else {
          val n = payload.length
          // RIFF chunk walk to the data chunk (offset + length)
          var p = 12
          var dataOff = -1
          var dataLen = 0L
          while (p >= 0 && p + 8 <= n && dataOff < 0) {
            val cid = fourcc(payload, p)
            val clen = u32le(payload, p + 4)
            if (cid == "data") { dataOff = p + 8; dataLen = clen }
            else if (clen > n) p = -1 // lying chunk length: stop the walk
            else p += 8 + clen.toInt + (clen.toInt & 1)
          }
          if (dataOff < 0) None
          else {
            val end = math.min(n.toLong, dataOff + dataLen).toInt
            var i = dataOff
            var sumSq = 0L
            var peak = 0L
            var crossings = 0L
            var prevHigh = false
            while (i < end) {
              val dev = (payload(i) & 0xff) - 128
              sumSq += dev.toLong * dev
              if (math.abs(dev) > peak) peak = math.abs(dev)
              val high = dev >= 0
              if (i > dataOff && high != prevHigh) crossings += 1
              prevHigh = high
              i += 1
            }
            val cnt = (end - dataOff).toLong
            if (cnt == 0) None
            else Some(AudioStats(id, cnt, peak, crossings,
              math.sqrt(sumSq.toDouble / cnt.toDouble)))
          }
        }
      }
    }
  }

  /** Banded audio fingerprint of one WAV payload — see
    * [[audioFingerprints]]. `b0..b3` are the 16-bit band keys; `fp` is
    * their 8-byte hex concatenation. */
  final case class AudioFp(
      doc_id: Long, fp: String, b0: Long, b1: Long, b2: Long, b3: Long)

  /** RIFF chunk walk to the `data` chunk: (first sample offset, end
    * offset clamped to the payload) — the same walk [[audioFeatures]]
    * and [[decode]] do. */
  private def wavDataSpan(payload: Array[Byte]): Option[(Int, Int)] = {
    val n = payload.length
    var p = 12
    while (p >= 0 && p + 8 <= n) {
      val cid = fourcc(payload, p)
      val clen = u32le(payload, p + 4)
      if (cid == "data")
        return Some((p + 8, math.min(n.toLong, p + 8 + clen).toInt))
      else if (clen > n) p = -1 // lying chunk length: stop the walk
      else p += 8 + clen.toInt + (clen.toInt & 1)
    }
    None
  }

  /** Banded ENERGY fingerprint over the real WAV PCM — the audio leg of
    * the near-dup ladder (the image leg is pHash): the sample stream
    * splits into 4 equal TIME bands, and each band contributes its
    * energy (the sum of squared midline deviations over the actual
    * 8-bit samples) reduced to a 16-bit key; the fingerprint is the 4
    * keys' 8-byte hex concatenation. Two payloads whose fingerprints
    * differ in ≤ 3 BITS leave at least one 16-bit band intact
    * (pigeonhole), so the band equi-join in mm_audio_fingerprint is
    * EXACT — the mm_phash_neardup argument applied to audio. Payloads
    * shorter than 4 samples (or non-WAV) yield no row. One
    * mapPartitions pass, integer arithmetic only — bit-identical to the
    * oracle's generation-formula replay. */
  def audioFingerprints(spark: SparkSession, media: DataFrame): Dataset[AudioFp] = {
    import spark.implicits._
    media.as[(Long, String, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (id, _, payload) =>
        if (codecOf(payload) != "wav") None
        else wavDataSpan(payload).flatMap { case (dataOff, end) =>
          val cnt = end - dataOff
          if (cnt < 4) None
          else {
            val bands = new Array[Long](4)
            var k = 0
            while (k < 4) {
              val from = dataOff + (cnt.toLong * k / 4).toInt
              val to = dataOff + (cnt.toLong * (k + 1) / 4).toInt
              var sumSq = 0L
              var i = from
              while (i < to) {
                val dev = (payload(i) & 0xff) - 128
                sumSq += dev.toLong * dev
                i += 1
              }
              bands(k) = sumSq % 65536L
              k += 1
            }
            Some(AudioFp(id, bands.map(b => f"$b%04x").mkString,
              bands(0), bands(1), bands(2), bands(3)))
          }
        }
      }
    }
  }

  /** Banded video signature — see [[videoSignatures]]. `b0..b3` are the
    * 16-bit band keys. */
  final case class VideoFp(doc_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

  /** Banded signature over the real video ESSENCE (AVI movi / MP4 mdat
    * contents via [[essenceOf]]) — the video leg of the near-dup ladder,
    * the same 4-band/16-bit design as the audio fingerprint: the essence
    * byte stream splits into 4 equal bands whose byte sums reduce to
    * 16-bit keys. On real decoders the band values would come from
    * per-frame perceptual hashes (the [[sampleFrames]] caveat); the band
    * partition, packing, pigeonhole argument and serving plumbing are
    * identical either way, and the synthetic essence keeps the operator
    * oracle-checkable byte-for-byte. Essences shorter than 4 bytes (or
    * non-video rows) yield no row. */
  def videoSignatures(spark: SparkSession, media: DataFrame): Dataset[VideoFp] = {
    import spark.implicits._
    media.filter(col("media_type") === "video")
      .as[(Long, String, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (id, _, payload) =>
          val e = essenceOf(payload)
          if (e.length < 4) None
          else {
            val bands = new Array[Long](4)
            var k = 0
            while (k < 4) {
              val from = (e.length.toLong * k / 4).toInt
              val to = (e.length.toLong * (k + 1) / 4).toInt
              var sum = 0L
              var i = from
              while (i < to) { sum += (e(i) & 0xff); i += 1 }
              bands(k) = sum % 65536L
              k += 1
            }
            Some(VideoFp(id, bands(0), bands(1), bands(2), bands(3)))
          }
        }
      }
  }

  final case class FrameSample(doc_id: Long, frame_idx: Long, ts_ms: Long, frame_md5: String)

  /** Frame sampling over video rows: the 1→N shape of a real
    * video-to-training-frames pipeline — per-partition batch iteration,
    * lazy flatMap (no per-video frame buffer), 1-4 frames spread evenly
    * across the container-declared duration. The duration and the stream
    * essence both come from REAL AVI parsing ([[decode]] /
    * [[aviMoviData]]); the frame fingerprint md5(essence ++ ":idx")
    * stands in for the decoded frame tensor (no video codec library in
    * this container) and keeps the operator oracle-checkable. */
  def sampleFrames(spark: SparkSession, media: DataFrame): Dataset[FrameSample] = {
    import spark.implicits._
    media.filter(col("media_type") === "video")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, _, payload) =>
          val (_, _, dur) = decode(payload)
          val essence = essenceOf(payload)
          val n = 1 + dur % 4
          val md = MessageDigest.getInstance("MD5")
          (0L until n).iterator.map { i =>
            md.reset()
            md.update(essence)
            md.update(s":$i".getBytes(UTF_8))
            val hex = md.digest().map("%02x".format(_)).mkString
            FrameSample(id, i, i * (dur / n), hex)
          }
        }
      }
  }
}
