package graft.pcap

import java.io.DataInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.util.SerializableConfiguration

/** Driver-side record-boundary index pass for intra-file parallelism
  * (SURVEY §7.3): pcap records are self-delimiting (16-byte header carries
  * `incl_len`), so one sequential sweep over the record HEADERS (payloads
  * are skipped) yields exact split points — (byte offset, first frame
  * number) pairs — that partition a single huge capture across executors.
  *
  * The reference cannot do this at all (single tshark pipe, single thread,
  * reference `src/wireduck_extension.cpp:464-465`).
  *
  * Caveat (documented in PcapDataSource): conversation-derived fields
  * (`tcp.stream`, relative seq/ack, scaled windows) reset at split
  * boundaries; splits are for frame/ip/udp-level analytics at scale.
  * Frame numbering stays globally correct via `firstNumber`.
  */
object PcapIndex {

  final case class Split(offset: Long, length: Long, firstNumber: Long)

  /** Parallel (executor-side) split computation — removes the driver's
    * full-file sequential sweep for multi-GB captures (VERDICT r1 item 9).
    *
    * The file is cut into byte ranges with NO I/O; each range is shipped to
    * an executor which (a) resyncs to the first true record boundary at or
    * after its range start — pcap record headers carry no magic, so a
    * candidate offset is accepted only when a chain of 8 successive headers
    * parses with plausible timestamp/length bounds — and (b) seek-counts
    * records to the first boundary past its range end. The driver then
    * stitches ranges with a prefix sum for exact global frame numbers and
    * cross-checks that each range's end boundary equals the next range's
    * sync point; any mismatch (pathological payload bytes that fooled the
    * chain check) falls back to the sequential driver sweep, so resync mode
    * is never less correct — only faster to plan.
    *
    * Driver I/O: 40 bytes (global header + first record header). */
  def resyncSplits(
      file: String,
      targetBytes: Long,
      conf: Configuration,
      spark: org.apache.spark.sql.SparkSession): Seq[Split] = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val fileLen = fs.getFileStatus(path).getLen
    if (fileLen <= 24 + targetBytes) return splits(file, targetBytes, conf)
    val in = fs.open(path)
    val head = new Array[Byte](40)
    try in.readFully(0L, head, 0, math.min(40, fileLen).toInt) finally in.close()
    val magic = ((head(0) & 0xff) << 24) | ((head(1) & 0xff) << 16) |
      ((head(2) & 0xff) << 8) | (head(3) & 0xff)
    val classicMagics = Map(
      PcapFormat.MagicLeMicro -> (true, false), PcapFormat.MagicBeMicro -> (false, false),
      PcapFormat.MagicLeNano -> (true, true), PcapFormat.MagicBeNano -> (false, true))
    classicMagics.get(magic) match {
      case None => Seq(Split(24L, Long.MaxValue, 1L)) // pcapng/gzip: whole file
      case Some((le, nanos)) =>
        def u32(o: Int): Long =
          if (le) ((head(o + 3) & 0xffL) << 24) | ((head(o + 2) & 0xffL) << 16) |
            ((head(o + 1) & 0xffL) << 8) | (head(o) & 0xffL)
          else ((head(o) & 0xffL) << 24) | ((head(o + 1) & 0xffL) << 16) |
            ((head(o + 2) & 0xffL) << 8) | (head(o + 3) & 0xffL)
        val snaplen = { val s = u32(16); if (s > 0 && s < (1L << 26)) s else (1L << 26) }
        val firstSec = u32(24) // first record's ts_sec
        val fracMax = if (nanos) 1000000000L else 1000000L

        val nChunks = math.max(1, ((fileLen - 24) / targetBytes)).toInt
        val ranges = (0 until nChunks).map { k =>
          val start = 24L + k * targetBytes
          val end = if (k == nChunks - 1) fileLen else 24L + (k + 1) * targetBytes
          (k, start, end)
        }
        // ship the driver's Hadoop settings (s3a credentials, fs.defaultFS,
        // …) to the tasks — a bare `new Configuration()` there would only
        // see defaults and fail on any configured filesystem
        val shipped = new SerializableConfiguration(conf)
        val results = spark.sparkContext
          .parallelize(ranges, nChunks)
          .map { case (k, start, end) =>
            val p = new Path(file)
            val s = p.getFileSystem(shipped.value).open(p)
            try {
              val sync =
                if (k == 0) 24L
                else findBoundary(s, start, fileLen, le, snaplen, firstSec, fracMax)
              var pos = sync
              var cnt = 0L
              var bad = sync < 0
              if (!bad && pos < fileLen) {
                // sequential buffered header walk (a positioned read per
                // record would pay a syscall each — 25k+ per chunk)
                s.seek(sync)
                val din = new DataInputStream(new java.io.BufferedInputStream(s, 1 << 20))
                val rh = new Array[Byte](16)
                while (!bad && pos < end && pos + 16 <= fileLen) {
                  din.readFully(rh)
                  val incl = recU32(rh, 8, le)
                  if (incl > snaplen || pos + 16 + incl > fileLen) bad = true
                  else {
                    var toSkip = incl.toInt
                    while (toSkip > 0) toSkip -= din.skipBytes(toSkip)
                    pos += 16 + incl
                    cnt += 1
                  }
                }
              }
              (k, sync, pos, cnt, bad)
            } finally s.close()
          }
          .collect()
          .sortBy(_._1)

        // stitch + cross-check adjacent boundaries
        val consistent = !results.exists(_._5) &&
          results.sliding(2).forall {
            case Array((_, _, endPos, _, _), (_, sync, _, _, _)) => endPos == sync
            case _ => true
          }
        if (!consistent) {
          // safe fallback — but attributable: losing resync on a real
          // capture silently costs the whole planning speedup, so say why
          val noSync = results.filter(_._5).map(_._1)
          val mismatch = results.sliding(2).collect {
            case Array((k1, _, endPos, _, _), (k2, sync, _, _, _)) if endPos != sync =>
              s"chunk $k1 end=$endPos != chunk $k2 sync=$sync"
          }.toSeq
          val why =
            if (noSync.nonEmpty)
              s"no plausible record boundary in chunk(s) ${noSync.mkString(",")} " +
                "(timestamps outside the first-record plausibility window, e.g. " +
                "backward clock jumps or epoch-zero stamps, defeat the chain check)"
            else mismatch.mkString("; ")
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"resync split planning for $file fell back to the sequential driver sweep: $why")
          return splits(file, targetBytes, conf)
        }
        var firstNum = 1L
        results.map { case (_, sync, endPos, cnt, _) =>
          val sp = Split(sync, endPos - sync, firstNum)
          firstNum += cnt
          sp
        }.filter(_.length > 0).toSeq
    }
  }

  private def recU32(b: Array[Byte], o: Int, le: Boolean): Long =
    if (le) ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
      ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
    else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** First offset ≥ `from` where a chain of 8 record headers parses with
    * plausible bounds; -1 when none found within snaplen+16 bytes (a true
    * boundary must occur in that window — one maximal record). The scan
    * window grows incrementally (64 KB → 4 MB → snaplen+32): boundaries
    * are almost always within the first couple of KB, and eagerly reading
    * a snaplen-sized window (up to 64 MB for "unlimited"-snaplen captures)
    * per chunk would amplify planning I/O past the sweep it replaces. */
  private def findBoundary(
      in: org.apache.hadoop.fs.FSDataInputStream,
      from: Long, fileLen: Long, le: Boolean,
      snaplen: Long, firstSec: Long, fracMax: Long): Long = {
    val maxWindow = math.min(snaplen + 32, fileLen - from).toInt
    var window = math.min(64 * 1024, maxWindow)
    var r = scanWindow(in, from, fileLen, le, snaplen, firstSec, fracMax, window)
    while (r < 0 && window < maxWindow) {
      window = math.min(math.max(window * 64, 4 * 1024 * 1024), maxWindow)
      r = scanWindow(in, from, fileLen, le, snaplen, firstSec, fracMax, window)
    }
    r
  }

  private def scanWindow(
      in: org.apache.hadoop.fs.FSDataInputStream,
      from: Long, fileLen: Long, le: Boolean,
      snaplen: Long, firstSec: Long, fracMax: Long, window: Int): Long = {
    if (window < 16) return fileLen
    val buf = new Array[Byte](window)
    in.readFully(from, buf, 0, window)
    val maxSec = firstSec + 630720000L // +20 years
    val minSec = firstSec - 86400L
    val rh = new Array[Byte](16)
    var o = 0
    while (o < window - 16) {
      // chain-validate up to 8 records from candidate offset
      var pos = from + o
      var depth = 0
      var ok = true
      while (ok && depth < 8 && pos + 16 <= fileLen) {
        if (pos - from + 16 <= window) System.arraycopy(buf, (pos - from).toInt, rh, 0, 16)
        else in.readFully(pos, rh, 0, 16)
        val sec = recU32(rh, 0, le)
        val frac = recU32(rh, 4, le)
        val incl = recU32(rh, 8, le)
        val orig = recU32(rh, 12, le)
        if (sec < minSec || sec > maxSec || frac >= fracMax ||
          incl > snaplen || orig < incl || orig > (1L << 26) ||
          pos + 16 + incl > fileLen) ok = false
        else { pos += 16 + incl; depth += 1 }
      }
      // chain truncated by EOF counts as valid if at least one record parsed
      if (ok && depth > 0) return from + o
      o += 1
    }
    -1L
  }

  def splits(file: String, targetBytes: Long, conf: Configuration): Seq[Split] = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val fileLen = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      // pcapng / gzip / anything non-classic: no record-boundary splits —
      // the reader falls back to a whole-file scan
      val probe = new Array[Byte](4)
      in.readFully(probe)
      in.seek(0)
      val magic = ((probe(0) & 0xff) << 24) | ((probe(1) & 0xff) << 16) |
        ((probe(2) & 0xff) << 8) | (probe(3) & 0xff)
      val classicMagics = Set(PcapFormat.MagicLeMicro, PcapFormat.MagicBeMicro,
        PcapFormat.MagicLeNano, PcapFormat.MagicBeNano)
      if (!classicMagics.contains(magic))
        return Seq(Split(24L, Long.MaxValue, 1L))
      val din = new DataInputStream(new java.io.BufferedInputStream(in, 1 << 16))
      val header = PcapFormat.readHeader(din)
      val le = header.littleEndian
      val out = Seq.newBuilder[Split]
      var splitStart = 24L
      var splitFirstNum = 1L
      var pos = 24L
      var n = 0L
      val rh = new Array[Byte](16)
      var eof = false
      while (!eof) {
        var read = 0
        while (read < 16 && !eof) {
          val r = din.read(rh, read, 16 - read)
          if (r < 0) eof = true else read += r
        }
        if (!eof && read == 16) {
          val incl = (if (le)
            ((rh(11) & 0xffL) << 24) | ((rh(10) & 0xff) << 16) | ((rh(9) & 0xff) << 8) | (rh(8) & 0xff)
          else
            ((rh(8) & 0xffL) << 24) | ((rh(9) & 0xff) << 16) | ((rh(10) & 0xff) << 8) | (rh(11) & 0xff)).toInt
          if (incl < 0 || pos + 16 + incl > fileLen) eof = true
          else {
            din.skipBytes(incl)
            pos += 16 + incl
            n += 1
            if (pos - splitStart >= targetBytes) {
              out += Split(splitStart, pos - splitStart, splitFirstNum)
              splitStart = pos
              splitFirstNum = n + 1
            }
          }
        }
      }
      if (pos > splitStart) out += Split(splitStart, pos - splitStart, splitFirstNum)
      out.result()
    } finally in.close()
  }
}
