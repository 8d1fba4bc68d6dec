package graft.pcap

import java.io.{DataInputStream, EOFException, InputStream}

/** Classic libpcap container framing.
  *
  * Reference behavior being re-expressed (not copied): wireduck delegates
  * framing to tshark (`src/wireduck_extension.cpp:108-129`); we parse the
  * container natively so the scan needs no child process and can run on any
  * Hadoop-compatible stream. All four magics are supported (LE/BE ×
  * microsecond/nanosecond), matching libpcap/Wireshark public docs; the
  * reference inherits the same via tshark (SURVEY §1.1 A1, FIXTURES §4).
  *
  * Record framing is self-delimiting (16-byte header carrying `incl_len`),
  * which is what makes intra-file splits possible at scale (SURVEY §7.3).
  */
object PcapFormat {

  final case class Header(
      littleEndian: Boolean,
      nanos: Boolean,
      versionMajor: Int,
      versionMinor: Int,
      snaplen: Long,
      linktype: Int)

  /** One captured packet. `tsMicros` is epoch microseconds (nanos input is
    * truncated, matching DuckDB/tshark display precision); `tsNanos` keeps
    * the full epoch-nanosecond stamp for ns-magic captures so a rewrite
    * can be lossless (-1 = source had no sub-µs precision — derive as
    * `tsMicros * 1000`). `linktype` is per-record for pcapng
    * multi-interface captures; -1 = use the file header's linktype
    * (classic pcap). */
  final case class Record(
      number: Long,
      tsMicros: Long,
      inclLen: Int,
      origLen: Int,
      data: Array[Byte],
      linktype: Int = -1,
      tsNanos: Long = -1L) {
    def epochNanos: Long = if (tsNanos >= 0) tsNanos else tsMicros * 1000L
  }

  val MagicLeMicro = 0xd4c3b2a1 // file bytes d4 c3 b2 a1 read big-endian
  val MagicBeMicro = 0xa1b2c3d4
  val MagicLeNano = 0x4d3cb2a1
  val MagicBeNano = 0xa1b23c4d

  private def u16(b0: Int, b1: Int, le: Boolean): Int =
    if (le) (b1 << 8) | b0 else (b0 << 8) | b1

  private def u32(b: Array[Byte], off: Int, le: Boolean): Long = {
    val (a0, a1, a2, a3) =
      (b(off) & 0xff, b(off + 1) & 0xff, b(off + 2) & 0xff, b(off + 3) & 0xff)
    if (le) ((a3.toLong << 24) | (a2 << 16) | (a1 << 8) | a0) & 0xffffffffL
    else ((a0.toLong << 24) | (a1 << 16) | (a2 << 8) | a3) & 0xffffffffL
  }

  def readHeader(in: DataInputStream): Header = {
    val h = new Array[Byte](24)
    in.readFully(h)
    val magic = ((h(0) & 0xff) << 24) | ((h(1) & 0xff) << 16) | ((h(2) & 0xff) << 8) | (h(3) & 0xff)
    val (le, nanos) = magic match {
      case MagicLeMicro => (true, false)
      case MagicBeMicro => (false, false)
      case MagicLeNano  => (true, true)
      case MagicBeNano  => (false, true)
      case other =>
        throw new IllegalArgumentException(f"not a classic pcap file (magic 0x$other%08x)")
    }
    Header(
      littleEndian = le,
      nanos = nanos,
      versionMajor = u16(h(4) & 0xff, h(5) & 0xff, le),
      versionMinor = u16(h(6) & 0xff, h(7) & 0xff, le),
      snaplen = u32(h, 16, le),
      linktype = u32(h, 20, le).toInt)
  }

  /** Streaming record iterator. A truncated trailing record is dropped
    * silently (FIXTURES §4) — capture files are routinely cut mid-write. */
  def records(in: InputStream, maxPackets: Long = Long.MaxValue): Iterator[Record] = {
    val din = new DataInputStream(in)
    val header = readHeader(din)
    recordsAfterHeader(din, header, maxPackets, firstNumber = 1L)
  }

  /** Longest record the buffer pool keeps a buffer for. */
  final val PoolMaxLen = 65536
  /** Most bytes one reader's buffer pool holds: every length of a
    * 1,514-byte-MTU capture fits (about 1.1 MB); a capture with every
    * length up to [[PoolMaxLen]] would otherwise pin about 2 GB. */
  final val PoolBytes = 4L << 20

  /** A record iterator; `pooledBytes` is what its buffer pool holds. */
  abstract class Records extends Iterator[Record] {
    def pooledBytes: Long
  }

  /** @param maxBytes stop after consuming this many record bytes (16-byte
    *                  header + payload each) — the intra-file split bound
    * @param reuseBuffers reuse payload arrays (keyed by exact length) across
    *                  records — each Record's data is valid only until the
    *                  NEXT hasNext/next call, so this is safe solely for
    *                  consume-immediately loops (the PartitionReader); any
    *                  caller that retains Records (toList, buffering specs)
    *                  must keep the default */
  def recordsAfterHeader(
      din: DataInputStream,
      header: Header,
      maxPackets: Long,
      firstNumber: Long,
      maxBytes: Long = Long.MaxValue,
      reuseBuffers: Boolean = false): Records =
    new Records {
      private var nextRec: Record = _
      private var done = false
      private var advanced = false
      private var n = firstNumber - 1
      private var consumed = 0L
      private val rh = new Array[Byte](16)
      // exact-length buffer pool, indexed by length: captures carry few
      // distinct frame sizes (MTU-ful + a handful of control sizes), so
      // this removes nearly every per-packet payload allocation without
      // length ambiguity (Record.data.length stays authoritative for the
      // dissector); past PoolBytes, new lengths allocate per record
      private val pool = if (reuseBuffers) new Array[Array[Byte]](PoolMaxLen + 1) else null
      var pooledBytes = 0L

      private def advance(): Unit = {
        advanced = true
        if (n - firstNumber + 1 >= maxPackets || consumed >= maxBytes) { done = true; return }
        var read = 0
        try {
          while (read < 16) {
            val r = din.read(rh, read, 16 - read)
            if (r < 0) {
              if (read == 0) { done = true; return }
              else { done = true; return } // truncated header → drop
            }
            read += r
          }
        } catch { case _: EOFException => done = true; return }
        val le = header.littleEndian
        val sec = u32(rh, 0, le)
        val frac = u32(rh, 4, le)
        val incl = u32(rh, 8, le).toInt
        val orig = u32(rh, 12, le).toInt
        if (incl < 0 || incl > 256 * 1024 * 1024) { done = true; return }
        val data =
          if (pool != null && incl <= PoolMaxLen) {
            var b = pool(incl)
            if (b == null) {
              b = new Array[Byte](incl)
              if (pooledBytes + incl <= PoolBytes) { pool(incl) = b; pooledBytes += incl }
            }
            b
          } else new Array[Byte](incl)
        try din.readFully(data)
        catch { case _: EOFException => done = true; return } // truncated body → drop
        val micros =
          if (header.nanos) sec * 1000000L + frac / 1000L
          else sec * 1000000L + frac
        n += 1
        consumed += 16L + incl
        nextRec = Record(n, micros, incl, orig, data,
          tsNanos = if (header.nanos) sec * 1000000000L + frac else micros * 1000L)
      }

      // lazy advance: the next record is read only when the caller asks,
      // so with reuseBuffers the current Record's bytes stay valid while
      // the caller processes it
      override def hasNext: Boolean = { if (!advanced) advance(); !done }
      override def next(): Record = {
        if (!advanced) advance()
        advanced = false
        nextRec
      }
    }
}
