package graft.sources.pcap

import java.io.DataInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.pcap.{Dissect, Glossary, PcapFormat}

/** Executor-side scan: stream the pcap file, dissect sequentially with
  * per-file conversation state, emit only the pruned columns.
  *
  * Unlike the reference — which `popen`s tshark during *bind/planning*
  * (reference `src/wireduck_extension.cpp:126`, flagged in SURVEY §2A
  * hazards) — all I/O starts here, at execution time, on the executor.
  */
final case class PcapReaderFactory(
    schema: StructType,
    compatStrict: Boolean,
    cfilter: Option[String],
    pushed: Array[Filter],
    backend: String,
    desegment: Boolean,
    hadoopConf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PcapInputPartition]
    if (backend == "tshark")
      new TsharkPartitionReader(p.file, p.maxPackets, schema, compatStrict, cfilter)
    else
      new PcapPartitionReader(p, schema, compatStrict, cfilter, pushed, desegment,
        hadoopConf.value.value)
  }
}

/** @param conf the scan's Hadoop conf; callers outside a scan get one with
  *   the Hadoop defaults, parsed once per JVM. */
final class PcapPartitionReader(
    partition: PcapInputPartition,
    schema: StructType,
    compatStrict: Boolean,
    cfilter: Option[String],
    pushed: Array[Filter],
    desegment: Boolean = false,
    conf: Configuration = PcapPartitionReader.defaultConf)
    extends PartitionReader[InternalRow] {

  private val path = new Path(partition.file)
  private val raw = path.getFileSystem(conf).open(path)
  private val gzipped = partition.file.endsWith(".gz")
  // zstd via Spark's bundled pure-Java aircompressor — no native lib
  private val zstded =
    partition.file.endsWith(".zst") || partition.file.endsWith(".zstd")
  private val compressed = gzipped || zstded

  private def buffered(in: java.io.InputStream) =
    new DataInputStream(new java.io.BufferedInputStream(
      if (gzipped) new java.util.zip.GZIPInputStream(in, 1 << 16)
      else if (zstded) new io.airlift.compress.zstd.ZstdInputStream(in)
      else in, 1 << 20))

  private val isPcapng = {
    val b = new Array[Byte](4)
    if (compressed) {
      val probe = buffered(raw)
      probe.readFully(b)
      raw.seek(0) // restart: a compressed stream can't rewind
    } else {
      raw.readFully(b)
      raw.seek(0)
    }
    (((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) | ((b(2) & 0xff) << 8) | (b(3) & 0xff)) ==
      graft.pcap.PcapngFormat.Magic
  }

  private val (records, defaultLinktype) =
    if (isPcapng) {
      // pcapng carries per-record linktype; splits don't apply (whole file)
      (graft.pcap.PcapngFormat.records(buffered(raw), partition.maxPackets), 1)
    } else if (compressed) {
      // gzip/zstd: sequential only — no seeks, no intra-file splits.
      // reuseBuffers: this reader consumes each Record into an InternalRow
      // before the next hasNext call, the buffer-reuse contract
      val din = buffered(raw)
      val h = PcapFormat.readHeader(din)
      (PcapFormat.recordsAfterHeader(din, h, partition.maxPackets, 1L,
        reuseBuffers = true), h.linktype)
    } else {
      // classic: global header at offset 0, then seek for split partitions
      val h = PcapFormat.readHeader(new DataInputStream(raw))
      if (partition.startOffset != 24L) raw.seek(partition.startOffset)
      val din = new DataInputStream(new java.io.BufferedInputStream(raw, 1 << 20))
      (PcapFormat.recordsAfterHeader(
        din, h, partition.maxPackets, partition.firstNumber, partition.byteLength,
        reuseBuffers = true),
        h.linktype)
    }
  // reuseBuffers: each Dissected is consumed into an InternalRow inside
  // next() before the following dissect call, so the pooled field array
  // is safe here and removes a ~1.3 KB allocation per packet
  private val tracker = new Dissect.Tracker(desegment, reuseBuffers = true)
  private val displayFilter = cfilter.map(DisplayFilter.parse)

  /** Demand-driven dissection: the fields the pruned schema, the pushed
    * filters and the cfilter read, once per scan. The dissector writes,
    * renders and descends only for those ([[Dissect.Wanted]]). */
  private val wanted = {
    val referenced = schema.fieldNames.toSet ++
      pushed.flatMap(_.references).map(PcapFilterEval.attrName) ++
      displayFilter.fold(Set.empty[String])(_.fields)
    val frameOnly = Set("frame.number", "frame.time_epoch", "frame.time_epoch_ns",
      "frame.len", "frame.cap_len", "frame.time_relative", "frame.time_delta", "frame.raw")
    val info = referenced.contains("_ws.col.info")
    Dissect.Wanted(
      info = info,
      // default TCP/UDP infos render as UTF-8 bytes into the tracker's
      // reused buffer (no java.lang.String); safe because the unsafe
      // projection copies the row out before the next dissect call
      infoBytes = info,
      layers = referenced.exists(r => !frameOnly.contains(r)),
      // frame-bytes searches (`http contains …`, `frame matches …`,
      // `frame[0:4] == …`) read the raw hex too
      raw = referenced.contains("frame.raw"),
      fields = Dissect.demandOf(referenced))
  }

  private val fieldNames = schema.fields.map(_.name)
  private val fieldTypes = schema.fields.map(_.dataType)
  // per-column source resolved ONCE: -1 = frame.protocols, -2 = info,
  // else the Dissect.FieldIds array index — per-row reads are array loads
  private val colIds: Array[Int] = fieldNames.map {
    case "frame.protocols" => -1
    case "_ws.col.info"    => -2
    case n                 => val id = Dissect.FieldIds.id(n); if (id < 0) -3 else id
  }
  private var current: InternalRow = _

  // The protocols chain repeats across almost every packet of a capture
  // ("eth:ethertype:ip:tcp:fix" × N): one UTF8String per interned chain
  // slot, rebuilt only when the slot's chain changes. UTF8String is
  // immutable, so sharing one instance across emitted rows is safe.
  private val chainStrs = new Array[String](Dissect.ChainSlots)
  private val chainU8s = new Array[UTF8String](Dissect.ChainSlots)
  private def chainUtf8(d: Dissect.Dissected): UTF8String = {
    val c = d.chain
    if (chainStrs(c) ne d.protocols) {
      chainU8s(c) = UTF8String.fromString(d.protocols)
      chainStrs(c) = d.protocols
    }
    chainU8s(c)
  }

  // Rendered-string byte-buffer reuse (the 5-col info hot path):
  // UTF8String.fromString allocates a fresh byte[] + runs the charset
  // encoder per value, once per ROW for `_ws.col.info`. ASCII renderings —
  // virtually all of them — encode byte-for-byte into a per-COLUMN
  // reusable buffer instead (per column, not one shared: several string
  // columns of the same row must stay live together). Safe because the
  // scan's downstream unsafe projection copies the bytes out before
  // next() overwrites the buffer — the same contract that lets readers
  // reuse the row object itself. Non-ASCII falls back to the allocating
  // path.
  private val strBufs = new Array[Array[Byte]](fieldNames.length)
  // Identity memo per column slot: dissectors return MAP-CONSTANT String
  // instances for the common renderings (FIX msg names, TCP flag combos),
  // and captures carry long runs of the same one ("ExecutionReport" is
  // 87% of a FIX capture). On the second consecutive `eq`-identical value
  // the slot pins ONE stable UTF8String and every further row in the run
  // returns it — no copy, no encode. Varying strings (the TCP default
  // info) miss the `eq` check and take the reused-buffer path below.
  private val lastStrs = new Array[String](fieldNames.length)
  private val lastU8s = new Array[UTF8String](fieldNames.length)
  private def reusedUtf8(i: Int, s: String): UTF8String = {
    if (s eq lastStrs(i)) {
      var u = lastU8s(i)
      if (u == null) { u = UTF8String.fromString(s); lastU8s(i) = u }
      return u
    }
    lastStrs(i) = s
    lastU8s(i) = null
    val n = s.length
    var buf = strBufs(i)
    if (buf == null || buf.length < n) {
      buf = new Array[Byte](math.max(64, java.lang.Integer.highestOneBit(n) * 2))
      strBufs(i) = buf
    }
    var j = 0
    while (j < n) {
      val c = s.charAt(j)
      if (c >= 0x80) return UTF8String.fromString(s) // non-ASCII: allocate
      buf(j) = c.toByte
      j += 1
    }
    UTF8String.fromBytes(buf, 0, n)
  }

  // One mutable row reused for every emitted record: SpecificInternalRow
  // holds typed mutable slots, so Long/Boolean/Double columns are written
  // as primitives — no per-row GenericInternalRow allocation and no
  // java.lang.Long boxing between the dissector's primitive field slots
  // and Tungsten. Safe under the same contract as the string buffers
  // above: the downstream unsafe projection copies the row out before
  // next() mutates it again.
  private val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
    fieldTypes.toSeq)
  private val typeTags: Array[Int] = fieldTypes.map {
    case TimestampType => 0
    case StringType    => 1
    case LongType      => 2
    case DoubleType    => 3
    case BooleanType   => 4
    case _             => 5
  }

  /** tshark type semantics at the cell level (SURVEY §1.2): values are
    * already typed by the dissector (kind tags gate each primitive slot);
    * timestamps are epoch micros, with the reference's whole-second
    * truncation in compat=strict mode. */
  private def fill(d: Dissect.Dissected): Unit = {
    val vec = d.vec
    var i = 0
    while (i < fieldNames.length) {
      colIds(i) match {
        case -1 => row.update(i, chainUtf8(d))
        case -2 =>
          // bytes-only hot path: the dissector rendered straight into its
          // reused UTF-8 buffer — wrap it, zero String/encoder work
          if (d.infoBytes != null)
            row.update(i, UTF8String.fromBytes(d.infoBytes, 0, d.infoLen))
          else {
            val s = d.info
            if (s == null) row.setNullAt(i) else row.update(i, reusedUtf8(i, s))
          }
        case -3 => row.setNullAt(i) // not a glossary field
        case id =>
          val k = vec.kinds(id)
          if (k == 0) row.setNullAt(i)
          else (typeTags(i): @annotation.switch) match {
            case 0 =>
              if (k == 2) {
                val micros = vec.longs(id)
                row.setLong(i,
                  if (compatStrict) (micros / 1000000L) * 1000000L else micros)
              } else row.setNullAt(i)
            case 1 =>
              // kind 5: rendered UTF-8 in the vector's reused slot, wrapped
              // under the same copy-before-next contract as the info bytes
              if (k == 5) row.update(i, UTF8String.fromBytes(vec.bytes(id), 0, vec.byteLens(id)))
              else {
                val s = if (k == 1) vec.objs(id).toString else vec.valueAt(id).toString
                row.update(i, reusedUtf8(i, s))
              }
            case 2 =>
              if (k == 2) row.setLong(i, vec.longs(id)) else row.setNullAt(i)
            case 3 =>
              if (k == 4)
                row.setDouble(i, java.lang.Double.longBitsToDouble(vec.longs(id)))
              else row.setNullAt(i)
            case 4 =>
              if (k == 3) row.setBoolean(i, vec.longs(id) != 0L)
              else row.setNullAt(i)
            case _ => row.setNullAt(i)
          }
      }
      i += 1
    }
  }

  override def next(): Boolean = {
    while (records.hasNext) {
      val rec = records.next()
      val lt = if (rec.linktype >= 0) rec.linktype else defaultLinktype
      val d = Dissect.dissect(rec, lt, tracker, wanted)
      val passesDisplay = displayFilter.forall(_.eval(d))
      val passesPushed = pushed.forall(f => PcapFilterEval.eval(f, d, compatStrict))
      if (passesDisplay && passesPushed) {
        fill(d)
        current = row
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = raw.close()
}

object PcapPartitionReader {
  lazy val defaultConf: Configuration = new Configuration()
}

/** Catalyst v1 Filter evaluation against a dissected packet — the subset
  * the scan can evaluate early (rows are also re-checked by Spark above the
  * scan, so this only needs to be sound, never complete). */
object PcapFilterEval {
  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
        _: LessThan | _: LessThanOrEqual | _: IsNotNull | _: IsNull => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r)  => supported(l) && supported(r)
    case _         => false
  }

  /** Dotted field names (`frame.time_epoch`) arrive backtick-quoted in
    * pushed v1 Filters (Catalyst quotes them so they aren't read as nested
    * struct access) — unquote before the dissected-value lookup. */
  private[pcap] def attrName(a: String): String =
    if (a.length >= 2 && a.head == '`' && a.last == '`')
      a.substring(1, a.length - 1).replace("``", "`")
    else a

  private def value(attr: String, d: Dissect.Dissected): Any =
    DisplayFilter.fieldValue(d, attrName(attr))

  /** Timestamp columns dissect to epoch micros (Long); Spark pushes their
    * literals as java.sql.Timestamp (or java.time.Instant under the java8
    * datetime API). Convert to micros, and truncate the dissected value to
    * whole seconds first in compat=strict mode so the comparison sees the
    * same value the scan will emit (reference truncation, SURVEY §1.2).
    * Unknown type pairs yield None and the row is KEPT — Spark re-applies
    * the full predicate above the scan, so the reader only needs soundness.
    */
  private def cmp(a: Any, b: Any, compatStrict: Boolean): Option[Int] = {
    def strictMicros(x: Long): Long = if (compatStrict) (x / 1000000L) * 1000000L else x
    (a, b) match {
      case (x: Long, y: java.sql.Timestamp) =>
        Some(java.lang.Long.compare(strictMicros(x),
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(y)))
      case (x: Long, y: java.time.Instant) =>
        Some(java.lang.Long.compare(strictMicros(x),
          org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(y)))
      case (x: Long, y: Number)    => Some(java.lang.Long.compare(x, y.longValue()))
      case (x: Double, y: Number)  => Some(java.lang.Double.compare(x, y.doubleValue()))
      case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
      case (x: String, y: String)  => Some(x.compareTo(y))
      case (x: String, y: UTF8String) => Some(x.compareTo(y.toString))
      case _                       => None
    }
  }

  def eval(f: Filter, d: Dissect.Dissected, compatStrict: Boolean): Boolean = f match {
    // cmp(..).forall: an incomparable pair keeps the row (Spark re-filters);
    // a null dissected value drops it (SQL three-valued logic → not true).
    case EqualTo(a, v) =>
      val x = value(a, d); x != null && cmp(x, v, compatStrict).forall(_ == 0)
    case GreaterThan(a, v)        => val x = value(a, d); x != null && cmp(x, v, compatStrict).forall(_ > 0)
    case GreaterThanOrEqual(a, v) => val x = value(a, d); x != null && cmp(x, v, compatStrict).forall(_ >= 0)
    case LessThan(a, v)           => val x = value(a, d); x != null && cmp(x, v, compatStrict).forall(_ < 0)
    case LessThanOrEqual(a, v)    => val x = value(a, d); x != null && cmp(x, v, compatStrict).forall(_ <= 0)
    case IsNotNull(a)             => value(a, d) != null
    case IsNull(a)                => value(a, d) == null
    case And(l, r)                => eval(l, d, compatStrict) && eval(r, d, compatStrict)
    case Or(l, r)                 => eval(l, d, compatStrict) || eval(r, d, compatStrict)
    case _                        => true // unknown: keep the row, Spark re-filters
  }
}

/** Minimal Wireshark display-filter subset for the `cfilter` option
  * (reference A4 forwards the string to `tshark -Y`; natively we support
  * the common shapes: protocol presence, field/literal comparisons,
  * `contains`, `matches`/`~`, byte-slice comparisons (byte-string equality
  * plus the full relational set against numeric literals, the slice read
  * as a big-endian unsigned integer), `upper()`/`lower()` case folding,
  * `&&`, `||`, `!`, parentheses).
  *
  * Byte-search semantics (`contains`/`matches`/slices): a FIELD target
  * (name with a dot) operates on the field's bytes — the raw bytes for
  * hex-rendered fields (payloads, addresses), UTF-8 of the rendering
  * otherwise. A PROTOCOL target (no dot, e.g. `http`) follows Wireshark's
  * layer-bytes semantics approximately: presence of the protocol gated on
  * a search of the whole frame's bytes (`frame` searches unconditionally);
  * the per-layer byte ranges tshark uses are not tracked by the native
  * dissector. `matches` is case-insensitive find-anywhere, as in Wireshark.
  */
object DisplayFilter {
  /** Fields dissected as comma-joined "src,dst" multi-occurrence values. */
  val multiValueFields: Set[String] = Set("ip.addr", "ipv6.addr")

  sealed trait Expr {
    def eval(d: Dissect.Dissected): Boolean

    /** The fields evaluation reads: the scan demands them from the
      * dissector. A protocol target reads the chain and the whole frame's
      * bytes (`frame.raw`). */
    def fields: Set[String]
  }

  /** What a byte search or slice on `target` reads (see [[subjectHex]]). */
  private def subjectFields(target: String): Set[String] =
    if (target.contains('.')) Set(target)
    else if (target == "frame") Set("frame.raw")
    else Set(target, "frame.protocols", "frame.raw")

  /** A field's dissected value: the protocol chain, the info column, or
    * else the field's value (null when absent). Pushed filters read
    * through it too ([[PcapFilterEval]]). */
  private[pcap] def fieldValue(d: Dissect.Dissected, field: String): Any = field match {
    case "frame.protocols" => d.protocols
    case "_ws.col.info"    => d.info
    case n                 => d.values.getOrElse(n, null)
  }

  private val bytePairs = "\\A[0-9a-fA-F]{2}([:.\\-][0-9a-fA-F]{2})*\\z".r

  /** Canonical lowercase separator-free hex of a literal token: quoted →
    * UTF-8 bytes; `aa:bb` / `aa.bb` / `aa-bb` byte forms → the pairs;
    * other bare tokens → UTF-8 bytes (Wireshark's unquoted-string case). */
  private def litHex(tok: String): String = {
    val unq = if (tok.length >= 2 && tok.head == '"' && tok.last == '"')
      Some(tok.substring(1, tok.length - 1)) else None
    unq match {
      case Some(s) => utf8Hex(s)
      case None if bytePairs.matches(tok) =>
        tok.toLowerCase.filter(c => c != ':' && c != '.' && c != '-')
      case None => utf8Hex(tok)
    }
  }

  private def utf8Hex(s: String): String = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  /** Canonical hex of a field's rendering: hex-pair renderings (payload
    * hex, mac/byte fields) keep their byte values; anything else is its
    * UTF-8 bytes. */
  private def valueHex(v: String): String =
    if (bytePairs.matches(v)) v.toLowerCase.filter(c => c != ':' && c != '.' && c != '-')
    else utf8Hex(v)

  /** Frame bytes as canonical hex, or null when not materialized. */
  private def frameHex(d: Dissect.Dissected): String = {
    val raw = d.values.getOrElse("frame.raw", null)
    if (raw == null) null else raw.toString.filter(_ != ':')
  }

  /** Substring search in canonical hex constrained to byte boundaries. */
  private def hexContains(hay: String, needle: String): Boolean = {
    if (needle.isEmpty) return true
    var idx = hay.indexOf(needle)
    while (idx >= 0 && (idx & 1) == 1) idx = hay.indexOf(needle, idx + 1)
    idx >= 0
  }

  /** Target resolution shared by contains/matches/slice: field targets →
    * the field's canonical hex; `frame`/protocol targets → frame hex
    * (null when the protocol is absent or bytes unavailable). */
  private def subjectHex(d: Dissect.Dissected, target: String): String =
    if (target.contains('.')) {
      val v = fieldValue(d, target)
      if (v == null) null else valueHex(v.toString)
    } else if (target == "frame") frameHex(d)
    else if (present(d, target)) frameHex(d)
    else null

  /** ASCII case transform applied byte-wise to canonical hex — Wireshark's
    * `upper()`/`lower()` on the subject bytes ('a'–'z' ↔ 'A'–'Z' only, so
    * non-text bytes pass through untouched). `xf`: ' ' none, 'U', 'L'. */
  private def caseHex(h: String, xf: Char): String = {
    if (xf == ' ' || h == null) return h
    val sb = new java.lang.StringBuilder(h.length)
    var i = 0
    while (i < h.length) {
      val b = Integer.parseInt(h.substring(i, i + 2), 16)
      val t =
        if (xf == 'U' && b >= 'a' && b <= 'z') b - 32
        else if (xf == 'L' && b >= 'A' && b <= 'Z') b + 32
        else b
      sb.append(f"$t%02x")
      i += 2
    }
    sb.toString
  }

  private def caseStr(v: String, xf: Char): String =
    if (xf == 'U') v.toUpperCase(java.util.Locale.ROOT)
    else if (xf == 'L') v.toLowerCase(java.util.Locale.ROOT)
    else v

  private def inChain(chain: String, p: String): Boolean = chain.split(':').contains(p)

  private def present(d: Dissect.Dissected, p: String): Boolean =
    inChain(d.protocols, p) || d.values.contains(p)

  /** [[present]], with the chain test memoised per chain slot and the field
    * id resolved once (a parsed filter belongs to one reader, so no two
    * threads share the memo). */
  private final case class ProtoPresent(p: String) extends Expr {
    def fields: Set[String] = Set(p, "frame.protocols")
    private val field = Dissect.FieldIds.id(p)
    private val chains = new Array[String](Dissect.ChainSlots)
    private val answers = new Array[Boolean](Dissect.ChainSlots)
    def eval(d: Dissect.Dissected): Boolean = {
      val c = d.chain
      if (chains(c) ne d.protocols) {
        answers(c) = inChain(d.protocols, p)
        chains(c) = d.protocols
      }
      answers(c) || (field >= 0 && d.vec.kinds(field) != 0)
    }
  }

  private final case class ContainsE(target: String, litH: String,
      xf: Char = ' ') extends Expr {
    def fields: Set[String] = subjectFields(target)
    def eval(d: Dissect.Dissected): Boolean = {
      val subject = caseHex(subjectHex(d, target), xf)
      subject != null && hexContains(subject, litH)
    }
  }

  private final case class MatchesE(target: String, p: java.util.regex.Pattern,
      xf: Char = ' ') extends Expr {
    def fields: Set[String] = subjectFields(target)
    def eval(d: Dissect.Dissected): Boolean = {
      val subject: String =
        if (target.contains('.')) {
          val v = fieldValue(d, target)
          if (v == null) return false
          caseStr(v.toString, xf)
        } else {
          val h = caseHex(subjectHex(d, target), xf)
          if (h == null) return false
          // frame/protocol bytes regex-searched as latin-1 text, tshark-like
          val b = new Array[Byte](h.length / 2)
          var i = 0
          while (i < b.length) {
            b(i) = Integer.parseInt(h.substring(i * 2, i * 2 + 2), 16).toByte
            i += 1
          }
          new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
        }
      p.matcher(subject).find()
    }
  }

  /** `target[slice] <op> literal` — `until == Int.MaxValue` means to-end;
    * out-of-range slices clamp (Wireshark yields the shorter run, which
    * then fails equality unless the literal shrank with it).
    *
    * Two literal forms: byte strings (`02:00:00`, quoted text) compare for
    * `==`/`!=` only (the pre-existing contract — relational byte-string
    * compares stay rejected at parse time); NUMERIC literals (`0x45`,
    * `327`) support the full operator set, comparing the slice's bytes as
    * a big-endian unsigned integer — `ip.ttl[0] >= 0x40`, the common
    * tshark idiom. A bare even-length hex run like `69` keeps its byte
    * interpretation for `==` (back-compat); write `0x69` or use a
    * relational op to force numeric. */
  private final case class SliceCmp(target: String, from: Int, until: Int,
      op: String, litH: String, num: Option[Long]) extends Expr {
    def fields: Set[String] = subjectFields(target)
    def eval(d: Dissect.Dissected): Boolean = {
      val subject = subjectHex(d, target)
      if (subject == null) return false
      val nBytes = subject.length / 2
      val lo = math.min(from, nBytes)
      val hi = math.min(until, nBytes)
      val slice = if (hi <= lo) "" else subject.substring(lo * 2, hi * 2)
      val r: Int = num match {
        case Some(n) =>
          // slices longer than 8 bytes have no integer meaning → no match
          if (slice.isEmpty || slice.length > 16) return false
          java.lang.Long.compareUnsigned(
            java.lang.Long.parseUnsignedLong(slice, 16), n)
        case None =>
          // canonical lowercase hex: string order == bytewise order
          slice.compareTo(litH)
      }
      op match {
        case "==" => r == 0
        case "!=" => r != 0
        case ">"  => r > 0
        case ">=" => r >= 0
        case "<"  => r < 0
        case "<=" => r <= 0
      }
    }
  }

  private final case class Cmp(field: String, op: String, lit: String,
      xf: Char = ' ') extends Expr {
    def fields: Set[String] = Set(field)
    def eval(d: Dissect.Dissected): Boolean = {
      val raw0: Any = fieldValue(d, field)
      if (raw0 == null) return false
      // upper()/lower() force STRING comparison over the transformed
      // rendering (Wireshark: the functions yield strings)
      val raw: Any = raw0 match {
        case s: String if xf != ' ' => caseStr(s, xf)
        case other if xf != ' '     => caseStr(other.toString, xf)
        case other                  => other
      }
      val litS = lit.stripPrefix("\"").stripSuffix("\"")
      // Only fields DEFINED as multi-occurrence get Wireshark's any-match
      // semantics (`==` true if ANY occurrence matches) — splitting every
      // comma-containing string would break equality on values that
      // legitimately contain commas (info strings, http headers).
      if (DisplayFilter.multiValueFields.contains(field)) raw match {
        case x: String if x.indexOf(',') >= 0 && (op == "==" || op == "eq") =>
          return x.split(',').contains(litS)
        case x: String if x.indexOf(',') >= 0 && (op == "!=" || op == "ne") =>
          return x.split(',').exists(_ != litS)
        case _ =>
      }
      val c: Option[Int] = raw match {
        case x: Long    => lit.toLongOption.map(java.lang.Long.compare(x, _))
        case x: Double  => lit.toDoubleOption.map(java.lang.Double.compare(x, _))
        case x: Boolean => Some(java.lang.Boolean.compare(x, lit == "1" || lit == "true"))
        case x          => Some(x.toString.compareTo(litS))
      }
      c.exists { r =>
        op match {
          case "==" | "eq" => r == 0
          case "!=" | "ne" => r != 0
          case ">" | "gt"  => r > 0
          case ">=" | "ge" => r >= 0
          case "<" | "lt"  => r < 0
          case "<=" | "le" => r <= 0
        }
      }
    }
  }
  private final case class Not(e: Expr) extends Expr {
    def eval(d: Dissect.Dissected): Boolean = !e.eval(d)
    def fields: Set[String] = e.fields
  }
  private final case class AndE(l: Expr, r: Expr) extends Expr {
    def eval(d: Dissect.Dissected): Boolean = l.eval(d) && r.eval(d)
    def fields: Set[String] = l.fields ++ r.fields
  }
  private final case class OrE(l: Expr, r: Expr) extends Expr {
    def eval(d: Dissect.Dissected): Boolean = l.eval(d) || r.eval(d)
    def fields: Set[String] = l.fields ++ r.fields
  }

  def parse(s: String): Expr = {
    val p = new Parser(s)
    val e = p.parseOr()
    p.expectEnd()
    e
  }

  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def peek(tok: String): Boolean = { ws(); s.startsWith(tok, i) }
    private def take(tok: String): Boolean = { if (peek(tok)) { i += tok.length; true } else false }
    private def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '.' || c == '_'
    // Keyword operators (`or`, `and`, `not`) must end at a word boundary so
    // a field named `order.id` is not split at its `or` prefix.
    private def takeWord(w: String): Boolean = {
      ws()
      if (s.startsWith(w, i) && (i + w.length >= s.length || !identChar(s(i + w.length)))) {
        i += w.length; true
      } else false
    }

    def expectEnd(): Unit = {
      ws()
      if (i < s.length)
        throw new IllegalArgumentException(
          s"cfilter: unexpected trailing input at offset $i: '${s.substring(i)}'")
    }

    def parseOr(): Expr = {
      var l = parseAnd()
      while (take("||") || takeWord("or")) l = OrE(l, parseAnd())
      l
    }
    private def parseAnd(): Expr = {
      var l = parseUnary()
      while (take("&&") || takeWord("and")) l = AndE(l, parseUnary())
      l
    }
    private def parseUnary(): Expr = {
      ws()
      if (take("!") || takeWord("not")) Not(parseUnary())
      else if (take("(")) {
        val e = parseOr()
        if (!take(")")) throw new IllegalArgumentException(
          s"cfilter: expected ')' at offset $i in '$s'")
        e
      } else parseAtom()
    }
    /** One literal token: a quoted string (quotes kept) or a bare run. */
    private def takeLiteral(): String = {
      ws()
      val vs = i
      if (i < s.length && s(i) == '"') {
        i += 1
        while (i < s.length && s(i) != '"') i += 1
        i += 1
      } else {
        while (i < s.length && !s(i).isWhitespace && !"()&|!".contains(s(i))) i += 1
      }
      val tok = s.substring(vs, i).trim
      if (tok.isEmpty)
        throw new IllegalArgumentException(s"cfilter: expected a value at offset $i in '$s'")
      tok
    }

    /** Wireshark slice forms inside `[...]`: `i` (one byte), `i:len`,
      * `lo-hi` (inclusive), `:len`, `i:` (to end). Returns (from, until). */
    private def parseSlice(): (Int, Int) = {
      i += 1 // '['
      val start = i
      while (i < s.length && s(i) != ']') i += 1
      if (i >= s.length) throw new IllegalArgumentException(
        s"cfilter: unterminated byte slice in '$s'")
      val body = s.substring(start, i)
      i += 1 // ']'
      def num(t: String): Int = t.toIntOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(s"cfilter: bad slice bound '$t' in '$s'"))
      if (body.contains(':')) {
        val Array(a, b) = body.split(":", -1)
        if (a.isEmpty) (0, num(b))
        else if (b.isEmpty) (num(a), Int.MaxValue)
        else { val f = num(a); (f, f + num(b)) }
      } else if (body.contains('-')) {
        val Array(a, b) = body.split("-", -1)
        (num(a), num(b) + 1)
      } else { val f = num(body); (f, f + 1) }
    }

    private def stripQuotes(tok: String): String =
      if (tok.length >= 2 && tok.head == '"' && tok.last == '"')
        tok.substring(1, tok.length - 1) else tok

    private def parseAtom(): Expr = {
      ws()
      // function prefix: upper(target) / lower(target) — Wireshark's
      // case-folding functions; the transform rides on the atom built below
      var xf = ' '
      if (s.startsWith("upper(", i) || s.startsWith("lower(", i)) {
        xf = if (s(i) == 'u') 'U' else 'L'
        i += 6
        ws()
      }
      val start = i
      while (i < s.length && identChar(s(i))) i += 1
      val ident = s.substring(start, i)
      if (ident.isEmpty)
        throw new IllegalArgumentException(s"cfilter: expected a field name at offset $i in '$s'")
      if (xf != ' ') {
        ws()
        if (!take(")"))
          throw new IllegalArgumentException(
            s"cfilter: expected ')' closing upper()/lower() at offset $i in '$s'")
      }
      if (i < s.length && s(i) == '[') {
        if (xf != ' ')
          throw new IllegalArgumentException(
            s"cfilter: upper()/lower() cannot take a byte slice in '$s'")
        val (from, until) = parseSlice()
        ws()
        val op = Seq("==", "!=", ">=", "<=", ">", "<").find(take).getOrElse(
          throw new IllegalArgumentException(
            s"cfilter: byte-slice comparison needs a comparison operator at offset $i in '$s'"))
        val tok = takeLiteral()
        val quoted = tok.head == '"'
        val num: Option[Long] =
          if (quoted) None
          else if (tok.startsWith("0x") || tok.startsWith("0X"))
            // strict parse: trailing garbage ('0x4g') rejects, never truncates
            try Some(java.lang.Long.parseUnsignedLong(tok.substring(2), 16))
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"cfilter: bad numeric literal '$tok' in '$s'") }
          else if (op == "==" || op == "!=") tok.toLongOption.filter(_ =>
            // even-length hex runs keep their historical byte reading on ==
            !DisplayFilter.bytePairs.matches(tok))
          else Some(tok.toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"cfilter: byte-slice relational comparison needs a numeric " +
                s"literal, got '$tok' in '$s'")))
        return SliceCmp(ident, from, until, op,
          if (num.isEmpty) DisplayFilter.litHex(tok) else "", num)
      }
      ws()
      // set membership: `f in {a b, c}` — OR of equality against each
      // member, so multi-value fields keep their any-occurrence semantics
      if (takeWord("in")) {
        ws()
        if (i >= s.length || s(i) != '{')
          throw new IllegalArgumentException(
            s"cfilter: 'in' needs a {…} value set at offset $i in '$s'")
        i += 1
        val members = scala.collection.mutable.ArrayBuffer.empty[String]
        var done = false
        while (!done) {
          ws()
          while (i < s.length && s(i) == ',') { i += 1; ws() }
          if (i < s.length && s(i) == '}') { i += 1; done = true }
          else if (i >= s.length) throw new IllegalArgumentException(
            s"cfilter: unterminated value set in '$s'")
          else {
            val vs = i
            if (s(i) == '"') {
              i += 1
              while (i < s.length && s(i) != '"') i += 1
              i += 1
            } else {
              while (i < s.length && !s(i).isWhitespace && s(i) != ',' && s(i) != '}') i += 1
            }
            members += s.substring(vs, i)
          }
        }
        if (members.isEmpty) throw new IllegalArgumentException(
          s"cfilter: empty value set in '$s'")
        return members.map(m => Cmp(ident, "==", m, xf): Expr).reduce(OrE(_, _))
      }
      if (takeWord("contains"))
        return ContainsE(ident, DisplayFilter.litHex(takeLiteral()), xf)
      if (takeWord("matches") || take("~")) {
        val pat = stripQuotes(takeLiteral())
        return MatchesE(ident, java.util.regex.Pattern.compile(pat,
          java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL), xf)
      }
      val op = Seq("==", "!=", ">=", "<=", ">", "<").find(take)
      op match {
        case None if xf != ' ' =>
          throw new IllegalArgumentException(
            s"cfilter: upper()/lower() need a comparison in '$s'")
        case None    => ProtoPresent(ident)
        case Some(o) => Cmp(ident, o, takeLiteral(), xf)
      }
    }
  }
}
