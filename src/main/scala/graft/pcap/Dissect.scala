package graft.pcap

import scala.collection.mutable

import graft.pcap.Dissect.HotIds._

/** Native packet dissection: Ethernet / IPv4 / IPv6 / TCP / UDP / FIX.
  *
  * Re-expresses the observable field semantics the reference obtains from
  * tshark (`tshark -r f -T fields -e …`, reference
  * `src/wireduck_extension.cpp:108-129`): dotted field names, tshark's
  * derived values (relative seq/ack, scaled windows, `tcp.len` payload
  * length, conversation `tcp.stream` indexes) and the rendered
  * `_ws.col.info` summary column (SURVEY §7.6.1).
  *
  * Dissection is stateful per capture file (conversation tracking), which
  * maps 1:1 onto a Spark `PartitionReader` scanning one file sequentially —
  * the same sequential-scan shape as the reference's single tshark pipe,
  * but one per file in parallel (SURVEY §7.3).
  */
object Dissect {

  /** Stable integer ids for every glossary field — the dissector writes
    * into a flat Array[Any] indexed by these instead of a per-packet
    * HashMap (an id lookup on write, a plain array load on read; the
    * reader resolves its column ids once per scan, not per row). The
    * glossary is the authority for "every field a dissector may emit" —
    * enforced by the schema-reachability spec. */
  object FieldIds {
    val names: Array[String] = Glossary.fields.map(_.filter_name).toArray
    val count: Int = names.length
    private val idx = new java.util.HashMap[String, Integer](count * 2)
    names.zipWithIndex.foreach { case (n, i) => idx.put(n, Integer.valueOf(i)) }
    def id(name: String): Int = {
      val v = idx.get(name)
      if (v == null) -1 else v.intValue
    }
  }


  /** Pre-resolved ids for fields written on (nearly) every packet —
    * see FieldVec.set. Cold-path fields (dns/tls/dhcp/...) keep the
    * name-keyed update, which the glossary consistency spec guards. */
  object HotIds {
    val Id_frame_number: Int = FieldIds.id("frame.number")
    val Id_frame_len: Int = FieldIds.id("frame.len")
    val Id_frame_cap_len: Int = FieldIds.id("frame.cap_len")
    val Id_frame_time_epoch: Int = FieldIds.id("frame.time_epoch")
    val Id_frame_time_epoch_ns: Int = FieldIds.id("frame.time_epoch_ns")
    val Id_frame_time_relative: Int = FieldIds.id("frame.time_relative")
    val Id_frame_time_delta: Int = FieldIds.id("frame.time_delta")
    val Id_frame_raw: Int = FieldIds.id("frame.raw")
    val Id_eth_dst: Int = FieldIds.id("eth.dst")
    val Id_eth_src: Int = FieldIds.id("eth.src")
    val Id_eth_type: Int = FieldIds.id("eth.type")
    val Id_eth_addr: Int = FieldIds.id("eth.addr")
    val Id_eth_ig: Int = FieldIds.id("eth.ig")
    val Id_vlan_id: Int = FieldIds.id("vlan.id")
    val Id_ip_version: Int = FieldIds.id("ip.version")
    val Id_ip_hdr_len: Int = FieldIds.id("ip.hdr_len")
    val Id_ip_dsfield: Int = FieldIds.id("ip.dsfield")
    val Id_ip_tos: Int = FieldIds.id("ip.tos")
    val Id_ip_dsfield_dscp: Int = FieldIds.id("ip.dsfield.dscp")
    val Id_ip_dsfield_ecn: Int = FieldIds.id("ip.dsfield.ecn")
    val Id_ip_len: Int = FieldIds.id("ip.len")
    val Id_ip_id: Int = FieldIds.id("ip.id")
    val Id_ip_flags: Int = FieldIds.id("ip.flags")
    val Id_ip_flags_rb: Int = FieldIds.id("ip.flags.rb")
    val Id_ip_flags_df: Int = FieldIds.id("ip.flags.df")
    val Id_ip_flags_mf: Int = FieldIds.id("ip.flags.mf")
    val Id_ip_frag_offset: Int = FieldIds.id("ip.frag_offset")
    val Id_ip_ttl: Int = FieldIds.id("ip.ttl")
    val Id_ip_proto: Int = FieldIds.id("ip.proto")
    val Id_ip_checksum: Int = FieldIds.id("ip.checksum")
    val Id_ip_src: Int = FieldIds.id("ip.src")
    val Id_ip_dst: Int = FieldIds.id("ip.dst")
    val Id_ip_addr: Int = FieldIds.id("ip.addr")
    val Id_ipv6_version: Int = FieldIds.id("ipv6.version")
    val Id_ipv6_tclass: Int = FieldIds.id("ipv6.tclass")
    val Id_ipv6_tclass_dscp: Int = FieldIds.id("ipv6.tclass.dscp")
    val Id_ipv6_tclass_ecn: Int = FieldIds.id("ipv6.tclass.ecn")
    val Id_ipv6_flow: Int = FieldIds.id("ipv6.flow")
    val Id_ipv6_plen: Int = FieldIds.id("ipv6.plen")
    val Id_ipv6_nxt: Int = FieldIds.id("ipv6.nxt")
    val Id_ipv6_hlim: Int = FieldIds.id("ipv6.hlim")
    val Id_ipv6_src: Int = FieldIds.id("ipv6.src")
    val Id_ipv6_dst: Int = FieldIds.id("ipv6.dst")
    val Id_ipv6_addr: Int = FieldIds.id("ipv6.addr")
    val Id_tcp_time_relative: Int = FieldIds.id("tcp.time_relative")
    val Id_tcp_time_delta: Int = FieldIds.id("tcp.time_delta")
    val Id_tcp_srcport: Int = FieldIds.id("tcp.srcport")
    val Id_tcp_dstport: Int = FieldIds.id("tcp.dstport")
    val Id_tcp_port: Int = FieldIds.id("tcp.port")
    val Id_tcp_stream: Int = FieldIds.id("tcp.stream")
    val Id_tcp_len: Int = FieldIds.id("tcp.len")
    val Id_tcp_seq: Int = FieldIds.id("tcp.seq")
    val Id_tcp_seq_raw: Int = FieldIds.id("tcp.seq_raw")
    val Id_tcp_nxtseq: Int = FieldIds.id("tcp.nxtseq")
    val Id_tcp_ack: Int = FieldIds.id("tcp.ack")
    val Id_tcp_ack_raw: Int = FieldIds.id("tcp.ack_raw")
    val Id_tcp_hdr_len: Int = FieldIds.id("tcp.hdr_len")
    val Id_tcp_flags: Int = FieldIds.id("tcp.flags")
    val Id_tcp_flags_fin: Int = FieldIds.id("tcp.flags.fin")
    val Id_tcp_flags_syn: Int = FieldIds.id("tcp.flags.syn")
    val Id_tcp_flags_reset: Int = FieldIds.id("tcp.flags.reset")
    val Id_tcp_flags_push: Int = FieldIds.id("tcp.flags.push")
    val Id_tcp_flags_ack: Int = FieldIds.id("tcp.flags.ack")
    val Id_tcp_flags_urg: Int = FieldIds.id("tcp.flags.urg")
    val Id_tcp_window_size_value: Int = FieldIds.id("tcp.window_size_value")
    val Id_tcp_window_size: Int = FieldIds.id("tcp.window_size")
    val Id_tcp_window_size_scalefactor: Int = FieldIds.id("tcp.window_size_scalefactor")
    val Id_tcp_checksum: Int = FieldIds.id("tcp.checksum")
    val Id_tcp_urgent_pointer: Int = FieldIds.id("tcp.urgent_pointer")
    val Id_tcp_options_mss_val: Int = FieldIds.id("tcp.options.mss_val")
    val Id_tcp_options_wscale_shift: Int = FieldIds.id("tcp.options.wscale.shift")
    val Id_tcp_options_timestamp_tsval: Int = FieldIds.id("tcp.options.timestamp.tsval")
    val Id_tcp_options_timestamp_tsecr: Int = FieldIds.id("tcp.options.timestamp.tsecr")
    val Id_tcp_payload: Int = FieldIds.id("tcp.payload")
    val Id_tcp_analysis_retransmission: Int = FieldIds.id("tcp.analysis.retransmission")
    val Id_tcp_analysis_out_of_order: Int = FieldIds.id("tcp.analysis.out_of_order")
    val Id_udp_time_relative: Int = FieldIds.id("udp.time_relative")
    val Id_udp_time_delta: Int = FieldIds.id("udp.time_delta")
    val Id_udp_srcport: Int = FieldIds.id("udp.srcport")
    val Id_udp_dstport: Int = FieldIds.id("udp.dstport")
    val Id_udp_port: Int = FieldIds.id("udp.port")
    val Id_udp_stream: Int = FieldIds.id("udp.stream")
    val Id_udp_length: Int = FieldIds.id("udp.length")
    val Id_udp_checksum: Int = FieldIds.id("udp.checksum")
    val Id_udp_pdu_size: Int = FieldIds.id("udp.pdu.size")
    val Id_udp_payload: Int = FieldIds.id("udp.payload")
    val Id_fix_msgtype: Int = FieldIds.id("fix.msgtype")
  }

  /** The demand mask of a full dissection. */
  private val EveryField: Array[Boolean] = Array.fill(FieldIds.count)(true)

  /** Write-side view: `v.set(Id_tcp_srcport, x)` resolves the field id and
    * stores into flat arrays (unknown names are dropped — the glossary
    * consistency spec keeps that set empty).
    *
    * Primitive-slot layout: Long/Boolean/Double writes land in `longs`
    * (bools as 0/1, doubles as raw IEEE bits) with a kind tag — no
    * `java.lang.Long` boxing on the ~45-writes-per-packet dissection hot
    * path; only strings and other objects touch `objs`. Overload
    * resolution picks the primitive `set`/`update` statically, so the
    * thousands of dissector call sites did not change. */
  final class FieldVec {
    val objs = new Array[Any](FieldIds.count)
    val longs = new Array[Long](FieldIds.count)
    /** 0 = empty, 1 = object, 2 = long, 3 = boolean, 4 = double,
      * 5 = UTF-8 text in `bytes(i)[0, byteLens(i))`. */
    val kinds = new Array[Byte](FieldIds.count)
    /** Kind-5 storage: one reused array per slot, so addresses and hex
      * payloads render straight to the bytes the scan's row wraps, with no
      * String between. Like the pooled vector itself, valid until the next
      * dissect call. */
    val bytes = new Array[Array[Byte]](FieldIds.count)
    val byteLens = new Array[Int](FieldIds.count)
    /** Tunnel recursion (GRE/VXLAN inner layers) flips this on: a field
      * already written by an OUTER layer then follows tshark's
      * multi-occurrence rendering — strings comma-append, non-strings keep
      * the outer value (the reference's stoll/stod prefix parse observes
      * the first occurrence of numeric fields). */
    var nested = false

    /** The fields the scan reads ([[Wanted.fields]]): a write to any other
      * slot is dropped, so its value is never stored, rendered or cleared.
      * Set by [[dissect]] per call; all true outside a scan. */
    private var demand: Array[Boolean] = EveryField
    private[Dissect] def demanding(fields: Array[Boolean]): Unit =
      demand = if (fields == null) EveryField else fields
    /** True when a write to any of the three slots would be kept. */
    def wantsAny(a: Int, b: Int, c: Int): Boolean = demand(a) || demand(b) || demand(c)

    /** Ids whose `kinds` went from 0 to non-zero since the last clear —
      * every set pushes on first write, so a pooled vector resets only the
      * slots a packet wrote, not all of the glossary. */
    private var written = new Array[Int](64)
    private var nWritten = 0
    private def wrote(i: Int): Unit = {
      if (nWritten == written.length) written = java.util.Arrays.copyOf(written, nWritten * 2)
      written(nWritten) = i
      nWritten += 1
    }

    def clear(): Unit = {
      var j = 0
      while (j < nWritten) {
        val i = written(j)
        objs(i) = null
        kinds(i) = 0
        j += 1
      }
      nWritten = 0
    }

    def set(i: Int, value: Long): Unit = {
      if (i < 0 || !demand(i) || (nested && kinds(i) != 0)) return // outer occurrence wins
      if (kinds(i) == 0) wrote(i)
      longs(i) = value; kinds(i) = 2
    }
    def set(i: Int, value: Boolean): Unit = {
      if (i < 0 || !demand(i) || (nested && kinds(i) != 0)) return
      if (kinds(i) == 0) wrote(i)
      longs(i) = if (value) 1L else 0L; kinds(i) = 3
    }
    def set(i: Int, value: Double): Unit = {
      if (i < 0 || !demand(i) || (nested && kinds(i) != 0)) return
      if (kinds(i) == 0) wrote(i)
      longs(i) = java.lang.Double.doubleToRawLongBits(value); kinds(i) = 4
    }
    /** Object (string) store — also the landing spot for values that are
      * boxed already (generic code paths); those re-dispatch to the
      * primitive slots so consumers see one representation per kind. */
    def set(i: Int, value: Any): Unit = {
      if (i < 0 || !demand(i)) return
      value match {
        case l: java.lang.Long    => set(i, l.longValue)
        case b: java.lang.Boolean => set(i, b.booleanValue)
        case d: java.lang.Double  => set(i, d.doubleValue)
        case x: java.lang.Integer => set(i, x.longValue)
        case _ =>
          if (kinds(i) == 0 || !nested) {
            if (kinds(i) == 0) wrote(i)
            objs(i) = value; kinds(i) = 1
          }
          else (objs(i), value) match {
            case (p: String, s: String) => objs(i) = p + "," + s
            case (_, s: String) if kinds(i) == 5 => setText(i, s)
            case _ => // numeric/bool outer occurrence wins
          }
      }
    }

    /** Opens a kind-5 write of `n` bytes into slot `i` and returns the
      * offset in `bytes(i)` to write them at, or -1 when the write is
      * dropped. Nested writes follow [[set]]: after an outer text value
      * they append as ",inner"; after a numeric one they drop, and so does
      * a write to a slot the scan does not read. */
    def reserve(i: Int, n: Int): Int = {
      if (i < 0 || !demand(i)) return -1
      var at = 0
      if (kinds(i) == 0) wrote(i)
      else if (nested) {
        if (kinds(i) == 1) objs(i) match {
          case s: String =>
            val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            bytes(i) = b; byteLens(i) = b.length; objs(i) = null
          case _ => return -1
        }
        else if (kinds(i) != 5) return -1
        at = byteLens(i) + 1
      }
      val end = at + n
      val b = bytes(i)
      if (b == null || b.length < end) {
        val grown = new Array[Byte](math.max(end, 64))
        if (at > 0) System.arraycopy(b, 0, grown, 0, at - 1)
        bytes(i) = grown
      }
      if (at > 0) bytes(i)(at - 1) = ','
      kinds(i) = 5
      byteLens(i) = end
      at
    }

    /** Kind-5 copy of `src[from, from + n)`. */
    def setBytes(i: Int, src: Array[Byte], from: Int, n: Int): Unit = {
      val at = reserve(i, n)
      if (at >= 0) System.arraycopy(src, from, bytes(i), at, n)
    }

    private def setText(i: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      setBytes(i, b, 0, b.length)
    }
    def update(name: String, value: Long): Unit = set(FieldIds.id(name), value)
    def update(name: String, value: Boolean): Unit = set(FieldIds.id(name), value)
    def update(name: String, value: Double): Unit = set(FieldIds.id(name), value)
    def update(name: String, value: Any): Unit = set(FieldIds.id(name), value)

    /** Boxing read — filter evaluators, tests, info renderers (cold path
      * relative to the scan's typed column reads). */
    def valueAt(i: Int): Any = (kinds(i).toInt: @annotation.switch) match {
      case 0 => null
      case 1 => objs(i)
      case 2 => java.lang.Long.valueOf(longs(i))
      case 3 => java.lang.Boolean.valueOf(longs(i) != 0L)
      case 4 => java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(longs(i)))
      case _ => new String(bytes(i), 0, byteLens(i), java.nio.charset.StandardCharsets.UTF_8)
    }
    def get(name: String): Option[Any] = {
      val i = FieldIds.id(name)
      if (i < 0) None else Option(valueAt(i))
    }
  }

  /** Read-side map view over the field vector (tests, filter evaluators). */
  private final class FieldView(vec: FieldVec) extends scala.collection.AbstractMap[String, Any] {
    override def get(key: String): Option[Any] = {
      val i = FieldIds.id(key)
      if (i < 0) None else Option(vec.valueAt(i))
    }
    override def iterator: Iterator[(String, Any)] =
      FieldIds.names.iterator.zipWithIndex.collect {
        case (n, i) if vec.kinds(i) != 0 => (n, vec.valueAt(i))
      }
    override def contains(key: String): Boolean = {
      val i = FieldIds.id(key)
      i >= 0 && vec.kinds(i) != 0
    }
    // legacy removal ops (required abstract on collection.Map) — cold path
    override def -(key: String): scala.collection.Map[String, Any] =
      iterator.toMap - key
    override def -(key1: String, key2: String, keys: String*): scala.collection.Map[String, Any] =
      iterator.toMap - key1 - key2 -- keys
  }

  /** All extracted fields for one packet. `arr` is indexed by
    * [[FieldIds]]; `values` is a lazy map view over it.
    *
    * The info column arrives EITHER as a String (app-layer renderings,
    * test-path default) OR as UTF-8 bytes in the tracker's reused buffer
    * (`infoBytes`/`infoLen`, the scan's bytes-only hot path — valid only
    * until the next dissect call, the same lifetime contract as a reused
    * reader row). [[info]] materializes a String from the bytes for
    * non-scan consumers.
    *
    * `chain` is the [[ChainIntern]] slot of `protocols`: a memo keyed on it
    * holds while its stored chain is still `eq` to `protocols`. */
  final class Dissected(
      val vec: FieldVec,
      val chain: Int,
      val protocols: String,
      private val infoStr: String,
      val infoBytes: Array[Byte] = null,
      val infoLen: Int = 0) {
    val values: scala.collection.Map[String, Any] = new FieldView(vec)
    def info: String =
      if (infoStr != null || infoBytes == null) infoStr
      else new String(infoBytes, 0, infoLen, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Growable UTF-8 scratch for the bytes-only info path: ASCII literals,
    * the Wireshark " → " arrow, and non-negative decimal renders write
    * straight into one reused byte buffer — no StringBuilder, no String,
    * no charset encoder on the per-row hot path. */
  final class InfoBuf {
    var buf = new Array[Byte](256)
    var len = 0
    def reset(): Unit = len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
    def ascii(s: String): Unit = {
      ensure(s.length)
      var i = 0
      while (i < s.length) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
    }
    /** " → " (U+2192 is 3 UTF-8 bytes — the reason the old path could
      * never take an ASCII fast path). */
    def arrow(): Unit = {
      ensure(5)
      buf(len) = ' '; buf(len + 1) = 0xe2.toByte; buf(len + 2) = 0x86.toByte
      buf(len + 3) = 0x92.toByte; buf(len + 4) = ' '
      len += 5
    }
    /** Decimal render of `v`, with a minus sign when negative. */
    def signed(v: Int): Unit =
      if (v < 0) { ascii("-"); num(-v.toLong) } else num(v)
    /** Decimal render of a non-negative value (negatives render as "0"). */
    def num(v: Long): Unit = {
      if (v <= 0) { ensure(1); buf(len) = '0'; len += 1; return }
      ensure(20)
      val start = len
      var x = v
      while (x > 0) { buf(len) = ('0' + (x % 10)).toByte; len += 1; x /= 10 }
      var a = start
      var b = len - 1
      while (a < b) { val t = buf(a); buf(a) = buf(b); buf(b) = t; a += 1; b -= 1 }
    }
  }

  /** Sentinel info return: "the rendering is in tracker.infoBuf". */
  private[pcap] val InfoInBuf: String = new String("infobuf-sentinel")

  /** What the scan reads, so dissection does only that work.
    *
    * `fields` is the demand mask over [[FieldIds]] (null: every field).
    * Writes to undemanded slots are dropped; the Ethernet, IPv4 and IPv6
    * address pairs render only when one of their three columns is
    * demanded; and the TCP app-layer claim chain runs only when the chain
    * (`frame.protocols`), the info column or a field of a protocol above
    * TCP is demanded ([[Wanted.app]]), and always on SIP's port 5060,
    * whose SDP bodies register the RTP ports later UDP claims depend on.
    * Conversation state behind the L4 fields (`tcp.stream`,
    * `tcp.analysis.*`, `tcp.time_*`) is kept for every packet whatever
    * the mask. `payloads`, `info` and `raw` gate the payload hex, the info
    * rendering and the whole-frame hex; `layers = false` stops after the
    * frame-header fields. */
  final case class Wanted(
      payloads: Boolean = true,
      info: Boolean = true,
      layers: Boolean = true, // false => frame-header fields only, skip eth/ip/tcp/udp entirely
      raw: Boolean = false, // frame.raw hex of the whole frame (capture rewriting) — costly, off unless selected
      // scan-only: render the default TCP/UDP info straight into the
      // tracker's reused UTF-8 buffer (Dissected.infoBytes) — no String on
      // the hot path. Off for unit tests, whose Dissected outlives the
      // next dissect call.
      infoBytes: Boolean = false,
      fields: Array[Boolean] = null) {
    require(fields == null || fields.length == FieldIds.count,
      s"demand mask has ${fields.length} slots, the glossary ${FieldIds.count}")
    /** Whether the TCP app-layer claim chain runs: it writes only fields
      * of protocols above TCP, the chain and the info. */
    val app: Boolean = fields == null || info ||
      fields.indices.exists(i => fields(i) && AboveTcp(i))
  }

  /** Per [[FieldIds]] id: false for the fields the TCP app-layer claim
    * chain never writes (it re-enters no lower layer). `frame.protocols`
    * counts as above TCP, since app protocols extend the chain. */
  private lazy val AboveTcp: Array[Boolean] = {
    val below = Set("frame", "eth", "vlan", "ip", "ipv6", "tcp", "udp")
    Glossary.fields.map(f =>
      f.filter_name == "frame.protocols" || !below(f.protocol_filter_name)).toArray
  }

  /** A demand mask over [[FieldIds]] with `names` set; names outside the
    * glossary are ignored. */
  def demandOf(names: Iterable[String]): Array[Boolean] = {
    val m = new Array[Boolean](FieldIds.count)
    names.foreach { n => val i = FieldIds.id(n); if (i >= 0) m(i) = true }
    m
  }

  val WantAll: Wanted = Wanted()

  // --- conversation state ------------------------------------------------

  /** A conversation's two endpoints as address bits and ports: IPv4 in the
    * low 32 bits of `aLo`/`bLo`, IPv6 as two longs each; `ports` packs both
    * ports and the IP version. Canonical order: endpoint `a` is the lower
    * (address, port), comparing unsigned, so both directions share a key. */
  private final class ConvKey(
      val aHi: Long, val aLo: Long, val bHi: Long, val bLo: Long, val ports: Long) {
    override def equals(o: Any): Boolean = o match {
      case k: ConvKey =>
        aLo == k.aLo && bLo == k.bLo && ports == k.ports && aHi == k.aHi && bHi == k.bHi
      case _ => false
    }
    override def hashCode: Int = {
      var h = aHi * 0x9e3779b97f4a7c15L + aLo
      h = h * 0x9e3779b97f4a7c15L + bHi
      h = h * 0x9e3779b97f4a7c15L + bLo
      h = h * 0x9e3779b97f4a7c15L + ports
      (h ^ (h >>> 32)).toInt
    }
  }

  /** Endpoint addresses as the L4 dissectors receive them: the source is
    * `ips[at, at + len)` and the destination follows it (the IPv4 and IPv6
    * header layouts), `len` being 4 or 16. */
  private object ConvKey {
    /** True when the source endpoint sorts first (or both are equal). */
    def srcFirst(ips: Array[Byte], at: Int, len: Int, sp: Int, dp: Int): Boolean = {
      var i = 0
      while (i < len) {
        val c = (ips(at + i) & 0xff) - (ips(at + len + i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      sp <= dp
    }

    def apply(ips: Array[Byte], at: Int, len: Int, sp: Int, dp: Int, srcFirst: Boolean): ConvKey = {
      val a = if (srcFirst) at else at + len
      val b = if (srcFirst) at + len else at
      val ports = (if (srcFirst) (sp.toLong << 16) | dp else (dp.toLong << 16) | sp) |
        (if (len == 16) 1L << 32 else 0L)
      if (len == 16) new ConvKey(u64(ips, a), u64(ips, a + 8), u64(ips, b), u64(ips, b + 8), ports)
      else new ConvKey(0L, u32(ips, a), 0L, u32(ips, b), ports)
    }
  }

  private final class TcpConv(val stream: Long) {
    // per canonical direction (0 = canonical-forward)
    val isn = Array(-1L, -1L)
    val wsShift = Array(-1, -1) // window-scale shift offered in SYN
    val sawSyn = Array(false, false)
    val maxNxtSeq = Array(-1L, -1L) // highest relative nxtseq seen (retransmit detection)
    // duplicate-ACK tracking (per acking direction)
    val lastAck = Array(-1L, -1L)
    val lastAckWin = Array(-1L, -1L)
    val dupAckCount = Array(0, 0)
    val lastDupAckTsMicros = Array(-1L, -1L) // fast-retransmission 20ms window
    // 32-bit wrap tracking: analysis state uses extended sequence numbers
    val seqEpoch = Array(0L, 0L)
    val lastExtSeq = Array(-1L, -1L)
    // desegmentation: unconsumed tail of an incomplete application PDU,
    // per direction (only populated when the tracker has desegment=true);
    // carryKind records which dissector owns the buffer
    // (1=fix, 2=http, 3=dns-tcp, 4=ftp, 5=sip, 6=mqtt, 7=websocket, 8=http2)
    val carry: Array[Array[Byte]] = Array(Array.emptyByteArray, Array.emptyByteArray)
    val carryKind: Array[Int] = Array(0, 0)
    // seq-indexed reassembly (desegment only): expSeq is the next relative
    // sequence the app-layer stream will consume; segments arriving ahead
    // of it wait in ooo (relSeq -> payload), bounded by MaxCarry bytes
    val expSeq = Array(-1L, -1L)
    val ooo: Array[java.util.TreeMap[java.lang.Long, Array[Byte]]] =
      Array(new java.util.TreeMap, new java.util.TreeMap)
    val oooBytes = Array(0, 0)
    // set once the HTTP/2 client connection preface is seen; both
    // directions then sniff h2 frames instead of HTTP/1 heuristics
    var http2 = false
    // set when an h2 HEADERS block declares content-type application/grpc
    // (HPACK static-table/raw-literal decode): DATA frames in BOTH
    // directions then dissect the gRPC length-prefixed message framing
    var grpc = false
    // h2 CONTINUATION accumulation (RFC 9113 §6.10): a HEADERS frame
    // without END_HEADERS stashes its block here per direction; each
    // CONTINUATION appends; the END_HEADERS frame decodes the whole
    // block. Bounded by MaxCarry.
    val h2Pending: Array[Array[Byte]] = Array(null, null)
    val h2PendingSid: Array[Long] = Array(-1L, -1L)
    // HPACK dynamic table per SENDING direction (RFC 7541 §2.3.2): each
    // peer's encoder owns one table, so indexed refs >=62 in a segment
    // resolve against the table built from that direction's earlier
    // header blocks. Most-recent entry first; bounded by hpackMax octets
    // (entry size = name + value + 32, §4.1). Placeholder entries from
    // undecodable strings still occupy their slot so positions stay
    // aligned with the encoder's view.
    val hpackTable: Array[mutable.ArrayBuffer[(String, String)]] = Array(null, null)
    val hpackMax: Array[Int] = Array(4096, 4096)
    val hpackSize: Array[Int] = Array(0, 0)
    // set once a "101 Switching Protocols" + "Upgrade: websocket" response
    // is seen; later segments in BOTH directions dissect as ws frames
    var wsUpgraded = false
    // set once a "@RSYNCD:" daemon greeting is seen on port 873; client
    // lines after the handshake (module request) carry no magic of their
    // own, so only conversation state can claim them as rsync
    var rsyncSeen = false
    // Kafka request/response correlation: correlation id → (api key,
    // api version) of the pending request, LRU-bounded so a capture that
    // never sees responses cannot grow the map unboundedly
    lazy val kafkaReqs: java.util.LinkedHashMap[Long, (Int, Int)] =
      new java.util.LinkedHashMap[Long, (Int, Int)](16, 0.75f, false) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Long, (Int, Int)]): Boolean = size > 64
      }
    var firstTsMicros = -1L
    var prevTsMicros = -1L
    def scalingActive: Boolean = wsShift(0) >= 0 && wsShift(1) >= 0
  }

  private final class UdpConv(val stream: Long) {
    var firstTsMicros = -1L
    var prevTsMicros = -1L
    // set once a QUIC long-header packet is seen; short-header packets
    // carry no version/type bits, so only conversation state can name them
    var quic = false
    // the client's original Destination Connection ID — BOTH directions'
    // Initial keys derive from it (RFC 9001 §5.2), so the server's
    // Initial is only decryptable through this conversation state
    var quicClientDcid: Array[Byte] = null
  }

  /** One in-flight fragmented IP datagram: parts keyed by byte offset,
    * complete when [0, totalLen) is contiguously covered (totalLen is known
    * once the MF=0 / M=0 fragment arrives). Overlapping fragments keep the
    * FIRST-arrived bytes — a later fragment is trimmed against existing
    * coverage at add time, so overlapping-fragment evasion cannot rewrite
    * already-buffered content (same policy as Wireshark's reassembler). */
  private final class FragAsm {
    val parts = new java.util.TreeMap[Integer, Array[Byte]]
    var bytes = 0
    var totalLen: Int = -1
    var proto: Int = -1 // upper-layer protocol (from the first fragment)
    def add(offset: Int, data: Array[Byte], last: Boolean): Unit = {
      if (last) totalLen = offset + data.length
      var off = offset
      var d = data
      // trim the head against a predecessor that covers into us
      val fe = parts.floorEntry(off)
      if (fe != null && fe.getKey + fe.getValue.length > off) {
        val skip = fe.getKey + fe.getValue.length - off
        if (skip >= d.length) return // fully covered already
        d = java.util.Arrays.copyOfRange(d, skip, d.length)
        off += skip
      }
      // emit the gaps between successors that start inside our range
      var ne = parts.ceilingEntry(off)
      while (d.length > 0 && ne != null && ne.getKey < off + d.length) {
        val keep = ne.getKey - off
        if (keep > 0) {
          parts.put(off, java.util.Arrays.copyOfRange(d, 0, keep))
          bytes += keep
        }
        val nEnd = ne.getKey + ne.getValue.length
        if (nEnd >= off + d.length) return // rest fully covered
        d = java.util.Arrays.copyOfRange(d, nEnd - off, d.length)
        off = nEnd
        ne = parts.ceilingEntry(off)
      }
      if (d.length > 0) { parts.put(off, d); bytes += d.length }
    }
    def tryComplete(): Array[Byte] = {
      if (totalLen < 0) return null
      var cur = 0
      val it = parts.entrySet().iterator()
      while (cur < totalLen && it.hasNext) {
        val e = it.next()
        if (e.getKey > cur) return null // hole
        cur = math.max(cur, e.getKey + e.getValue.length)
      }
      if (cur < totalLen) return null
      val out = new Array[Byte](totalLen)
      parts.forEach { (k, p) =>
        val copyLen = math.min(p.length, totalLen - k)
        if (copyLen > 0) System.arraycopy(p, 0, out, k, copyLen)
      }
      out
    }
  }

  private final val ChainBits = 10
  /** Slots in a tracker's [[ChainIntern]]; [[Dissected.chain]] is below it. */
  final val ChainSlots = 1 << ChainBits
  private final val ChainProbes = 8

  /** Interns the per-packet `frame.protocols` chain by content, so the
    * joined String is built once per distinct chain, not once per packet.
    * A chain hashes its elements' cached String hashes and compares the
    * elements only on a hash match. Open addressing over [[ChainSlots]]
    * slots; a chain whose probe window is full takes its home slot, so no
    * chain is locked out by the ones a capture happened to show first. */
  private final class ChainIntern {
    private val keys = new Array[Array[String]](ChainSlots)
    private val hashes = new Array[Int](ChainSlots)
    val joined = new Array[String](ChainSlots)

    /** Slot of the previous packet's chain: runs of one chain skip the hash. */
    private var last = 0

    def intern(protos: mutable.ArrayBuffer[String]): Int = {
      if (same(keys(last), protos)) return last
      val n = protos.length
      var h = n
      var j = 0
      while (j < n) { h = h * 31 + protos(j).hashCode; j += 1 }
      h ^= h >>> 16
      val home = (h * 0x9e3779b9) >>> (32 - ChainBits)
      var s = home
      var probe = 0
      while (probe < ChainProbes) {
        val k = keys(s)
        if (k == null) return put(s, h, protos)
        if (hashes(s) == h && same(k, protos)) { last = s; return s }
        s = (s + 1) & (ChainSlots - 1)
        probe += 1
      }
      put(home, h, protos)
    }

    private def same(k: Array[String], protos: mutable.ArrayBuffer[String]): Boolean = {
      if (k == null || k.length != protos.length) return false
      var j = 0
      while (j < k.length && { val a = k(j); val b = protos(j); (a eq b) || a == b }) j += 1
      j == k.length
    }

    private def put(s: Int, h: Int, protos: mutable.ArrayBuffer[String]): Int = {
      keys(s) = protos.toArray
      hashes(s) = h
      joined(s) = protos.mkString(":")
      last = s
      s
    }
  }

  /** Per-file mutable tracker; create one per PartitionReader.
    * @param desegment reassemble application PDUs (FIX) that span TCP
    *   segments, like tshark's desegmentation: the message is reported on
    *   the packet carrying its final segment, earlier parts render as
    *   "[TCP segment of a reassembled PDU]". Off by default (matches the
    *   per-packet scan semantics the fixture goldens pin). */
  /** @param reuseBuffers reuse one field array across packets — safe ONLY
    *   when each Dissected is fully consumed before the next dissect call
    *   (the PartitionReader pattern); tests that hold several Dissected
    *   objects must keep the default. */
  final class Tracker(val desegment: Boolean = false, val reuseBuffers: Boolean = false) {
    private[Dissect] val pooledVec = if (reuseBuffers) new FieldVec else null
    private[Dissect] val pooledProtos =
      if (reuseBuffers) mutable.ArrayBuffer.empty[String] else null
    private[Dissect] val chains = new ChainIntern
    /** Address-pair render scratch for [[putPair]]: two IPv6 texts + ','. */
    private[Dissect] val addrs = new Array[Byte](79)
    private[Dissect] lazy val infoBuf = new InfoBuf
    private val tcpConvs = new java.util.HashMap[ConvKey, TcpConv]
    private val udpConvs = new java.util.HashMap[ConvKey, UdpConv]
    private var nextTcpStream = 0L
    private var nextUdpStream = 0L
    private[Dissect] var firstPacketMicros = -1L
    private[Dissect] var prevPacketMicros = -1L
    private[Dissect] var currentTsMicros = -1L
    // UDP ports announced by SIP/SDP media lines — gates RTP decode
    // (bounded; a capture cannot grow this past 256 entries)
    private[Dissect] val rtpPorts = mutable.Set.empty[Int]
    // client ports of in-flight TFTP transfers: the RRQ/WRQ hits port 69,
    // but the server answers from ITS OWN ephemeral port to the client's —
    // registering the client port lets DATA/ACK/ERROR decode (bounded,
    // like rtpPorts)
    private[Dissect] val tftpPorts = mutable.Set.empty[Int]
    // outstanding ONC-RPC call xids -> (version, procedure), so NFS
    // replies name their procedure (bounded at 1024, oldest evicted)
    private[Dissect] val rpcCalls = mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]
    // Bluetooth L2CAP connection-oriented channels: signaling Connection
    // Request/Response pairs register dynamic CID -> PSM so later data
    // frames dissect their service (SDP, RFCOMM). Both bounded like
    // rtpPorts — a capture cannot grow either past 256 entries.
    private[Dissect] val btPendingL2cap = mutable.HashMap.empty[Int, Int] // req id -> PSM
    private[Dissect] val btCidPsm = mutable.HashMap.empty[Int, Int]      // CID -> PSM
    private[Dissect] def btRegisterCid(cid: Int, psm: Int): Unit =
      if (btCidPsm.size < 256) btCidPsm(cid) = psm

    private[Dissect] def tcpConv(k: ConvKey): TcpConv = {
      var c = tcpConvs.get(k)
      if (c == null) { c = new TcpConv(nextTcpStream); nextTcpStream += 1; tcpConvs.put(k, c) }
      c
    }
    private[Dissect] def udpConv(k: ConvKey): UdpConv = {
      var c = udpConvs.get(k)
      if (c == null) { c = new UdpConv(nextUdpStream); nextUdpStream += 1; udpConvs.put(k, c) }
      c
    }

    // IP fragment reassembly (desegment only): pending datagrams keyed by
    // (version, src, dst, id), insertion-order bounded so a capture full of
    // never-completing fragments cannot grow executor memory unboundedly
    private val ipFrags = mutable.LinkedHashMap.empty[(Int, String, String, Long), FragAsm]

    /** Adds one fragment; returns (reassembled datagram, upper proto) when
      * this fragment completes it, null otherwise. */
    private[Dissect] def addFrag(ver: Int, src: String, dst: String, id: Long,
        offset: Int, data: Array[Byte], last: Boolean, proto: Int): (Array[Byte], Int) = {
      if (ipFrags.size >= 256 && !ipFrags.contains((ver, src, dst, id)))
        ipFrags.remove(ipFrags.head._1)
      val asm = ipFrags.getOrElseUpdate((ver, src, dst, id), new FragAsm)
      if (proto >= 0 && (offset == 0 || asm.proto < 0)) asm.proto = proto
      asm.add(offset, data, last)
      if (asm.bytes > MaxCarry) { ipFrags.remove((ver, src, dst, id)); return null }
      val r = asm.tryComplete()
      if (r == null) null
      else { ipFrags.remove((ver, src, dst, id)); (r, asm.proto) }
    }
  }

  // --- helpers -----------------------------------------------------------

  private def u8(d: Array[Byte], o: Int): Int = d(o) & 0xff
  private def u16(d: Array[Byte], o: Int): Int = ((d(o) & 0xff) << 8) | (d(o + 1) & 0xff)
  private def u24(d: Array[Byte], o: Int): Int =
    ((d(o) & 0xff) << 16) | ((d(o + 1) & 0xff) << 8) | (d(o + 2) & 0xff)
  private def u32(d: Array[Byte], o: Int): Long =
    (((d(o) & 0xff).toLong << 24) | ((d(o + 1) & 0xff) << 16) |
      ((d(o + 2) & 0xff) << 8) | (d(o + 3) & 0xff)) & 0xffffffffL

  /** Two-hex-digit strings for 0..255 — String.format per byte costs more
    * than the rest of a packet's dissection combined on the hot path. */
  private val hex2: Array[String] = Array.tabulate(256)(i => f"$i%02x")

  private def u64(d: Array[Byte], o: Int): Long = (u32(d, o) << 32) | u32(d, o + 4)

  private def macStr(d: Array[Byte], o: Int): String = hexBytes(d, o, 6)

  private def ipv4Str(d: Array[Byte], o: Int): String = {
    val b = new Array[Byte](15)
    latin1(b, ipv4Into(d, o, b, 0))
  }

  private def ipv6Str(d: Array[Byte], o: Int): String = {
    val b = new Array[Byte](39)
    latin1(b, ipv6Into(d, o, b, 0))
  }

  private def latin1(b: Array[Byte], n: Int): String =
    new String(b, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Dotted-quad render of `d[o, o + 4)` into `out` at `at`; returns the
    * end offset (at most 15 bytes). */
  private def ipv4Into(d: Array[Byte], o: Int, out: Array[Byte], at: Int): Int = {
    var p = at
    var i = 0
    while (i < 4) {
      if (i > 0) { out(p) = '.'; p += 1 }
      val x = u8(d, o + i)
      if (x >= 100) { out(p) = ('0' + x / 100).toByte; p += 1 }
      if (x >= 10) { out(p) = ('0' + x / 10 % 10).toByte; p += 1 }
      out(p) = ('0' + x % 10).toByte
      p += 1
      i += 1
    }
    p
  }

  /** RFC 5952 render of `d[o, o + 16)` into `out` at `at` (lowercase hex
    * groups, the first longest run of two or more zero groups as "::");
    * returns the end offset (at most 39 bytes). */
  private def ipv6Into(d: Array[Byte], o: Int, out: Array[Byte], at: Int): Int = {
    var bestStart = -1; var bestLen = 0; var i = 0
    while (i < 8) {
      if (u16(d, o + i * 2) == 0) {
        var j = i
        while (j < 8 && u16(d, o + j * 2) == 0) j += 1
        if (j - i > bestLen) { bestLen = j - i; bestStart = i }
        i = j
      } else i += 1
    }
    if (bestLen < 2) bestStart = -1
    var p = at
    i = 0
    while (i < 8) {
      if (i == bestStart) {
        out(p) = ':'; out(p + 1) = ':'; p += 2
        i += bestLen
      } else {
        if (i > 0 && i != bestStart + bestLen) { out(p) = ':'; p += 1 }
        val g = u16(d, o + i * 2)
        var shift = 12
        while (shift > 0 && (g >> shift) == 0) shift -= 4
        while (shift >= 0) { out(p) = hexDigits((g >> shift) & 0xf); p += 1; shift -= 4 }
        i += 1
      }
    }
    p
  }

  /** Wireshark FIX MsgType (tag 35) names, FIX 4.x standard CamelCase. */
  /** Single-char MsgType fast path (the overwhelmingly common case): name
    * resolved by byte index, no per-message String allocation. */
  private lazy val fixMsgNameByByte: Array[String] = {
    val arr = new Array[String](128)
    var b = 0
    while (b < 128) {
      val s = String.valueOf(b.toChar)
      arr(b) = fixMsgNames.getOrElse(s, s)
      b += 1
    }
    arr
  }

  /** MsgType name for the value bytes [from, until) — byte-indexed for
    * one-char types, allocating only for the rare multi-char ones. */
  private def fixMsgName(payload: Array[Byte], from: Int, until: Int): String =
    if (until - from == 1 && payload(from) >= 0) fixMsgNameByByte(payload(from))
    else {
      val t = new String(payload, from, until - from, "ISO-8859-1")
      fixMsgNames.getOrElse(t, t)
    }

  private val fixMsgNames: Map[String, String] = Map(
    "0" -> "Heartbeat", "1" -> "TestRequest", "2" -> "ResendRequest",
    "3" -> "Reject", "4" -> "SequenceReset", "5" -> "Logout",
    "6" -> "IndicationofInterest", "7" -> "Advertisement",
    "8" -> "ExecutionReport", "9" -> "OrderCancelReject",
    "A" -> "Logon", "B" -> "News", "C" -> "Email",
    "D" -> "NewOrderSingle", "E" -> "NewOrderList",
    "F" -> "OrderCancelRequest", "G" -> "OrderCancelReplaceRequest",
    "H" -> "OrderStatusRequest", "J" -> "AllocationInstruction",
    "V" -> "MarketDataRequest", "W" -> "MarketDataSnapshotFullRefresh",
    "X" -> "MarketDataIncrementalRefresh")

  private val SOH: Byte = 0x01

  /** All 64 flag-combination renderings ("SYN, ACK", …) in Wireshark's
    * SYN FIN RST PSH ACK URG order, indexed by the same bit layout. */
  private val tcpFlagStrings: Array[String] = Array.tabulate(64) { bits =>
    val names = mutable.ArrayBuffer.empty[String]
    if ((bits & 1) != 0) names += "SYN"
    if ((bits & 2) != 0) names += "FIN"
    if ((bits & 4) != 0) names += "RST"
    if ((bits & 8) != 0) names += "PSH"
    if ((bits & 16) != 0) names += "ACK"
    if ((bits & 32) != 0) names += "URG"
    names.mkString(", ")
  }

  /** Extract FIX MsgType names for every message starting in this payload.
    * `maxMsgs` lets the info-pruned scan stop after the first message (the
    * `fix.msgtype` field only needs the head; the full walk exists for the
    * info column's comma list). */
  private def fixMessages(payload: Array[Byte], off: Int, len: Int,
      maxMsgs: Int = Int.MaxValue): mutable.ArrayBuffer[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = off
    val end = off + len
    while (i < end - 5 && out.length < maxMsgs) {
      if (payload(i) == '8' && payload(i + 1) == '=' && payload(i + 2) == 'F' &&
        payload(i + 3) == 'I' && payload(i + 4) == 'X') {
        // Fast path over the standard header layout (FIX 4.x §"standard
        // header": 8=BeginString, 9=BodyLength, 35=MsgType in that order):
        // parse 9='s value and JUMP the body instead of byte-scanning it —
        // the full-walk info path then touches ~20 bytes per message
        // regardless of message size. Any shape mismatch falls back to the
        // exhaustive scan below.
        var jumped = false
        var s1 = i + 5
        while (s1 < end && payload(s1) != SOH) s1 += 1 // end of 8= field
        if (s1 + 3 < end && payload(s1 + 1) == '9' && payload(s1 + 2) == '=') {
          var k = s1 + 3
          var bodyLen = 0
          while (k < end && payload(k) >= '0' && payload(k) <= '9' && bodyLen < (1 << 24)) {
            bodyLen = bodyLen * 10 + (payload(k) - '0')
            k += 1
          }
          // k at the SOH closing 9=; body = [k+1, k+1+bodyLen)
          if (k < end && payload(k) == SOH && k > s1 + 3) {
            val bodyStart = k + 1
            if (bodyStart + 3 < end && payload(bodyStart) == '3' &&
              payload(bodyStart + 1) == '5' && payload(bodyStart + 2) == '=') {
              var m = bodyStart + 3
              while (m < end && payload(m) != SOH) m += 1
              if (m < end) {
                out += fixMsgName(payload, bodyStart + 3, m)
                // checksum trailer "10=xxx<SOH>" follows the body — land on
                // it; the outer scan picks up the next "8=FIX" from there
                i = math.max(m + 1, bodyStart + bodyLen)
                jumped = true
              }
            }
          }
        }
        if (!jumped) {
          // find \x0135= the exhaustive way
          var j = i + 5
          var msg: String = null
          while (j < end - 4 && msg == null) {
            if (payload(j) == SOH && payload(j + 1) == '3' && payload(j + 2) == '5' &&
              payload(j + 3) == '=') {
              var k = j + 4
              while (k < end && payload(k) != SOH) k += 1
              msg = fixMsgName(payload, j + 4, k)
            }
            j += 1
          }
          if (msg != null) out += msg
          i = j + 1
        }
      } else i += 1
    }
    out
  }

  /** Cap on buffered reassembly bytes per TCP direction; a PDU larger than
    * this is abandoned rather than risking unbounded executor memory. */
  private val MaxCarry = 1 << 20

  /** True iff every byte of [from, until) is already below the direction's
    * reassembly cursor or covered by buffered out-of-order runs — i.e. the
    * segment brings nothing the stream hasn't seen (exact retransmission
    * test under desegment, vs the nxtseq heuristic of the plain scan). */
  private def noNewBytes(conv: TcpConv, dir: Int, from: Long, until: Long): Boolean = {
    var cur = math.max(from, conv.expSeq(dir))
    val m = conv.ooo(dir)
    while (cur < until) {
      val e = m.floorEntry(cur)
      if (e == null || e.getKey + e.getValue.length <= cur) return false
      cur = e.getKey + e.getValue.length
    }
    true
  }

  /** Scan `buf` for COMPLETE FIX messages (from "8=FIX" up to and including
    * the SOH-terminated checksum field "10=xxx<SOH>").
    * @return (msgtype names of complete messages, bytes consumed) — the
    *   unconsumed tail is either a partial message start or garbage-free. */
  private def fixCompleteMessages(buf: Array[Byte]): (mutable.ArrayBuffer[String], Int) = {
    val out = mutable.ArrayBuffer.empty[String]
    var consumed = 0
    var i = 0
    val n = buf.length
    while (i < n) {
      // next message start
      while (i < n - 4 && !(buf(i) == '8' && buf(i + 1) == '=' && buf(i + 2) == 'F' &&
        buf(i + 3) == 'I' && buf(i + 4) == 'X')) i += 1
      if (i >= n - 4)
        // no further complete start: consume everything except a trailing
        // proper prefix of "8=FIX" (which the next segment may complete)
        return (out, math.max(consumed, fixPrefixStart(buf, n, consumed)))
      val start = i
      // find terminator <SOH>10=...<SOH>
      var msg: String = null
      var end = -1
      var j = start
      while (j < n - 3 && end < 0) {
        if (buf(j) == SOH && buf(j + 1) == '1' && buf(j + 2) == '0' && buf(j + 3) == '=') {
          var k = j + 4
          while (k < n && buf(k) != SOH) k += 1
          if (k < n) end = k + 1 // complete (checksum SOH-terminated)
          else j = n // incomplete checksum: stop
        } else j += 1
      }
      if (end < 0) return (out, start) // partial message: carry from its start
      // msgtype inside [start, end)
      var m = start
      while (m < end - 3 && msg == null) {
        if (buf(m) == SOH && buf(m + 1) == '3' && buf(m + 2) == '5' && buf(m + 3) == '=') {
          var k = m + 4
          while (k < end && buf(k) != SOH) k += 1
          msg = fixMsgName(buf, m + 4, k)
        }
        m += 1
      }
      if (msg != null) out += msg
      consumed = end
      i = end
    }
    (out, consumed)
  }

  /** Start index of a trailing proper prefix of "8=FIX" in buf[floor, n),
    * or n when the tail ends in no such prefix. */
  private def fixPrefixStart(buf: Array[Byte], n: Int, floor: Int): Int = {
    val marker = "8=FIX".getBytes("ISO-8859-1")
    var l = math.min(4, n - floor)
    while (l > 0) {
      var ok = true
      var i = 0
      while (ok && i < l) { if (buf(n - l + i) != marker(i)) ok = false; i += 1 }
      if (ok) return n - l
      l -= 1
    }
    n
  }

  private val hexDigits: Array[Byte] = "0123456789abcdef".getBytes("ISO-8859-1")

  /** Per byte value, "hh:" as a little-endian int: its fourth byte is
    * overwritten by the next byte's render. */
  private val hexColon: Array[Int] = Array.tabulate(256)(b =>
    hexDigits(b >> 4) | (hexDigits(b & 0xf) << 8) | (':' << 16))
  private val intLE = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Int]], java.nio.ByteOrder.LITTLE_ENDIAN)
  private val shortLE = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Short]], java.nio.ByteOrder.LITTLE_ENDIAN)

  /** "0a:1b:…" render of `d[off, off + len)` into `out` at `at`; returns
    * the end offset (`len * 3 - 1` bytes, none for an empty range). One
    * 4-byte store per byte but the last, which stores its two digits, so
    * nothing is written at or past the end offset. */
  private[pcap] def hexInto(d: Array[Byte], off: Int, len: Int, out: Array[Byte], at: Int): Int = {
    if (len == 0) return at
    var i = 0
    var o = at
    while (i < len - 1) {
      intLE.set(out, o, hexColon(d(off + i) & 0xff))
      i += 1
      o += 3
    }
    shortLE.set(out, o, hexColon(d(off + i) & 0xff).toShort)
    o + 2
  }

  private def hexBytes(d: Array[Byte], off: Int, len: Int): String = {
    if (len == 0) return ""
    val out = new Array[Byte](len * 3 - 1)
    latin1(out, hexInto(d, off, len, out, 0))
  }

  /** Hex column write, rendered straight into the field's byte slot
    * (payload columns render every captured byte of every packet). */
  private def putHex(v: FieldVec, i: Int, d: Array[Byte], off: Int, len: Int): Unit = {
    val at = v.reserve(i, if (len == 0) 0 else len * 3 - 1)
    if (at >= 0) hexInto(d, off, len, v.bytes(i), at)
  }

  /** Writes one address pair's two columns and its "Source or
    * Destination" column from `scratch`, which holds "first,second" with
    * the comma at `comma` and ends at `end`. */
  private def putPair(v: FieldVec, firstId: Int, secondId: Int, pairId: Int,
      scratch: Array[Byte], comma: Int, end: Int): Unit = {
    v.setBytes(firstId, scratch, 0, comma)
    v.setBytes(secondId, scratch, comma + 1, end - comma - 1)
    v.setBytes(pairId, scratch, 0, end)
  }

  // --- main entry --------------------------------------------------------

  /** Dissect one record; mutates `tracker` conversation state. Never throws
    * on malformed packets: fields stop populating at the parse horizon
    * (mirrors the reference's NULL-on-parse-failure semantics, SURVEY §1.2).
    */
  def dissect(rec: PcapFormat.Record, linktype: Int, tracker: Tracker,
      wanted: Wanted = WantAll): Dissected = {
    // presized: a full tcp dissection writes ~45 fields; default sizing
    // would rehash the map 3 times per packet
    val v =
      if (tracker.pooledVec != null) {
        tracker.pooledVec.clear()
        tracker.pooledVec
      } else new FieldVec
    v.demanding(wanted.fields)
    val protos =
      if (tracker.pooledProtos != null) { tracker.pooledProtos.clear(); tracker.pooledProtos }
      else mutable.ArrayBuffer.empty[String]
    var info = ""

    if (tracker.firstPacketMicros < 0) tracker.firstPacketMicros = rec.tsMicros
    val timeRelMicros = rec.tsMicros - tracker.firstPacketMicros
    val timeDeltaMicros =
      if (tracker.prevPacketMicros < 0) 0L else rec.tsMicros - tracker.prevPacketMicros
    tracker.prevPacketMicros = rec.tsMicros
    tracker.currentTsMicros = rec.tsMicros

    v.set(Id_frame_number, rec.number)
    v.set(Id_frame_len, rec.origLen.toLong)
    v.set(Id_frame_cap_len, rec.inclLen.toLong)
    v.set(Id_frame_time_epoch, rec.tsMicros) // micros; sink applies compat truncation
    v.set(Id_frame_time_epoch_ns, rec.epochNanos) // lossless ns rewrite path
    v.set(Id_frame_time_relative, timeRelMicros)
    v.set(Id_frame_time_delta, timeDeltaMicros)

    val d = rec.data
    if (wanted.raw) putHex(v, Id_frame_raw, d, 0, d.length)
    try {
      if (!wanted.layers) {
        val c = tracker.chains.intern(protos)
        return new Dissected(v, c, tracker.chains.joined(c), "")
      }
      linktype match {
        case 1 => // Ethernet
          val s = dissectEthFrom(d, 0, v, protos, tracker, wanted)
          if (s != null) info = s
          // PRP-1 redundancy control trailer (IEC 62439-3 §4.2.7): the
          // frame ENDS with seq(2) | lan-id(4b)+size(12b) | suffix 0x88FB.
          // The suffix alone false-positives ~1/65536 on arbitrary
          // payloads, so (like Wireshark's dissector) also require the
          // trailer's 12-bit LSDU size to equal the PRP-covered length:
          // everything after the Ethernet II header — 14 bytes untagged,
          // 18 with an 802.1Q tag (ADVICE r11: tagged PRP frames were
          // silently rejected by the untagged-only size check).
          if (d.length >= 20 && u16(d, d.length - 2) == 0x88fb && {
              val hdr = if (d.length >= 18 && u16(d, 12) == 0x8100) 18 else 14
              (u16(d, d.length - 4) & 0xfff) == ((d.length - hdr) & 0xfff)
            }) {
            protos += "prp"
            v("prp.sequence_nr") = u16(d, d.length - 6).toLong
            v("prp.lan_id") = (u8(d, d.length - 4) >> 4).toLong
          }
        case 101 => // raw IP
          if (d.length >= 1 && (d(0) >> 4) == 4) {
            val s = dissectIpv4(d, 0, v, protos, tracker, wanted); if (s != null) info = s
          } else if (d.length >= 1 && ((d(0) >> 4) & 0xf) == 6) {
            val s = dissectIpv6(d, 0, v, protos, tracker, wanted); if (s != null) info = s
          }
        case 113 => // Linux cooked capture v1 (tcpdump -i any)
          val s = dissectSll(d, 0, v, protos, tracker, wanted)
          if (s != null) info = s
        case 0 => // BSD loopback/NULL: 4-byte HOST-order address family
          if (d.length >= 5) {
            protos += "null"
            // AF written in the capturing host's byte order (values < 256,
            // so exactly one end of the word is nonzero) — accept either
            val af = if (u8(d, 0) != 0) u8(d, 0) else u8(d, 3)
            v("null.family") = af.toLong
            val s = af match {
              case 2 => dissectIpv4(d, 4, v, protos, tracker, wanted)
              case 24 | 28 | 30 => dissectIpv6(d, 4, v, protos, tracker, wanted)
              case _ => null
            }
            if (s != null) info = s
          }
        case 276 => // Linux cooked capture v2 (libpcap >= 1.10 -i any)
          if (d.length >= 20) {
            protos += "sll"
            val proto = u16(d, 0)
            v("sll.etype") = proto.toLong
            v("sll.pkttype") = u8(d, 10).toLong
            v("sll.hatype") = u16(d, 8).toLong
            protos += "ethertype"
            val s = proto match {
              case 0x0800 => dissectIpv4(d, 20, v, protos, tracker, wanted)
              case 0x86dd => dissectIpv6(d, 20, v, protos, tracker, wanted)
              case 0x0806 =>
                protos += "arp"
                dissectArp(d, 20, v)
              case _ => null
            }
            if (s != null) info = s
          }
        case 105 => // IEEE 802.11 (monitor mode, no radio header)
          val s = dissectWlan(d, 0, v, protos, tracker, wanted)
          if (s != null) info = s
        case 127 => // radiotap + 802.11
          if (d.length >= 4 && u8(d, 0) == 0) {
            val rlen = u8(d, 2) | (u8(d, 3) << 8) // LE length
            if (rlen >= 8 && rlen <= d.length) {
              protos += "radiotap"
              v("radiotap.version") = 0L
              v("radiotap.length") = rlen.toLong
              val s = dissectWlan(d, rlen, v, protos, tracker, wanted)
              if (s != null) info = s
            }
          }
        case 187 => // Bluetooth HCI H4, no pseudo-header: direction is
          // inferred from the packet type (commands only travel
          // host->controller, events only controller->host)
          val s = dissectHciH4(d, 0, -1, v, protos, tracker)
          if (s != null) info = s
        case 201 => // Bluetooth HCI H4 with 4-byte BE direction word
          if (d.length >= 5) {
            val dir = (u32(d, 0) & 1L).toInt // 0 sent, 1 rcvd
            v("hci_h4.direction") = dir.toLong
            val s = dissectHciH4(d, 4, dir, v, protos, tracker)
            if (s != null) info = s
          }
        case 251 => // Bluetooth LE link layer (over-the-air, AA-first)
          val s = dissectBtle(d, 0, v, protos, tracker)
          if (s != null) info = s
        case 227 => // SocketCAN (Linux CAN pseudo-header)
          val s = dissectCan(d, 0, v, protos)
          if (s != null) info = s
        case 210 => // FlexRay frame/symbol with measurement byte
          val s = dissectFlexray(d, 0, v, protos)
          if (s != null) info = s
        case 10 => // FDDI: FC + dst + src, then LLC
          if (d.length >= 13) {
            protos += "fddi"
            v("fddi.fc") = u8(d, 0).toLong
            v("fddi.dst") = macStr(d, 1)
            v("fddi.src") = macStr(d, 7)
            val s = dissectLlcWithIp(d, 13, d.length, v, protos, tracker, wanted)
            if (s != null) info = s
          }
        case 6 => // IEEE 802.5 Token Ring: AC + FC + dst + src (+RIF), LLC
          if (d.length >= 14) {
            protos += "tr"
            v("tr.fc") = u8(d, 1).toLong
            v("tr.dst") = macStr(d, 2)
            v("tr.src") = macStr(d, 8)
            // source-routing present when the src MAC's top bit is set:
            // the RIF's length lives in the low 5 bits of its first byte
            var p = 14
            if ((u8(d, 8) & 0x80) != 0 && d.length >= 16) p += u8(d, 14) & 0x1f
            val s = dissectLlcWithIp(d, p, d.length, v, protos, tracker, wanted)
            if (s != null) info = s
          }
        case 7 => // classic BSD ARCNET: source, destination, protocol id
          if (d.length >= 3) {
            protos += "arcnet"
            v("arcnet.src") = u8(d, 0).toLong
            v("arcnet.dst") = u8(d, 1).toLong
            v("arcnet.protID") = u8(d, 2).toLong
            info = f"ARCNET, Src: 0x${u8(d, 0)}%02x, Dst: 0x${u8(d, 1)}%02x"
          }
        case 3 => // AX.25 (amateur packet radio)
          val s = dissectAx25(d, 0, v, protos, tracker, wanted)
          if (s != null) info = s
        case 107 => // Frame Relay: Q.922 address, UI control, NLPID
          val s = dissectFrameRelay(d, 0, v, protos, tracker, wanted)
          if (s != null) info = s
        case 104 => // Cisco HDLC
          if (d.length >= 4) {
            protos += "chdlc"
            v("chdlc.address") = u8(d, 0).toLong
            val proto = u16(d, 2)
            v("chdlc.protocol") = proto.toLong
            val s = proto match {
              case 0x0800 => dissectIpv4(d, 4, v, protos, tracker, wanted)
              case 0x86dd => dissectIpv6(d, 4, v, protos, tracker, wanted)
              case _ => null
            }
            info = if (s != null) s else f"Cisco HDLC, protocol 0x$proto%04x"
          }
        case 203 => // LAPD (Q.921): 2-byte address, control, then Q.931
          val s = dissectLapd(d, 0, v, protos)
          if (s != null) info = s
        case 207 => // LAPB with 1-byte direction pseudo-header, then X.25
          if (d.length >= 3) {
            protos += "lapb"
            v("lapb.address") = u8(d, 1).toLong
            v("lapb.control") = u8(d, 2).toLong
            val s =
              if ((u8(d, 2) & 1) == 0) dissectX25Packet(d, 3, v, protos) // I frame
              else null
            info = if (s != null) s else "LAPB"
          }
        case 140 => // MTP2 (SS7 level 2): BSN/BIB + FSN/FIB + LI, then MTP3
          if (d.length >= 3) {
            protos += "mtp2"
            v("mtp2.bsn") = (u8(d, 0) & 0x7f).toLong
            v("mtp2.fsn") = (u8(d, 1) & 0x7f).toLong
            v("mtp2.li") = (u8(d, 2) & 0x3f).toLong
            // an MSU (LI > 2) carries MTP3: SIO, then the packed 14+14+4
            // routing label (ITU), then the user part
            if ((u8(d, 2) & 0x3f) > 2 && d.length >= 8) {
              protos += "mtp3"
              val si = u8(d, 3) & 0x0f
              v("mtp3.service_indicator") = si.toLong
              val label = (u8(d, 4).toLong) | (u8(d, 5).toLong << 8) |
                (u8(d, 6).toLong << 16) | (u8(d, 7).toLong << 24)
              v("mtp3.dpc") = label & 0x3fffL
              v("mtp3.opc") = (label >> 14) & 0x3fffL
              if (si == 3 && d.length >= 9) {
                protos += "sccp"
                val mt = u8(d, 8)
                v("sccp.message_type") = mt.toLong
                info = mt match {
                  case 0x09 => "SCCP (UDT)"; case 0x11 => "SCCP (XUDT)"
                  case m => f"SCCP 0x$m%02x"
                }
              } else info = s"MTP3 SI $si"
            } else info = "MTP2 FISU/LSSU"
          }
        case 253 => // Linux netlink monitor: raw nlmsghdr (all LE)
          if (d.length >= 16) {
            protos += "netlink"
            v("netlink.hdr_type") = (u8(d, 4) | (u8(d, 5) << 8)).toLong
            v("netlink.hdr_flags") = (u8(d, 6) | (u8(d, 7) << 8)).toLong
            v("netlink.seq") = ((u8(d, 8).toLong) | (u8(d, 9).toLong << 8) |
              (u8(d, 10).toLong << 16) | (u8(d, 11).toLong << 24))
            info = s"Netlink type ${u8(d, 4) | (u8(d, 5) << 8)}"
          }
        case 271 => // Linux vsockmon: af_vsockmon_hdr (all LE)
          if (d.length >= 28) {
            protos += "vsock"
            def le64(o: Int): Long = (0 until 8)
              .map(i => (u8(d, o + i).toLong) << (8 * i)).reduce(_ | _)
            v("vsock.src_cid") = le64(0)
            v("vsock.dst_cid") = le64(8)
            val op = u8(d, 24) | (u8(d, 25) << 8)
            v("vsock.op") = op.toLong
            info = op match {
              case 1 => "CONNECT"; case 2 => "Payload"; case 3 => "DISCONNECT"
              case o => s"vsock op $o"
            }
          }
        case 189 => // Linux usbmon: urb id, event, xfer type, endpoint, ...
          if (d.length >= 16) {
            protos += "usb"
            val xfer = u8(d, 9)
            val ep = u8(d, 10)
            v("usb.transfer_type") = xfer.toLong
            v("usb.endpoint_address") = ep.toLong
            val kind = xfer match {
              case 0 => "ISO"; case 1 => "INTR"; case 2 => "BULK"; case 3 => "CTRL"
              case x => s"xfer $x"
            }
            val dir = if ((ep & 0x80) != 0) "in" else "out"
            info = f"URB $kind $dir, ep 0x$ep%02x"
          }
        case 270 => // LoRaTap: 15-byte v0 header (version, padding,
          // big-endian length, radio metadata), then the LoRaWAN
          // PHYPayload whose MHDR top 3 bits are the message type
          if (d.length >= 16 && u8(d, 0) == 0) {
            protos += "loratap"
            val hlen = u16(d, 2)
            if (hlen >= 15 && hlen < d.length) {
              protos += "lorawan"
              v("lorawan.mhdr.mtype") = (u8(d, hlen) >> 5).toLong
              info = (u8(d, hlen) >> 5) match {
                case 0 => "Join-Request"
                case 1 => "Join-Accept"
                case 2 => "Unconfirmed Data Up"
                case 3 => "Unconfirmed Data Down"
                case 4 => "Confirmed Data Up"
                case 5 => "Confirmed Data Down"
                case m => s"LoRaWAN MType $m"
              }
            }
          }
        case 247 => // InfiniBand: LRH, then (LNH=2) the BTH whose first
          // byte is the transport opcode
          if (d.length >= 20) {
            protos += "infiniband"
            val lnh = u8(d, 1) & 0x3
            if (lnh == 2) {
              val op = u8(d, 8)
              v("infiniband.opcode") = op.toLong
              info = op match {
                case 0x04 => "RC Send Only"
                case 0x0a => "RC RDMA Write Only"
                case 0x0c => "RC RDMA Read Request"
                case o => f"IB opcode 0x$o%02x"
              }
            } else info = "InfiniBand"
          }
        case 123 => // SunATM: flags + VPI + VCI(BE), then the AAL5 LLC payload
          if (d.length >= 4) {
            protos += "atm"
            v("atm.vpi") = u8(d, 1).toLong
            val vci = u16(d, 2)
            v("atm.vci") = vci.toLong
            if (vci == 5 && d.length >= 8) {
              // the signaling channel (VPI 0 / VCI 5) carries SSCOP: the
              // PDU type sits in the low nibble of the TRAILER's first
              // byte (ITU-T Q.2110 §7.2 — SSCOP fields are end-aligned)
              protos += "sscop"
              val t = u8(d, d.length - 4) & 0x0f
              v("sscop.type") = t.toLong
              info = t match {
                case 1 => "BGN"; case 2 => "BGAK"; case 8 => "SD"
                case 6 => "END"; case x => f"SSCOP PDU 0x$x%x"
              }
            } else {
              // an LLC/SNAP-led payload is AAL5 LLC-multiplexed traffic
              if (d.length >= 7 && u8(d, 4) == 0xaa && u8(d, 5) == 0xaa)
                v("atm.aal") = 5L
              val s = dissectLlcWithIp(d, 4, d.length, v, protos, tracker, wanted)
              if (s != null) info = s
            }
          }
        case _ =>
          info = s"Linktype $linktype"
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException => // truncated capture: keep what we have
    }

    val c = tracker.chains.intern(protos)
    if (info eq InfoInBuf)
      new Dissected(v, c, tracker.chains.joined(c), null, tracker.infoBuf.buf, tracker.infoBuf.len)
    else new Dissected(v, c, tracker.chains.joined(c), info)
  }

  /** Ethernet (+optional 802.1Q) from `off` — also the tunnel re-entry
    * point for VXLAN / GRE transparent bridging.
    * @return info string or null when nothing inner produced one */
  private def dissectEthFrom(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    protos += "eth"
    if (d.length < off + 14) return null
    // dst, src, the "Source or Destination" rendering, the dst
    // group/individual bit
    if (v.wantsAny(Id_eth_dst, Id_eth_src, Id_eth_addr)) {
      val s = tracker.addrs
      val comma = hexInto(d, off, 6, s, 0)
      s(comma) = ','
      putPair(v, Id_eth_dst, Id_eth_src, Id_eth_addr, s, comma, hexInto(d, off + 6, 6, s, comma + 1))
    }
    v.set(Id_eth_ig, (u8(d, off) & 0x01) != 0)
    var etherType = u16(d, off + 12)
    var l3off = off + 14
    if (etherType == 0x8100 && d.length >= l3off + 4) { // 802.1Q tag
      protos += "vlan"
      val tci = u16(d, l3off)
      v.set(Id_vlan_id, (tci & 0x0fff).toLong)
      v("vlan.priority") = ((tci >> 13) & 0x7).toLong
      v("vlan.dei") = (tci & 0x1000) != 0
      v("vlan.etype") = u16(d, l3off + 2).toLong
      etherType = u16(d, l3off + 2)
      l3off += 4
    }
    if (etherType >= 0x0600) {
      // 802.3 frames carry a LENGTH here, not a type — no ethertype layer
      v.set(Id_eth_type, etherType.toLong)
      protos += "ethertype"
    } else v("eth.len") = etherType.toLong
    etherType match {
      case 0x0800 => dissectIpv4(d, l3off, v, protos, tracker, wanted)
      case 0x86dd => dissectIpv6(d, l3off, v, protos, tracker, wanted)
      case 0x0806 =>
        protos += "arp"
        dissectArp(d, l3off, v)
      case 0x88cc =>
        dissectLldp(d, l3off, v, protos)
      case 0x88a2 =>
        dissectAoe(d, l3off, v, protos)
      case 0x8863 =>
        dissectPppoed(d, l3off, v, protos)
      case 0x8864 =>
        dissectPppoeSession(d, l3off, v, protos)
      case 0x0842 =>
        dissectWol(d, l3off, d.length, v, protos)
      case 0x8809 =>
        dissectSlow(d, l3off, d.length, v, protos)
      case 0x88f7 =>
        dissectPtp(d, l3off, d.length - l3off, v, protos)
      case 0x8847 | 0x8848 =>
        dissectMpls(d, l3off, v, protos, tracker, wanted)
      case 0x888e =>
        dissectEapol(d, l3off, v, protos)
      case 0x88a4 =>
        dissectEcat(d, l3off, v, protos)
      case 0x88ca =>
        dissectTipc(d, l3off, v, protos)
      case 0x88ba =>
        dissectSv(d, l3off, v, protos)
      case 0x88b8 =>
        dissectGoose(d, l3off, v, protos)
      case 0x88e5 =>
        dissectMacsec(d, l3off, v, protos)
      case 0x8906 =>
        dissectFcoe(d, l3off, v, protos)
      case 0x80f3 =>
        dissectAarp(d, l3off, v, protos)
      case 0x809b =>
        dissectDdp(d, l3off, v, protos)
      case 0x8137 =>
        dissectIpx(d, l3off, v, protos)
      case 0x22f0 =>
        dissectIeee1722(d, l3off, v, protos)
      case 0x88d9 =>
        dissectLltd(d, l3off, v, protos)
      case 0xaefe =>
        dissectEcpri(d, l3off, v, protos)
      case 0x8902 =>
        dissectCfm(d, l3off, v, protos)
      case 0x4305 =>
        dissectBatadv(d, l3off, v, protos)
      case 0x8892 if d.length >= l3off + 2 =>
        // PROFINET Real-Time: FrameID, payload, trailing APDU status
        protos += "pn_rt"
        val fid = u16(d, l3off)
        v("pn_rt.frame_id") = fid.toLong
        if (d.length >= l3off + 6)
          v("pn_rt.cycle_counter") = u16(d, d.length - 4).toLong
        if (fid >= 0x8000 && fid <= 0xbfff) "PROFINET IO Cyclic Service Data Unit"
        else if (fid >= 0xfefc && fid <= 0xfeff) {
          // PN-DCP (discovery/configuration): service id/type, xid, then
          // the first option/suboption of the block list
          if (d.length >= l3off + 12) {
            protos += "pn_dcp"
            val svc = u8(d, l3off + 2)
            val styp = u8(d, l3off + 3)
            val xid = u32(d, l3off + 4)
            v("pn_dcp.service_id") = svc.toLong
            if (d.length >= l3off + 13) v("pn_dcp.option") = u8(d, l3off + 12).toLong
            val svcName = Map(3 -> "Get", 4 -> "Set", 5 -> "Ident", 6 -> "Hello")
              .getOrElse(svc, s"Service $svc")
            val typName = if (styp == 0) "Req" else "Ok"
            f"DCP $svcName $typName, Xid:0x$xid%x"
          } else "PROFINET DCP"
        }
        else if (fid == 0xfe01) "PROFINET Alarm Low"
        else f"PROFINET FrameID 0x$fid%04x"
      case 0x88ab if d.length >= l3off + 3 =>
        // Ethernet POWERLINK: message type (low 7 bits), dest, src nodes
        protos += "epl"
        val mtyp = u8(d, l3off) & 0x7f
        v("epl.mtyp") = mtyp.toLong
        v("epl.dest") = u8(d, l3off + 1).toLong
        v("epl.src") = u8(d, l3off + 2).toLong
        Map(1 -> "SoC", 3 -> "PReq", 4 -> "PRes", 5 -> "SoA", 6 -> "ASnd")
          .getOrElse(mtyp, s"EPL ($mtyp)")
      case lenField if lenField < 0x0600 =>
        // 802.3: the EtherType slot is a payload LENGTH → LLC follows
        dissectLlc(d, l3off, math.min(d.length, l3off + lenField), v, protos)
      case other =>
        f"Ethernet II (0x$other%04x)"
    }
  }

  private lazy val wlanMgmtNames: Map[Int, String] = Map(
    0 -> "Association Request", 1 -> "Association Response",
    4 -> "Probe Request", 5 -> "Probe Response", 8 -> "Beacon",
    10 -> "Disassociate", 11 -> "Authentication", 12 -> "Deauthentication")

  /** IEEE 802.11 MAC (linktypes 105/127): frame control decode with the
    * ToDS/FromDS address mapping, SSID from the management tagged
    * parameters (beacon/probe), and LLC/SNAP decapsulation of
    * unprotected data frames into the IP dissectors — the monitor-mode
    * capture path. Protected (WEP/WPA) payloads stop at the MAC layer. */
  private def dissectWlan(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 10) return null
    val fc = u8(d, off) | (u8(d, off + 1) << 8) // LE frame control
    if ((fc & 0x3) != 0) return null // protocol version must be 0
    val ftype = (fc >> 2) & 0x3
    val subtype = (fc >> 4) & 0xf
    protos += "wlan"
    v("wlan.fc.type") = ftype.toLong
    v("wlan.fc.subtype") = subtype.toLong
    v("wlan.fc.retry") = (fc & 0x0800) != 0
    v("wlan.fc.protected") = (fc & 0x4000) != 0
    v("wlan.duration") = (u8(d, off + 2) | (u8(d, off + 3) << 8)).toLong
    val toDs = (fc & 0x0100) != 0
    val fromDs = (fc & 0x0200) != 0
    val protected_ = (fc & 0x4000) != 0
    if (ftype == 1) { // control frames: addr1 only (RA)
      return subtype match {
        case 11 => "Request-to-send"
        case 12 => "Clear-to-send"
        case 13 => "Acknowledgement"
        case 9  => "Block Ack"
        case _  => s"Control frame ($subtype)"
      }
    }
    if (d.length < off + 24) return "802.11 (truncated)"
    val a1 = macStr(d, off + 4)
    val a2 = macStr(d, off + 10)
    val a3 = macStr(d, off + 16)
    // sequence control (LE): fragment number low 4 bits, sequence high 12
    v("wlan.seq") = ((u8(d, off + 22) | (u8(d, off + 23) << 8)) >> 4).toLong
    val (da, sa, bssid) =
      if (!toDs && !fromDs) (a1, a2, a3)
      else if (toDs && !fromDs) (a3, a2, a1)
      else if (!toDs && fromDs) (a1, a3, a2)
      else (a3, a2, null) // WDS: 4-address, BSSID ambiguous
    v("wlan.da") = da
    v("wlan.sa") = sa
    if (bssid != null) v("wlan.bssid") = bssid
    if (ftype == 0) { // management
      val name = wlanMgmtNames.getOrElse(subtype, s"Management frame ($subtype)")
      // tagged parameters: after 12 fixed bytes for beacon/probe-resp,
      // immediately for probe-request
      val tagOff = subtype match {
        case 8 | 5 => off + 24 + 12
        case 4     => off + 24
        case _     => -1
      }
      var ssid: String = null
      if (tagOff > 0) {
        var i = tagOff
        while (ssid == null && i + 2 <= d.length) {
          val tag = u8(d, i); val tlen = u8(d, i + 1)
          if (i + 2 + tlen > d.length) i = d.length
          else if (tag == 0) {
            ssid = new String(d, i + 2, tlen,
              java.nio.charset.StandardCharsets.UTF_8)
          } else i += 2 + tlen
        }
      }
      if (ssid != null) {
        v("wlan.ssid") = ssid
        return s"""$name frame, SSID="$ssid""""
      }
      return s"$name frame"
    }
    // data frames: QoS subtypes carry 2 extra control bytes before the body
    val body = off + 24 + (if ((subtype & 0x8) != 0) 2 else 0)
    val kind = if ((subtype & 0x8) != 0) "QoS Data" else "Data"
    if (protected_) return s"$kind (protected)"
    // LLC/SNAP: AA AA 03 <oui> <ethertype> → inner IP
    if (d.length >= body + 8 && u8(d, body) == 0xaa && u8(d, body + 1) == 0xaa &&
      u8(d, body + 2) == 0x03) {
      val etype = u16(d, body + 6)
      val inner = etype match {
        case 0x0800 => dissectIpv4(d, body + 8, v, protos, tracker, wanted)
        case 0x86dd => dissectIpv6(d, body + 8, v, protos, tracker, wanted)
        case 0x0806 =>
          protos += "arp"
          dissectArp(d, body + 8, v)
        case _ => null
      }
      if (inner != null) return inner
    }
    kind
  }

  /** Linux cooked-mode capture v1 (LINKTYPE_LINUX_SLL 113, the 16-byte
    * pseudo-header `tcpdump -i any` writes): packet type, ARPHRD hardware
    * type, link-layer address block, then the same EtherType dispatch the
    * Ethernet path takes. */
  private def dissectSll(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    protos += "sll"
    if (d.length < off + 16) return null
    v("sll.pkttype") = u16(d, off).toLong
    v("sll.hatype") = u16(d, off + 2).toLong
    val proto = u16(d, off + 14)
    v("sll.etype") = proto.toLong
    protos += "ethertype"
    proto match {
      case 0x0800 => dissectIpv4(d, off + 16, v, protos, tracker, wanted)
      case 0x86dd => dissectIpv6(d, off + 16, v, protos, tracker, wanted)
      case 0x0806 =>
        protos += "arp"
        dissectArp(d, off + 16, v)
      case other => f"Linux cooked capture (0x$other%04x)"
    }
  }

  /** LLDP (IEEE 802.1AB, ethertype 0x88CC): TLV walk surfacing the three
    * mandatory TLVs — Chassis ID (MAC subtype decoded), Port ID, TTL. */
  private def dissectLldp(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    protos += "lldp"
    var i = off
    var chassis: String = null
    var port: String = null
    var ttl = -1L
    var guard = 0
    while (i + 2 <= d.length && guard < 32) {
      val hdr = u16(d, i)
      val tpe = hdr >>> 9
      val len = hdr & 0x1ff
      if (tpe == 0) { guard = 32 } // End of LLDPDU
      else if (i + 2 + len > d.length) { guard = 32 }
      else {
        if (guard == 0) v("lldp.tlv.type") = tpe.toLong
        if (guard == 0) v("lldp.tlv.len") = len.toLong
        tpe match {
          case 1 if len >= 2 =>
            val sub = u8(d, i + 2)
            v("lldp.chassis.subtype") = sub.toLong
            if (sub == 4 && len >= 7) { // MAC address
              chassis = macStr(d, i + 3)
              v("lldp.chassis.id.mac") = chassis
            }
          case 2 if len >= 2 =>
            v("lldp.port.subtype") = u8(d, i + 2).toLong
            port = new String(d, i + 3, len - 1, "ISO-8859-1")
          case 3 if len >= 2 =>
            ttl = u16(d, i + 2).toLong
            v("lldp.time.ttl") = ttl
          case _ =>
        }
        i += 2 + len
        guard += 1
      }
    }
    val parts = mutable.ArrayBuffer.empty[String]
    if (chassis != null) parts += s"Chassis Id = $chassis"
    if (port != null) parts += s"Port Id = $port"
    if (ttl >= 0) parts += s"TTL = $ttl"
    if (parts.isEmpty) "LLDP" else parts.mkString(", ")
  }

  /** GRE (RFC 2784/2890): skip the header per its flag bits, then recurse
    * into the inner payload with the FieldVec in nested mode (tshark's
    * multi-occurrence semantics: address strings comma-append, numeric
    * fields keep the OUTER value — the reference's stoll/stod prefix
    * parse observes the first occurrence). */
  /** MPLS label stack (RFC 3032): 4-byte entries — label(20) exp(3)
    * bottom(1) ttl(8) — walked to the bottom-of-stack bit; the emitted
    * fields keep the TOP entry (the reference's stoll prefix parse
    * observes the first occurrence of multi-valued numeric fields). The
    * payload after the stack has no protocol field — sniff the IP
    * version nibble, tshark's heuristic. */
  private def dissectMpls(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 4) return null
    protos += "mpls"
    val top = u32(d, off)
    v("mpls.label") = (top >>> 12) & 0xfffffL
    v("mpls.exp") = ((top >>> 9) & 0x7L)
    v("mpls.bottom") = ((top >>> 8) & 0x1L)
    v("mpls.ttl") = (top & 0xffL)
    var p = off
    // walk to the bottom-of-stack entry (stack depth bounded by frame len)
    while (p + 4 <= d.length && (u32(d, p) & 0x100L) == 0L) p += 4
    val inner = p + 4
    val res =
      if (inner < d.length) (u8(d, inner) >> 4) match {
        case 4 => dissectIpv4(d, inner, v, protos, tracker, wanted)
        case 6 => dissectIpv6(d, inner, v, protos, tracker, wanted)
        case _ => null
      } else null
    if (res != null) res else "MPLS Label Switched Packet"
  }

  private def dissectGre(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (end < off + 4) return null
    protos += "gre"
    val flags = u16(d, off)
    val proto = u16(d, off + 2)
    v("gre.proto") = proto.toLong
    var p = off + 4
    if ((flags & 0xc000) != 0) p += 4 // checksum + reserved (C or R set)
    if ((flags & 0x2000) != 0) p += 4 // key
    if ((flags & 0x1000) != 0) p += 4 // sequence number
    val wasNested = v.nested
    v.nested = true
    val inner =
      try proto match {
        case 0x0800 => dissectIpv4(d, p, v, protos, tracker, wanted)
        case 0x86dd => dissectIpv6(d, p, v, protos, tracker, wanted)
        case 0x6558 => dissectEthFrom(d, p, v, protos, tracker, wanted) // transparent bridging
        case 0x88be if end >= p + 8 =>
          // ERSPAN Type II (Cisco): 8-byte header — ver(4)+vlan(12),
          // cos/en/t + session id(10), reserved+index — then the
          // mirrored Ethernet frame. (Type I — no header — is signalled
          // by the GRE sequence bit being absent; tshark still inserts
          // the erspan layer, with no fields.)
          protos += "erspan"
          val innerOff = if ((flags & 0x1000) != 0) {
            v("erspan.version") = ((u8(d, p) >> 4) & 0xf).toLong
            v("erspan.spanid") = (u16(d, p + 2) & 0x3ff).toLong
            p + 8
          } else p
          dissectEthFrom(d, innerOff, v, protos, tracker, wanted)
        case 0x2001 => dissectNhrp(d, p, end, v, protos)
        case _      => null
      } finally v.nested = wasNested
    if (inner != null) inner
    else s"Generic Routing Encapsulation (0x${"%04x".format(proto)})"
  }

  private lazy val nhrpOpNames = Map(
    1 -> "Resolution Request", 2 -> "Resolution Reply",
    3 -> "Registration Request", 4 -> "Registration Reply",
    5 -> "Purge Request", 6 -> "Purge Reply", 7 -> "Error Indication")

  /** NHRP (RFC 2332, GRE protocol 0x2001): 20-byte fixed header — the
    * NBMA next-hop resolution control plane of DMVPN overlays. */
  private def dissectNhrp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 20) return null
    if (u8(d, off + 16) != 1) return null // op_version
    val op = u8(d, off + 17)
    val name = nhrpOpNames.getOrElse(op, return null)
    protos += "nhrp"
    v("nhrp.hdr.afn") = u16(d, off).toLong
    v("nhrp.hdr.pro.type") = u16(d, off + 2).toLong
    // RFC 2332 §5.1 fixed header: hopcnt at +9, pktsz at +10, op
    // version at +16, packet type at +17
    v("nhrp.hdr.hopcnt") = u8(d, off + 9).toLong
    v("nhrp.hdr.pktsz") = u16(d, off + 10).toLong
    v("nhrp.hdr.version") = 1L
    v("nhrp.hdr.op.type") = op.toLong
    s"NHRP $name"
  }

  /** @return info string or null when the inner layer didn't produce one */
  private def dissectIpv4(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 20) return null
    protos += "ip"
    val ihl = (d(off) & 0xf) * 4
    val totalLen = u16(d, off + 2)
    val proto = u8(d, off + 9)
    v.set(Id_ip_version, ((d(off) >> 4) & 0xf).toLong)
    v.set(Id_ip_hdr_len, ihl.toLong)
    val tos = u8(d, off + 1)
    v.set(Id_ip_dsfield, tos.toLong)
    v.set(Id_ip_tos, tos.toLong)
    v.set(Id_ip_dsfield_dscp, (tos >> 2).toLong)
    v.set(Id_ip_dsfield_ecn, (tos & 0x3).toLong)
    v.set(Id_ip_len, totalLen.toLong)
    v.set(Id_ip_id, u16(d, off + 4).toLong)
    val flagsFrag = u16(d, off + 6)
    v.set(Id_ip_flags, ((flagsFrag >> 13) & 0x7).toLong)
    v.set(Id_ip_flags_rb, (flagsFrag & 0x8000) != 0)
    v.set(Id_ip_flags_df, (flagsFrag & 0x4000) != 0)
    v.set(Id_ip_flags_mf, (flagsFrag & 0x2000) != 0)
    v.set(Id_ip_frag_offset, (flagsFrag & 0x1fff).toLong)
    v.set(Id_ip_ttl, u8(d, off + 8).toLong)
    v.set(Id_ip_proto, proto.toLong)
    v.set(Id_ip_checksum, u16(d, off + 10).toLong)
    // tshark emits every occurrence comma-joined for -T fields; ip.addr is
    // defined as "Source or Destination" so both values appear ("src,dst").
    // (tcp.port/udp.port get the same treatment in tshark, but those are
    // BIGINT after the reference's type collapse and its std::stoll parse
    // stops at the comma — so source-only IS the reference's observable
    // value there; here ip.addr is VARCHAR and keeps the full string.)
    if (v.wantsAny(Id_ip_src, Id_ip_dst, Id_ip_addr)) {
      val s = tracker.addrs
      val comma = ipv4Into(d, off + 12, s, 0)
      s(comma) = ','
      putPair(v, Id_ip_src, Id_ip_dst, Id_ip_addr, s, comma, ipv4Into(d, off + 16, s, comma + 1))
    }
    val next = off + ihl
    // payload bounded by IP total length (ethernet padding must not leak in)
    val ipEnd = math.min(off + totalLen, d.length)
    // Non-first fragments carry raw payload where the L4 header would be —
    // dissecting them as TCP/UDP would emit garbage fields. Per-packet scan
    // (no desegment): render tshark's "Fragmented IP protocol" and stop.
    // Under desegment: buffer fragments keyed by (src, dst, proto, id) and
    // dissect the upper layer from the reassembled datagram on the
    // completing fragment, like tshark's defaulted IP reassembly.
    val fragOffset = flagsFrag & 0x1fff
    val mf = (flagsFrag & 0x2000) != 0
    if (fragOffset > 0 || (mf && tracker.desegment)) {
      if (tracker.desegment && ipEnd > next) {
        // RFC 791 reassembly identity is (src, dst, protocol, id) — pack
        // proto above the 16-bit id so same-id fragments of different
        // protocols never merge
        val id = (proto.toLong << 16) | u16(d, off + 4).toLong
        val part = java.util.Arrays.copyOfRange(d, next, ipEnd)
        tracker.addFrag(4, ipv4Str(d, off + 12), ipv4Str(d, off + 16), id, fragOffset * 8, part,
          last = !mf, proto) match {
          case (reasm, p) =>
            return p match {
              case 6  => dissectTcp(reasm, 0, reasm.length, d, off + 12, 4, v, protos, tracker, wanted)
              case 17 => dissectUdp(reasm, 0, reasm.length, d, off + 12, 4, v, protos, tracker, wanted)
              case 1  => protos += "icmp"; dissectIcmp(reasm, 0, v)
              case _  => null
            }
          case null =>
        }
      }
      return s"Fragmented IP protocol (proto=$proto, off=${fragOffset * 8}, ID=${"%04x".format(u16(d, off + 4))})"
    }
    proto match {
      case 6  => dissectTcp(d, next, ipEnd, d, off + 12, 4, v, protos, tracker, wanted)
      case 17 => dissectUdp(d, next, ipEnd, d, off + 12, 4, v, protos, tracker, wanted)
      case 1  => protos += "icmp"; dissectIcmp(d, next, v)
      case 2  => protos += "igmp"; dissectIgmp(d, next, ipEnd, v, protos)
      case 47 => dissectGre(d, next, ipEnd, v, protos, tracker, wanted)
      case 50 => protos += "esp"; dissectEsp(d, next, ipEnd, v)
      case 97 => dissectEtherip(d, next, ipEnd, v, protos, tracker, wanted)
      case 46 => dissectRsvp(d, next, ipEnd, v, protos)
      case 103 => dissectPim(d, next, ipEnd, v, protos)
      case 115 => dissectL2tpv3(d, next, ipEnd, v, protos)
      case 51 => dissectAh(d, next, ipEnd, d, off + 12, 4, v, protos, tracker, wanted)
      case 88  => dissectEigrp(d, next, ipEnd, v, protos)
      case 89  => protos += "ospf"; dissectOspf(d, next, ipEnd, v)
      case 112 => dissectVrrp(d, next, ipEnd, v, protos)
      case 132 => dissectSctp(d, next, ipEnd, v, protos)
      case 33  => dissectDccp(d, next, ipEnd, v, protos)
      case 113 => dissectPgm(d, next, ipEnd, v, protos)
      case 139 => dissectHip(d, next, ipEnd, v, protos)
      case 136 => dissectUdplite(d, next, ipEnd, v, protos)
      case _   => null
    }
  }

  /** UDP-Lite (RFC 3828, IP protocol 136): UDP's port pair but the
    * length word is a CHECKSUM COVERAGE — 0 covers everything, 1..7 is
    * illegal (the 8 header bytes must always be covered). */
  private def dissectUdplite(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 8) return null
    protos += "udplite"
    val sp = u16(d, off)
    val dp = u16(d, off + 2)
    val cov = u16(d, off + 4)
    v("udplite.srcport") = sp.toLong
    v("udplite.dstport") = dp.toLong
    v("udplite.checksum_coverage") = cov.toLong
    if ((cov >= 1 && cov <= 7) || cov > end - off)
      v("udplite.checksum_coverage.bad") = "Bad checksum coverage length value"
    s"UDP-Lite $sp → $dp Coverage=$cov"
  }

  /** VRRP v2 (RFC 3768, IP protocol 112): advertisement header + the
    * virtual-router address list (first address surfaced). */
  private def dissectVrrp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 8) return null
    val ver = u8(d, off) >>> 4
    val tpe = u8(d, off) & 0x0f
    // CARP shares IP protocol 112 and the version-2/type-1 advertisement
    // shape with VRRPv2; the sharp discriminator is its FIXED layout —
    // authlen is always 7 (HMAC-SHA1 in 32-bit words) where VRRP carries
    // the address count, and the whole packet is exactly 4 header words
    // + 8-byte counter + 20-byte HMAC = 36 bytes with no address list
    if (ver == 2 && tpe == 1 && end - off == 36 && u8(d, off + 3) == 7) {
      protos += "carp"
      v("carp.version") = 2L
      v("carp.type") = 1L
      v("carp.vhid") = u8(d, off + 1).toLong
      return s"CARP advertisement, VHID ${u8(d, off + 1)}"
    }
    protos += "vrrp"
    v("vrrp.version") = ver.toLong
    v("vrrp.type") = tpe.toLong
    val vrid = u8(d, off + 1)
    val prio = u8(d, off + 2)
    val cnt = u8(d, off + 3)
    v("vrrp.virt_rtr_id") = vrid.toLong
    v("vrrp.prio") = prio.toLong
    v("vrrp.addr_count") = cnt.toLong
    v("vrrp.adver_int") = u8(d, off + 5).toLong
    if (ver == 2 && cnt >= 1 && off + 12 <= end)
      v("vrrp.ip_addr") = ipv4Str(d, off + 8)
    val name = if (tpe == 1) "Announcement" else s"Type $tpe"
    s"$name (v$ver)"
  }

  private def dissectIpv6(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 40) return null
    protos += "ipv6"
    val payLen = u16(d, off + 4)
    val nxt = u8(d, off + 6)
    v.set(Id_ipv6_version, 6L)
    val vtf = u32(d, off)
    val tclass = ((vtf >> 20) & 0xff).toInt
    v.set(Id_ipv6_tclass, tclass.toLong)
    v.set(Id_ipv6_tclass_dscp, (tclass >> 2).toLong)
    v.set(Id_ipv6_tclass_ecn, (tclass & 0x3).toLong)
    v.set(Id_ipv6_flow, vtf & 0xfffffL)
    v.set(Id_ipv6_plen, payLen.toLong)
    v.set(Id_ipv6_nxt, nxt.toLong)
    v.set(Id_ipv6_hlim, u8(d, off + 7).toLong)
    if (v.wantsAny(Id_ipv6_src, Id_ipv6_dst, Id_ipv6_addr)) {
      val s = tracker.addrs // ipv6.addr is "Source or Destination", like ip.addr
      val comma = ipv6Into(d, off + 8, s, 0)
      s(comma) = ','
      putPair(v, Id_ipv6_src, Id_ipv6_dst, Id_ipv6_addr, s, comma, ipv6Into(d, off + 24, s, comma + 1))
    }
    val next = off + 40
    val end = math.min(next + payLen, d.length)
    // Walk the extension-header chain (hop-by-hop, routing, destination
    // options, fragment) to the upper-layer header — RFC 8200 §4. tshark
    // dissects through these by default; stopping at ipv6.nxt would lose
    // the L4 layer on any packet with a hop-by-hop option.
    var p = next
    var nxtH = nxt
    var fragOffB = -1
    var more = false
    var fragId = 0L
    var hops = 0
    var walking = true
    while (walking && hops < 8 && p + 8 <= end) {
      hops += 1
      nxtH match {
        case 0 | 43 | 60 =>
          protos += (nxtH match {
            case 0 => "ipv6.hopopts"; case 43 => "ipv6.routing"; case _ => "ipv6.dstopts"
          })
          val nn = u8(d, p)
          p += (u8(d, p + 1) + 1) * 8
          nxtH = nn
        case 44 =>
          protos += "ipv6.fraghdr"
          val fo = u16(d, p + 2)
          fragOffB = fo & 0xfff8
          more = (fo & 1) != 0
          fragId = u32(d, p + 4)
          nxtH = u8(d, p)
          p += 8
        case _ => walking = false
      }
    }
    if (fragOffB >= 0 && (fragOffB > 0 || more)) {
      if (tracker.desegment && end > p) {
        val part = java.util.Arrays.copyOfRange(d, p, end)
        // the upper-layer Next Header is authoritative only in the first
        // fragment (RFC 8200 §4.5) — FragAsm keeps that one
        tracker.addFrag(6, ipv6Str(d, off + 8), ipv6Str(d, off + 24), fragId, fragOffB, part,
          last = !more, if (fragOffB == 0) nxtH else -1) match {
          case (reasm, up) =>
            return up match {
              case 6  => dissectTcp(reasm, 0, reasm.length, d, off + 8, 16, v, protos, tracker, wanted)
              case 17 => dissectUdp(reasm, 0, reasm.length, d, off + 8, 16, v, protos, tracker, wanted)
              case 58 => protos += "icmpv6"; dissectIcmpv6(reasm, 0, reasm.length, v)
              case _  => null
            }
          case null =>
        }
      }
      return s"IPv6 fragment (nxt=$nxtH, off=$fragOffB, id=0x${"%08x".format(fragId)})"
    }
    nxtH match {
      case 6  => dissectTcp(d, p, end, d, off + 8, 16, v, protos, tracker, wanted)
      case 17 => dissectUdp(d, p, end, d, off + 8, 16, v, protos, tracker, wanted)
      case 58 => protos += "icmpv6"; dissectIcmpv6(d, p, end, v)
      case 47 => dissectGre(d, p, end, v, protos, tracker, wanted)
      case 50 => protos += "esp"; dissectEsp(d, p, end, v)
      case 97 => dissectEtherip(d, p, end, v, protos, tracker, wanted)
      case 46 => dissectRsvp(d, p, end, v, protos)
      case 103 => dissectPim(d, p, end, v, protos)
      case 115 => dissectL2tpv3(d, p, end, v, protos)
      case 51 => dissectAh(d, p, end, d, off + 8, 16, v, protos, tracker, wanted)
      case 89  => protos += "ospf"; dissectOspf(d, p, end, v)
      case 132 => dissectSctp(d, p, end, v, protos)
      case 33  => dissectDccp(d, p, end, v, protos)
      case _   => null
    }
  }

  /** ICMPv6 (RFC 4443/4861): echo + neighbor/router discovery. Reads are
    * bounded by `end` (the IPv6 payload boundary) so Ethernet trailer/FCS
    * bytes never parse as ICMPv6 content — same invariant as TCP/UDP. */
  private def dissectIcmpv6(d: Array[Byte], off: Int, end: Int, v: FieldVec): String = {
    if (end < off + 4) return "ICMPv6"
    val tpe = u8(d, off)
    val code = u8(d, off + 1)
    v("icmpv6.type") = tpe.toLong
    v("icmpv6.code") = code.toLong
    v("icmpv6.checksum") = u16(d, off + 2).toLong
    tpe match {
      case 128 | 129 if end >= off + 8 =>
        v("icmpv6.echo.identifier") = u16(d, off + 4).toLong
        v("icmpv6.echo.sequence_number") = u16(d, off + 6).toLong
        val idHex = "%04x".format(u16(d, off + 4))
        if (tpe == 128) s"Echo (ping) request id=0x$idHex, seq=${u16(d, off + 6)}"
        else s"Echo (ping) reply id=0x$idHex, seq=${u16(d, off + 6)}"
      case 135 if end >= off + 24 =>
        val target = ipv6Str(d, off + 8)
        v("icmpv6.nd.ns.target_address") = target
        s"Neighbor Solicitation for $target"
      case 136 if end >= off + 24 =>
        val target = ipv6Str(d, off + 8)
        v("icmpv6.nd.na.target_address") = target
        s"Neighbor Advertisement $target"
      case 133 => "Router Solicitation"
      case 134 => "Router Advertisement"
      case 1   => "Destination Unreachable"
      case 3   => "Time Exceeded"
      case _   => s"ICMPv6 type=$tpe code=$code"
    }
  }

  private lazy val ntpModes = Array("reserved", "symmetric active", "symmetric passive",
    "client", "server", "broadcast", "control", "private")

  /** NTP (RFC 5905) over UDP/123: flags byte + stratum. Accepts any
    * payload ≥ 2 bytes with a plausible version — mode-6 control packets
    * are only 12 bytes and snaplen truncation is common; the port gate
    * plus version check keeps false positives out (tshark behaves the
    * same: port-bound dissection, not length-bound). */
  private def dissectNtp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 2) return null
    val flags = u8(d, off)
    val vn = (flags >> 3) & 0x7
    val mode = flags & 0x7
    if (vn < 1 || vn > 4) return null // implausible version: not NTP
    protos += "ntp"
    v("ntp.flags") = flags.toLong
    v("ntp.flags.li") = ((flags >> 6) & 0x3).toLong
    v("ntp.flags.vn") = vn.toLong
    v("ntp.flags.mode") = mode.toLong
    v("ntp.stratum") = u8(d, off + 1).toLong
    if (d.length >= off + 16) {
      v("ntp.ppoll") = u8(d, off + 2).toLong
      v("ntp.precision") = d(off + 3).toLong // signed log2 seconds
      v("ntp.refid") = hexBytes(d, off + 12, 4)
    }
    s"NTP Version $vn, ${ntpModes(mode)}"
  }

  // --- TCP ---------------------------------------------------------------
  //
  // One TCP segment runs through stages, each its own method so that every
  // one stays far below HotSpot's 8,000-byte compile limit (MethodSizeSpec):
  // options, sequence unwrap, analysis flags, desegment delivery, the
  // app-layer claim chain (self-framed protocols, then the port ladders)
  // and the info column. Per-packet values travel as parameters.

  /** [[tcpAnalysis]] result bits (plus OutOfOrder from delivery). */
  private final val SeqNotAdvanced = 1
  private final val FastRetrans = 2
  private final val SpuriousRetrans = 4
  private final val Retrans = 8
  private final val WindowFull = 16
  private final val OutOfOrder = 32

  /** [[tcpDeliver]] result: the segment arrived ahead of a hole and waits
    * in the out-of-order buffer. */
  private val OooHeld: Array[Byte] = new Array[Byte](0)

  /** App-layer result: a dissector owns the run (an HTTP/2 conversation)
    * but renders no info of its own — no later dissector may try it, and
    * the plain TCP info applies. */
  private val ClaimedNoInfo: String = new String("claimed-no-info")

  /** `ips[ipAt, ipAt + ipLen)` is the source address, the destination
    * follows it (see [[ConvKey]]). */
  private def dissectTcp(
      d: Array[Byte], off: Int, ipEnd: Int,
      ips: Array[Byte], ipAt: Int, ipLen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 20) return null
    protos += "tcp"
    val sp = u16(d, off)
    val dp = u16(d, off + 2)
    val rawSeq = u32(d, off + 4)
    val rawAck = u32(d, off + 8)
    val hdrLen = ((d(off + 12) >> 4) & 0xf) * 4
    val flags = u8(d, off + 13)
    val rawWin = u16(d, off + 14)
    val segLen = math.max(0, ipEnd - off - hdrLen)

    val fin = (flags & 0x01) != 0
    val syn = (flags & 0x02) != 0
    val ack = (flags & 0x10) != 0

    val isFwd = ConvKey.srcFirst(ips, ipAt, ipLen, sp, dp)
    val conv = tracker.tcpConv(ConvKey(ips, ipAt, ipLen, sp, dp, isFwd))
    val dir = if (isFwd) 0 else 1
    if (conv.isn(dir) < 0) conv.isn(dir) = rawSeq
    if (syn) conv.sawSyn(dir) = true

    // per-stream timing (tshark tcp.time_relative / tcp.time_delta)
    val nowUs = tracker.currentTsMicros
    if (conv.firstTsMicros < 0) conv.firstTsMicros = nowUs
    v.set(Id_tcp_time_relative, nowUs - conv.firstTsMicros)
    v.set(Id_tcp_time_delta, if (conv.prevTsMicros < 0) 0L else nowUs - conv.prevTsMicros)
    conv.prevTsMicros = nowUs

    // options (the window scale offered in a SYN goes into conversation state)
    val wsShift = tcpOptions(d, off + 20, off + hdrLen, v, null)
    if (syn && wsShift >= 0) conv.wsShift(dir) = wsShift

    val relSeq = (rawSeq - conv.isn(dir)) & 0xffffffffL
    val extSeq = unwrapSeq(conv, dir, relSeq)
    val otherIsn = conv.isn(1 - dir)
    val hasAck = ack && otherIsn >= 0
    val relAck = if (hasAck) (rawAck - otherIsn) & 0xffffffffL else 0L
    val winScale =
      if (syn) 1L
      else if (conv.scalingActive) (1L << conv.wsShift(dir))
      else 1L
    val calcWin = rawWin * winScale

    v.set(Id_tcp_srcport, sp.toLong)
    v.set(Id_tcp_dstport, dp.toLong)
    v.set(Id_tcp_port, sp.toLong)
    v.set(Id_tcp_stream, conv.stream)
    v.set(Id_tcp_len, segLen.toLong)
    v.set(Id_tcp_seq, relSeq)
    v.set(Id_tcp_seq_raw, rawSeq)
    v.set(Id_tcp_nxtseq, relSeq + segLen + (if (syn || fin) 1 else 0))
    v.set(Id_tcp_ack, relAck)
    v.set(Id_tcp_ack_raw, rawAck)
    val pstart = off + hdrLen
    val plen = math.min(segLen, math.max(0, d.length - pstart))
    // SYN consumes one sequence number: data starts at extSeq + 1, so the
    // reassembly cursor can anchor even if the first data segment arrives
    // out of order
    if (tracker.desegment && syn && conv.expSeq(dir) < 0) conv.expSeq(dir) = extSeq + 1
    var analysis = tcpAnalysis(conv, dir, tracker, v, flags, rawSeq, rawAck, rawWin,
      relSeq, extSeq, segLen)

    v.set(Id_tcp_hdr_len, hdrLen.toLong)
    v.set(Id_tcp_flags, flags.toLong)
    v.set(Id_tcp_flags_fin, fin)
    v.set(Id_tcp_flags_syn, syn)
    v.set(Id_tcp_flags_reset, (flags & 0x04) != 0)
    v.set(Id_tcp_flags_push, (flags & 0x08) != 0)
    v.set(Id_tcp_flags_ack, ack)
    v.set(Id_tcp_flags_urg, (flags & 0x20) != 0)
    v.set(Id_tcp_window_size_value, rawWin.toLong)
    v.set(Id_tcp_window_size, calcWin)
    v.set(Id_tcp_window_size_scalefactor,
      if (syn) -1L else if (conv.scalingActive) winScale else -2L)
    v.set(Id_tcp_checksum, u16(d, off + 16).toLong)
    v.set(Id_tcp_urgent_pointer, u16(d, off + 18).toLong)
    if (wanted.payloads && segLen > 0)
      putHex(v, Id_tcp_payload, d, off + hdrLen, math.min(segLen, d.length - off - hdrLen))

    // Application-layer input. Plain per-packet scan: the raw segment.
    // Under desegment: the seq-ordered run this packet makes available
    // (tcpDeliver).
    var appBuf: Array[Byte] = d
    var appOff = pstart
    var appLen = plen
    if (tracker.desegment && plen > 0) {
      val run =
        if ((analysis & SeqNotAdvanced) != 0) null // any retransmission flavor: no new bytes
        else tcpDeliver(d, pstart, plen, segLen, extSeq, conv, dir)
      if (run eq OooHeld) { analysis |= OutOfOrder; appLen = 0 }
      else if (run == null) appLen = 0
      else if (run ne d) { appBuf = run; appOff = 0; appLen = run.length }
    }
    if ((analysis & OutOfOrder) != 0) v.set(Id_tcp_analysis_out_of_order, "1")

    // SIP's port runs the chain whatever the demand: its SDP registers the
    // RTP ports that decide later UDP claims, and a UDP claim reaches
    // lower-layer fields too (a tunnel's inner frame)
    val appInfo =
      if (appLen > 0 && (wanted.app || sp == 5060 || dp == 5060))
        tcpApp(appBuf, appOff, appLen, sp, dp, conv, dir, v, protos, tracker, wanted)
      else null
    if (appInfo != null && wanted.app) appInfo
    else if (!wanted.info) ""
    else tcpInfo(d, off, hdrLen, sp, dp, flags, relSeq, if (hasAck) relAck else -1L, calcWin,
      segLen, analysis, tracker, wanted)
  }

  /** Walks the TCP option list in [from, until). Without `ib` it records
    * MSS, window scale and timestamps as fields and returns the window-scale
    * shift (-1 when absent); with `ib` it appends the info column's option
    * text instead (" MSS=1460 WS=128 SACK_PERM TSval=… TSecr=…"), so the
    * text is only built when info is rendered. */
  private def tcpOptions(d: Array[Byte], from: Int, until: Int, v: FieldVec, ib: InfoBuf): Int = {
    var mss = -1L
    var wsShift = -1
    var tsVal = -1L
    var tsEcr = -1L
    var o = from
    var brk = false
    while (o < until && o < d.length && !brk) {
      u8(d, o) match {
        case 0 => brk = true
        case 1 => o += 1 // NOP
        case kind =>
          if (o + 1 >= d.length) brk = true
          else {
            val l = u8(d, o + 1)
            if (l < 2 || o + l > until) brk = true
            else {
              kind match {
                case 2 if l == 4 =>
                  mss = u16(d, o + 2).toLong
                  if (ib != null) { ib.ascii(" MSS="); ib.num(mss) }
                case 3 if l == 3 =>
                  wsShift = u8(d, o + 2)
                  if (ib != null) { ib.ascii(" WS="); ib.signed(1 << wsShift) }
                case 4 => if (ib != null) ib.ascii(" SACK_PERM")
                case 8 if l == 10 =>
                  tsVal = u32(d, o + 2); tsEcr = u32(d, o + 6)
                  if (ib != null) { ib.ascii(" TSval="); ib.num(tsVal); ib.ascii(" TSecr="); ib.num(tsEcr) }
                case _ =>
              }
              o += l
            }
          }
      }
    }
    if (ib == null) {
      if (mss >= 0) v.set(Id_tcp_options_mss_val, mss)
      if (wsShift >= 0) v.set(Id_tcp_options_wscale_shift, wsShift.toLong)
      if (tsVal >= 0) {
        v.set(Id_tcp_options_timestamp_tsval, tsVal)
        v.set(Id_tcp_options_timestamp_tsecr, tsEcr)
      }
    }
    wsShift
  }

  /** Serial-number unwrap (RFC 1982 style): conversation analysis state
    * (reassembly cursor, ooo buffer keys, highest-nxtseq, keep-alive
    * compare) lives in a monotonically EXTENDED sequence space, so a
    * direction that transfers more than 4 GiB doesn't alias new data into
    * retransmission territory when the 32-bit space wraps. Displayed
    * tcp.seq/nxtseq stay 32-bit relative, matching tshark. */
  private def unwrapSeq(conv: TcpConv, dir: Int, relSeq: Long): Long = {
    val SeqMod = 1L << 32
    var extSeq = conv.seqEpoch(dir) * SeqMod + relSeq
    if (conv.lastExtSeq(dir) >= 0) {
      if (extSeq + (SeqMod >> 1) < conv.lastExtSeq(dir)) {
        conv.seqEpoch(dir) += 1; extSeq += SeqMod // wrapped forward
      } else if (extSeq > conv.lastExtSeq(dir) + (SeqMod >> 1) && extSeq >= SeqMod) {
        extSeq -= SeqMod // stale pre-wrap straggler
      }
    }
    if (extSeq > conv.lastExtSeq(dir)) conv.lastExtSeq(dir) = extSeq
    extSeq
  }

  /** Wireshark tcp.analysis.* flags for one segment, updating the
    * direction's ACK and highest-nxtseq state. Returns the SeqNotAdvanced,
    * FastRetrans, SpuriousRetrans, Retrans and WindowFull bits. */
  private def tcpAnalysis(conv: TcpConv, dir: Int, tracker: Tracker, v: FieldVec,
      flags: Int, rawSeq: Long, rawAck: Long, rawWin: Int, relSeq: Long, extSeq: Long,
      segLen: Int): Int = {
    val fin = (flags & 0x01) != 0
    val syn = (flags & 0x02) != 0
    val rst = (flags & 0x04) != 0
    val ack = (flags & 0x10) != 0
    val nxtExt = extSeq + segLen + (if (syn || fin) 1 else 0)
    // retransmission: under desegment the rule is exact — a data segment
    // is a retransmission iff it brings no bytes the stream hasn't already
    // consumed (below expSeq) or buffered (ooo). Without desegment, the
    // classic highest-nxtseq heuristic (identical on in-order captures;
    // the exact rule additionally avoids mis-flagging a segment that fills
    // a hole left by out-of-order arrival).
    // analysis flags beyond retransmission (Wireshark tcp.analysis parity).
    // Keep-alive: a 0/1-byte probe one sequence number below the
    // direction's highest nxtseq; takes precedence over retransmission.
    val isKeepAlive = segLen <= 1 && !syn && !fin && !rst &&
      conv.maxNxtSeq(dir) >= 0 && extSeq == conv.maxNxtSeq(dir) - 1
    if (isKeepAlive) v("tcp.analysis.keep_alive") = "1"
    if (rawWin == 0 && !rst && !syn && !fin) v("tcp.analysis.zero_window") = "1"
    if (ack && segLen == 0 && !syn && !fin && !rst) {
      if (conv.lastAck(dir) >= 0 && conv.lastAck(dir) == rawAck &&
        conv.lastAckWin(dir) == rawWin) {
        conv.dupAckCount(dir) += 1
        v("tcp.analysis.duplicate_ack") = "1"
        v("tcp.analysis.duplicate_ack_num") = conv.dupAckCount(dir).toLong
        conv.lastDupAckTsMicros(dir) = tracker.currentTsMicros
      } else conv.dupAckCount(dir) = 0
    }
    if (ack) { conv.lastAck(dir) = rawAck; conv.lastAckWin(dir) = rawWin }
    val revDir = 1 - dir
    val seqNotAdvanced = !isKeepAlive && {
      if (tracker.desegment && conv.expSeq(dir) >= 0)
        segLen > 0 && noNewBytes(conv, dir, extSeq, extSeq + segLen)
      else
        segLen > 0 && conv.maxNxtSeq(dir) >= 0 && nxtExt <= conv.maxNxtSeq(dir)
    }
    // Fast retransmission (Wireshark rule, re-derived): the sequence
    // didn't advance, the REVERSE direction sent >= 2 duplicate ACKs for
    // exactly this sequence number, and the last of them arrived within
    // 20 ms. Takes precedence over (and replaces) the plain
    // retransmission flag, matching tshark's exclusive expert flags.
    val isFastRetrans = seqNotAdvanced &&
      conv.dupAckCount(revDir) >= 2 &&
      conv.lastAck(revDir) >= 0 && rawSeq == conv.lastAck(revDir) &&
      conv.lastDupAckTsMicros(revDir) >= 0 &&
      tracker.currentTsMicros - conv.lastDupAckTsMicros(revDir) < 20000L
    // Spurious retransmission (Wireshark rule): every byte of this
    // segment was already ACKed by the peer — the retransmission was
    // unnecessary. Checked after fast (dup-ACK-triggered) retransmission,
    // before the plain flag; the three are mutually exclusive.
    val isSpurious = seqNotAdvanced && !isFastRetrans &&
      conv.lastAck(revDir) >= 0 && conv.isn(dir) >= 0 && {
        val relAckFromRev = (conv.lastAck(revDir) - conv.isn(dir)) & 0xffffffffL
        relSeq + segLen <= relAckFromRev
      }
    val isRetrans = seqNotAdvanced && !isFastRetrans && !isSpurious
    if (isFastRetrans) v("tcp.analysis.fast_retransmission") = "1"
    if (isSpurious) v("tcp.analysis.spurious_retransmission") = "1"
    if (isRetrans) v.set(Id_tcp_analysis_retransmission, "1")
    // Window full: this data segment's nxtseq lands exactly on the right
    // edge of the receive window the peer last advertised (peer's last
    // ack + its scaled window) — the sender has filled the window.
    val windowFull = segLen > 0 && !rst && !syn &&
      conv.lastAck(revDir) >= 0 && conv.isn(dir) >= 0 && {
        val wR =
          if (conv.scalingActive) conv.lastAckWin(revDir) << conv.wsShift(revDir)
          else conv.lastAckWin(revDir)
        ((relSeq + segLen) & 0xffffffffL) ==
          ((conv.lastAck(revDir) - conv.isn(dir) + wR) & 0xffffffffL)
      }
    if (windowFull) v("tcp.analysis.window_full") = "1"
    if (nxtExt > conv.maxNxtSeq(dir)) conv.maxNxtSeq(dir) = nxtExt
    (if (seqNotAdvanced) SeqNotAdvanced else 0) | (if (isFastRetrans) FastRetrans else 0) |
      (if (isSpurious) SpuriousRetrans else 0) | (if (isRetrans) Retrans else 0) |
      (if (windowFull) WindowFull else 0)
  }

  /** Desegment delivery of a segment that brings new bytes: retransmitted
    * bytes are dropped (already consumed or buffered), segments ahead of a
    * hole wait in the per-direction ooo buffer and are delivered when the
    * hole fills, so the completing PDU is reported on the hole-filling
    * packet (tshark reassembly semantics). Returns `d` itself when the
    * segment is the next in-order run (zero copy), a new buffer when
    * buffered runs join it, [[OooHeld]] when it waits ahead of a hole, and
    * null when it brings nothing past the cursor. */
  private def tcpDeliver(d: Array[Byte], pstart: Int, plen: Int, segLen: Int, extSeq: Long,
      conv: TcpConv, dir: Int): Array[Byte] = {
    if (conv.expSeq(dir) < 0) conv.expSeq(dir) = extSeq // anchor at first data
    if (extSeq > conv.expSeq(dir) && conv.oooBytes(dir) + plen > MaxCarry) {
      // bound blown waiting for a hole that never fills: abandon the
      // stream prefix and resync the cursor at this segment
      conv.ooo(dir).clear(); conv.oooBytes(dir) = 0
      conv.carry(dir) = Array.emptyByteArray; conv.carryKind(dir) = 0
      conv.expSeq(dir) = extSeq
    }
    val exp = conv.expSeq(dir)
    val segEnd = extSeq + plen
    var run: Array[Byte] = null
    if (extSeq > exp) {
      // ahead of a hole: buffer, nothing reaches the app layer yet
      run = OooHeld
      val m = conv.ooo(dir)
      if (!m.containsKey(extSeq)) {
        m.put(extSeq, java.util.Arrays.copyOfRange(d, pstart, pstart + plen))
        conv.oooBytes(dir) += plen
      }
    } else if (segEnd > exp) { // (at or below the cursor: already-consumed bytes only)
      val skip = (exp - extSeq).toInt
      val m = conv.ooo(dir)
      if (m.isEmpty && skip == 0) {
        conv.expSeq(dir) = segEnd // common case: in order, zero-copy
        run = d
      } else {
        // deliver this segment's new bytes plus buffered runs that are
        // now contiguous with the advancing cursor
        val bb = new java.io.ByteArrayOutputStream(plen - skip + conv.oooBytes(dir))
        bb.write(d, pstart + skip, plen - skip)
        var cur = segEnd
        var e = m.firstEntry()
        while (e != null && e.getKey <= cur) {
          val k = e.getKey.longValue(); val p = e.getValue
          m.pollFirstEntry(); conv.oooBytes(dir) -= p.length
          if (k + p.length > cur) {
            val s = (cur - k).toInt
            bb.write(p, s, p.length - s)
            cur = k + p.length
          }
          e = m.firstEntry()
        }
        conv.expSeq(dir) = cur
        run = bb.toByteArray
      }
    }
    // snaplen-truncated segment: the stream has a capture gap — resync
    // past it and drop the carry rather than reassembling corrupt bytes
    if (plen < segLen && conv.expSeq(dir) == segEnd) {
      conv.expSeq(dir) = extSeq + segLen
      conv.carry(dir) = Array.emptyByteArray; conv.carryKind(dir) = 0
    }
    run
  }

  /** The app-layer claim chain for one delivered run (never empty): the
    * protocols that frame themselves or own a conversation (FIX, HTTP/2,
    * HTTP, WebSocket, TLS), then the port ladders. Null when nothing claims
    * the run. */
  private def tcpApp(
      appBuf: Array[Byte], appOff: Int, appLen: Int, sp: Int, dp: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    var appInfo = tcpFix(appBuf, appOff, appLen, conv, dir, v, protos, tracker, wanted)
    if (appInfo == null) {
      appInfo = tcpHttp2(appBuf, appOff, appLen, conv, dir, v, protos, tracker)
      if (appInfo eq ClaimedNoInfo) return null
    }
    if (appInfo == null && tracker.desegment)
      appInfo = tcpHttpDesegment(appBuf, appOff, appLen, conv, dir, v, protos)
    if (appInfo == null && conv.wsUpgraded)
      appInfo = tcpWebsocket(appBuf, appOff, appLen, conv, dir, v, protos, tracker)
    if (appInfo == null) {
      appInfo = dissectHttp(appBuf, appOff, appLen, v, protos)
      if (appInfo != null && appInfo.startsWith("HTTP/1.1 101")) {
        val txt = new String(appBuf, appOff, math.min(appLen, 1024),
          "ISO-8859-1").toLowerCase(java.util.Locale.ROOT)
        if (txt.contains("upgrade: websocket")) conv.wsUpgraded = true
      }
    }
    if (appInfo == null) {
      appInfo = dissectTls(appBuf, appOff, appLen, sp, dp, v, protos)
      // DNS-over-TLS (RFC 7858): TLS on registered port 853 — payload
      // stays encrypted; the transport marker is what analytics can see
      if (appInfo != null && (sp == 853 || dp == 853))
        appInfo += " (DNS-over-TLS)"
    }
    if (appInfo == null)
      appInfo = tcpPortsA(appBuf, appOff, appLen, sp, dp, conv, dir, v, protos, tracker)
    if (appInfo == null)
      appInfo = tcpPortsB(appBuf, appOff, appLen, sp, dp, conv, dir, v, protos, tracker)
    appInfo
  }

  /** FIX, with optional desegmentation. */
  private def tcpFix(
      appBuf: Array[Byte], appOff: Int, appLen: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    var appInfo: String = null
    val startsFix = appLen > 5 &&
      appBuf(appOff) == '8' && appBuf(appOff + 1) == '=' && appBuf(appOff + 2) == 'F' &&
      appBuf(appOff + 3) == 'I' && appBuf(appOff + 4) == 'X'
    // an active HTTP carry owns the stream: a payload that happens to
    // start with "8=FIX" mid-headers must not clobber it
    if (tracker.desegment && conv.carryKind(dir) != 2 &&
      (startsFix || (conv.carryKind(dir) == 1 && conv.carry(dir).nonEmpty))) {
      // FIX reassembly: prepend this direction's carried tail, extract the
      // messages COMPLETED by this segment, keep the new tail
      val prev = conv.carry(dir)
      val buf =
        if (prev.isEmpty) java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
        else prev ++ java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
      val (msgs, consumed) = fixCompleteMessages(buf)
      conv.carry(dir) =
        if (buf.length - consumed > MaxCarry) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(buf, consumed, buf.length)
      conv.carryKind(dir) = if (conv.carry(dir).nonEmpty) 1 else 0
      if (msgs.nonEmpty) {
        protos += "fix"
        appInfo = msgs.mkString(", ")
        v.set(Id_fix_msgtype, msgs.head)
      } else if (conv.carry(dir).nonEmpty) {
        // mid-PDU segment: tshark-style continuation marker, no fix layer
        appInfo = "[TCP segment of a reassembled PDU]"
      }
    } else if (startsFix) {
      protos += "fix"
      val msgs = fixMessages(appBuf, appOff, appLen,
        if (wanted.info) Int.MaxValue else 1)
      if (msgs.nonEmpty) {
        // single-message segments (the overwhelming majority) reuse the
        // cached name string — no mkString StringBuilder per row
        if (wanted.info)
          appInfo = if (msgs.length == 1) msgs.head else msgs.mkString(", ")
        else appInfo = ""
        v.set(Id_fix_msgtype, msgs.head)
      }
    }
    appInfo
  }

  /** HTTP/2: the 24-byte client connection preface marks the
    * conversation; afterwards both directions sniff h2 frame headers
    * (not HTTP/1 heuristics — h2 HEADERS are HPACK, not text). An
    * h2-marked conversation OWNS its segments: a continuation that
    * doesn't start on a frame boundary must fall back to the plain TCP
    * rendering, never to the HTTP/1/TLS/DNS content heuristics (HPACK
    * bytes would false-positive them) — [[ClaimedNoInfo]]. */
  private def tcpHttp2(
      appBuf: Array[Byte], appOff: Int, appLen: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    var h2Claimed = false
    // any kind-8 carry joins the segment up front, so a preface or
    // frame split across segments completes here
    val h2CarryPending = tracker.desegment &&
      conv.carryKind(dir) == 8 && conv.carry(dir).nonEmpty
    val hbuf =
      if (h2CarryPending)
        conv.carry(dir) ++ java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
      else appBuf
    val hoff = if (h2CarryPending) 0 else appOff
    val hlen = if (h2CarryPending) hbuf.length else appLen
    val isPreface = isH2Preface(hbuf, hoff, hlen)
    if (isPreface) conv.http2 = true
    if (conv.http2) {
      h2Claimed = true
      if (tracker.desegment) {
        // frame-boundary reassembly (carry kind 8): every frame
        // COMPLETED by this run dissects; an incomplete trailing
        // frame (or header) carries to the completing segment —
        // the same shape as the ws/MQTT desegment paths.
        val consumed = h2Consumed(hbuf, hoff, hlen, isPreface)
        if (consumed < 0) {
          // not frame-aligned (mid-frame continuation of a run we
          // never saw the start of): plain TCP rendering, no carry
          conv.carry(dir) = Array.emptyByteArray
          conv.carryKind(dir) = 0
          appInfo = dissectHttp2(hbuf, hoff, hlen, isPreface, conv, v, protos, dir)
        } else {
          if (consumed > 0)
            appInfo = dissectHttp2(hbuf, hoff, consumed, isPreface, conv, v, protos, dir)
          val rest = hlen - consumed
          if (rest > 0 && rest <= MaxCarry &&
              h2TailPlausible(hbuf, hoff + consumed, hoff + hlen)) {
            conv.carry(dir) =
              java.util.Arrays.copyOfRange(hbuf, hoff + consumed, hoff + hlen)
            conv.carryKind(dir) = 8
            if (appInfo == null) appInfo = "[TCP segment of a reassembled PDU]"
          } else if (conv.carryKind(dir) == 8) {
            conv.carry(dir) = Array.emptyByteArray
            conv.carryKind(dir) = 0
          }
        }
      } else {
        appInfo = dissectHttp2(appBuf, appOff, appLen, isPreface, conv, v, protos, dir)
      }
    } else if (tracker.desegment && hlen < h2Preface.length &&
        isH2PrefacePrefix(hbuf, hoff, hlen) && hlen <= MaxCarry) {
      // a strict prefix of the client preface: carry (kind 8) and
      // wait — nothing else can start with these bytes
      conv.carry(dir) = java.util.Arrays.copyOfRange(hbuf, hoff, hoff + hlen)
      conv.carryKind(dir) = 8
      h2Claimed = true
      appInfo = "[TCP segment of a reassembled PDU]"
    } else if (h2CarryPending) {
      // carried bytes turned out not to be h2 after all
      conv.carry(dir) = Array.emptyByteArray
      conv.carryKind(dir) = 0
    }

    if (h2Claimed && appInfo == null) ClaimedNoInfo else appInfo
  }

  /** HTTP reassembly (desegment only): buffer until the header block
    * terminator arrives. */
  private def tcpHttpDesegment(
      appBuf: Array[Byte], appOff: Int, appLen: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    var appInfo: String = null
    val httpCarry = conv.carryKind(dir) == 2 && conv.carry(dir).nonEmpty
    val head = new String(appBuf, appOff, math.min(appLen, 10), "ISO-8859-1")
    val looksHttpStart = head.startsWith("HTTP/1.") || httpMethods.exists(head.startsWith)
    if (httpCarry || looksHttpStart) {
      val seg = java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
      val buf = if (httpCarry) conv.carry(dir) ++ seg else seg
      val hEnd = indexOfCrlfCrlf(buf)
      if (hEnd >= 0) {
        // chunked transfer coding: keep carrying past the header block
        // until the terminal 0-chunk arrives, then decode the body
        // (tshark reports the message on its final segment); bytes past
        // the terminal chunk (a pipelined next message) are dropped
        val chunked = isChunkedHeaders(buf, hEnd + 4)
        val body = if (chunked) decodeChunked(buf, hEnd + 4) else null
        if (chunked && body == null && buf.length <= MaxCarry) {
          conv.carry(dir) = buf
          conv.carryKind(dir) = 2
          appInfo = "[TCP segment of a reassembled PDU]"
        } else {
          conv.carry(dir) = Array.emptyByteArray
          conv.carryKind(dir) = 0
          appInfo = dissectHttp(buf, 0, buf.length, v, protos)
          if (body != null && appInfo != null) {
            v("http.transfer_encoding") = "chunked"
            // gzip entity coding: file_data carries the DECOMPRESSED
            // body (tshark semantics); undecodable gzip keeps the raw
            val hdrs = new String(buf, 0, hEnd, "ISO-8859-1")
              .toLowerCase(java.util.Locale.ROOT).replace(" ", "")
            val dec = if (hdrs.contains("content-encoding:gzip"))
              gunzipBody(body) else null
            if (dec != null) v("http.content_encoding") = "gzip"
            v("http.file_data") = if (dec != null) dec else body
          }
          // the upgrade flip must also happen on the desegment path,
          // or a 101 seen here would leave ws frames undissected
          if (appInfo != null && appInfo.startsWith("HTTP/1.1 101")) {
            val txt = new String(buf, 0, math.min(buf.length, 1024),
              "ISO-8859-1").toLowerCase(java.util.Locale.ROOT)
            if (txt.contains("upgrade: websocket")) conv.wsUpgraded = true
          }
        }
      } else if (buf.length <= MaxCarry) {
        conv.carry(dir) = buf
        conv.carryKind(dir) = 2
        appInfo = "[TCP segment of a reassembled PDU]"
      } else {
        conv.carry(dir) = Array.emptyByteArray
        conv.carryKind(dir) = 0
      }
    }
    appInfo
  }

  /** A completed websocket upgrade owns the conversation's bytes from the
    * segment AFTER the 101 (the 101 itself still renders as HTTP).
    * WebSocket framing is self-describing (header + declared payload
    * length), so under desegment a frame spanning TCP segments carries
    * (kind 7) until complete, then dissects — and unmasks — on the
    * completing segment, tshark reassembly semantics. Without desegment
    * only the header's fields surface (no payload text). */
  private def tcpWebsocket(
      appBuf: Array[Byte], appOff: Int, appLen: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    if (tracker.desegment) {
      // Like the MQTT multi-PDU path: every frame COMPLETED by this
      // run dissects, and only the trailing partial frame carries
      // (kind 7) to the completing segment.
      val wsCarry = conv.carryKind(dir) == 7 && conv.carry(dir).nonEmpty
      val seg = java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
      val buf = if (wsCarry) conv.carry(dir) ++ seg else seg
      val infos = mutable.ArrayBuffer.empty[String]
      var i = 0
      var lastNeed = 0L
      var stop = false
      var bad = false
      while (!stop) {
        lastNeed = wsFrameLen(buf, i, buf.length - i)
        if (lastNeed > 0 && buf.length - i >= lastNeed) {
          val r = dissectWebsocket(buf, i, lastNeed.toInt, v, protos)
          if (r == null) { stop = true; bad = infos.isEmpty && !wsCarry }
          else { infos += r; i += lastNeed.toInt }
        } else if (lastNeed == 0) {
          stop = true; bad = infos.isEmpty && !wsCarry
        } else {
          stop = true // incomplete header or partial frame: wait
        }
      }
      if (!bad) {
        val rest = buf.length - i
        if (rest > 0 && rest <= MaxCarry && lastNeed != 0) {
          conv.carry(dir) = java.util.Arrays.copyOfRange(buf, i, buf.length)
          conv.carryKind(dir) = 7
        } else if (conv.carryKind(dir) == 7) {
          conv.carry(dir) = Array.emptyByteArray
          conv.carryKind(dir) = 0
        }
        if (infos.nonEmpty) {
          // One "websocket" layer appended per frame; collapse only
          // the trailing run (as the MQTT loop does).
          while (protos.length >= 2 && protos.last == "websocket" &&
                 protos(protos.length - 2) == "websocket")
            protos.remove(protos.length - 1)
          appInfo = infos.mkString(", ")
        } else if (conv.carryKind(dir) == 7 && conv.carry(dir).nonEmpty) {
          appInfo = "[TCP segment of a reassembled PDU]"
        }
      } else {
        conv.carry(dir) = Array.emptyByteArray
        conv.carryKind(dir) = 0
        appInfo = dissectWebsocket(appBuf, appOff, appLen, v, protos)
      }
    } else {
      appInfo = dissectWebsocket(appBuf, appOff, appLen, v, protos)
    }
    appInfo
  }

  /** First part of the TCP port ladder, in claim order: where two
    * dissectors share a port, the earlier one is tried first. */
  private def tcpPortsA(
      appBuf: Array[Byte], appOff: Int, appLen: Int, sp: Int, dp: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    if (sp == 445 || dp == 445 || sp == 139 || dp == 139)
      appInfo = dissectNbssSmb(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3389 || dp == 3389))
      appInfo = dissectRdp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3868 || dp == 3868))
      appInfo = dissectDiameter(appBuf, appOff, appOff + appLen, v, protos)
    if (appInfo == null && (sp == 554 || dp == 554))
      appInfo = dissectRtsp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 135 || dp == 135))
      appInfo = dissectDcerpc(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1080 || dp == 1080))
      appInfo = dissectSocks(appBuf, appOff, appLen, fromServer = sp == 1080, v, protos)
    if (appInfo == null && (sp == 21 || dp == 21))
      appInfo = tcpFtp(appBuf, appOff, appLen, fromServer = sp == 21, conv, dir, v, protos, tracker)
    if (appInfo == null && (sp == 22 || dp == 22))
      appInfo = dissectSsh(appBuf, appOff, appLen, fromServer = sp == 22, v, protos)
    if (appInfo == null && (sp == 5060 || dp == 5060))
      appInfo = tcpSip(appBuf, appOff, appLen, conv, dir, v, protos, tracker)
    if (appInfo == null && (sp == 88 || dp == 88))
      appInfo = dissectKrb5(appBuf, appOff, appLen, overTcp = true, v, protos)
    if (appInfo == null && (sp == 2049 || dp == 2049))
      appInfo = dissectRpcNfs(appBuf, appOff, appLen, overTcp = true, v, protos, tracker)
    if (appInfo == null && (sp == 389 || dp == 389))
      appInfo = dissectLdap(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 502 || dp == 502))
      appInfo = dissectModbus(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 102 || dp == 102))
      appInfo = dissectS7(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 102 || dp == 102))
      appInfo = dissectMms(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 20000 || dp == 20000))
      appInfo = dissectDnp3(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2404 || dp == 2404))
      appInfo = dissectIec104(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 44818 || dp == 44818))
      appInfo = dissectEnip(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 4840 || dp == 4840))
      appInfo = dissectOpcua(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 6667 || dp == 6667))
      appInfo = dissectIrc(appBuf, appOff, appLen, fromServer = sp == 6667, v, protos)
    if (appInfo == null && (sp == 5222 || dp == 5222))
      appInfo = dissectXmpp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2775 || dp == 2775))
      appInfo = dissectSmpp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1723 || dp == 1723))
      appInfo = dissectPptp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 49 || dp == 49))
      appInfo = dissectTacplus(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 23 || dp == 23))
      appInfo = dissectTelnet(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 25 || dp == 25 || sp == 587 || dp == 587))
      appInfo = dissectSmtp(appBuf, appOff, appLen, fromServer = sp == 25 || sp == 587, v, protos)
    if (appInfo == null && (sp == 110 || dp == 110))
      appInfo = dissectPop(appBuf, appOff, appLen, fromServer = sp == 110, v, protos)
    if (appInfo == null && (sp == 143 || dp == 143))
      appInfo = dissectImap(appBuf, appOff, appLen, fromServer = sp == 143, v, protos)
    if (appInfo == null && (sp == 179 || dp == 179))
      appInfo = dissectBgp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1883 || dp == 1883))
      appInfo = tcpMqtt(appBuf, appOff, appLen, conv, dir, v, protos, tracker)
    if (appInfo == null && (sp == 1433 || dp == 1433))
      appInfo = dissectTds(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5672 || dp == 5672))
      appInfo = dissectAmqp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5432 || dp == 5432))
      appInfo = dissectPgsql(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3306 || dp == 3306))
      appInfo = dissectMysql(appBuf, appOff, appLen, fromServer = sp == 3306, v, protos)
    if (appInfo == null && (sp == 6379 || dp == 6379))
      appInfo = dissectRedis(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 9092 || dp == 9092))
      appInfo = dissectKafka(appBuf, appOff, appLen, fromServer = sp == 9092,
        conv, v, protos)
    if (appInfo == null && (sp == 9042 || dp == 9042))
      appInfo = dissectCql(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 11211 || dp == 11211))
      appInfo = dissectMemcache(appBuf, appOff, appLen, fromServer = sp == 11211, v, protos)
    if (appInfo == null && (sp == 27017 || dp == 27017))
      appInfo = dissectMongo(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 873 || dp == 873))
      appInfo = dissectRsync(appBuf, appOff, appLen, fromServer = sp == 873,
        conv, v, protos)
    if (appInfo == null && (sp == 4730 || dp == 4730))
      appInfo = dissectGearman(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 8009 || dp == 8009))
      appInfo = dissectAjp13(appBuf, appOff, appLen, fromServer = sp == 8009, v, protos)
    if (appInfo == null && (sp == 8333 || dp == 8333))
      appInfo = dissectBitcoin(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 9000 || dp == 9000))
      appInfo = dissectFcgi(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && dp == 4369)
      appInfo = dissectEpmd(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3260 || dp == 3260))
      appInfo = dissectIscsi(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 854 || dp == 854))
      appInfo = dissectDlepMessage(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1721 || dp == 1721))
      appInfo = dissectH245(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5084 || dp == 5084))
      appInfo = dissectLlrp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 6653 || dp == 6653))
      appInfo = dissectOpenflow(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5900 || dp == 5900))
      appInfo = dissectVnc(appBuf, appOff, appLen, fromServer = sp == 5900, v, protos)
    if (appInfo == null && (sp == 61613 || dp == 61613))
      appInfo = dissectStomp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 564 || dp == 564))
      appInfo = dissect9p(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 13400 || dp == 13400))
      appInfo = dissectDoip(appBuf, appOff, appLen, v, protos)
    appInfo
  }

  /** Second part of the TCP port ladder (see [[tcpPortsA]]). */
  private def tcpPortsB(
      appBuf: Array[Byte], appOff: Int, appLen: Int, sp: Int, dp: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    if (sp == 4222 || dp == 4222)
      appInfo = dissectNats(appBuf, appOff, appLen, v, protos)
    if (appInfo == null &&
      (sp == 104 || dp == 104 || sp == 11112 || dp == 11112))
      appInfo = dissectDicom(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 8583 || dp == 8583))
      appInfo = dissectIso8583(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5555 || dp == 5555))
      appInfo = dissectZmtp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5555 || dp == 5555))
      appInfo = dissectAdb(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 21001 || dp == 21001))
      appInfo = dissectSoupbin(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 10051 || dp == 10051))
      appInfo = dissectZabbix(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 79 || dp == 79))
      appInfo = dissectFinger(appBuf, appOff, appLen, fromServer = sp == 79, v, protos)
    if (appInfo == null && (sp == 70 || dp == 70))
      appInfo = dissectGopher(appBuf, appOff, appLen, fromServer = sp == 70, v, protos)
    if (appInfo == null && (sp == 113 || dp == 113))
      appInfo = dissectIdent(appBuf, appOff, appLen, fromServer = sp == 113, v, protos)
    if (appInfo == null && (sp == 9418 || dp == 9418))
      appInfo = dissectGit(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 11210 || dp == 11210))
      appInfo = dissectCouchbase(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1521 || dp == 1521))
      appInfo = dissectTns(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5050 || dp == 5050))
      appInfo = dissectYmsg(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3632 || dp == 3632))
      appInfo = dissectDistcc(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5900 || dp == 5900))
      appInfo = dissectSpice(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 6000 || dp == 6000))
      appInfo = dissectX11(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2855 || dp == 2855))
      appInfo = dissectMsrp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 61616 || dp == 61616))
      appInfo = dissectOpenwire(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2600 || dp == 2600))
      appInfo = dissectZebra(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 10000 || dp == 10000))
      appInfo = dissectHpfeeds(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 8020 || dp == 8020))
      appInfo = dissectHdfs(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 639 || dp == 639))
      appInfo = dissectMsdp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 119 || dp == 119))
      appInfo = dissectNntp(appBuf, appOff, appLen, fromServer = sp == 119, v, protos)
    if (appInfo == null && (sp == 548 || dp == 548))
      appInfo = dissectDsi(appBuf, appOff, appLen, fromServer = sp == 548, v, protos)
    if (appInfo == null && (sp == 1790 || dp == 1790))
      appInfo = dissectBmp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 10809 || dp == 10809))
      appInfo = dissectNbd(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 9090 || dp == 9090))
      appInfo = dissectThrift(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 6881 || dp == 6881))
      appInfo = dissectBittorrent(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 43 || dp == 43))
      appInfo = dissectWhois(appBuf, appOff, appLen, fromServer = sp == 43, v, protos)
    if (appInfo == null && (sp == 13 || dp == 13))
      appInfo = dissectDaytime(appBuf, appOff, appLen, fromServer = sp == 13, v, protos)
    if (appInfo == null && (sp == 515 || dp == 515))
      appInfo = dissectLpd(appBuf, appOff, appLen, fromServer = sp == 515, v, protos)
    if (appInfo == null && (sp == 512 || dp == 512))
      appInfo = dissectRexec(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 513 || dp == 513))
      appInfo = dissectRlogin(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 514 || dp == 514))
      appInfo = dissectRsh(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1998 || dp == 1998))
      appInfo = dissectXot(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 4189 || dp == 4189))
      appInfo = dissectPcep(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3288 || dp == 3288))
      appInfo = dissectCops(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 705 || dp == 705))
      appInfo = dissectAgentx(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2002 || dp == 2002))
      appInfo = dissectRpcap(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1935 || dp == 1935))
      appInfo = dissectRtmpt(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2809 || dp == 2809))
      appInfo = dissectGiop(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 6346 || dp == 6346))
      appInfo = dissectGnutella(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 4662 || dp == 4662))
      appInfo = dissectEdonkey(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1344 || dp == 1344))
      appInfo = dissectIcap(appBuf, appOff, appLen, fromServer = sp == 1344, v, protos)
    if (appInfo == null && (sp == 524 || dp == 524))
      appInfo = dissectNcp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 24800 || dp == 24800))
      appInfo = dissectSynergy(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3205 || dp == 3205))
      appInfo = dissectIsns(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 4420 || dp == 4420))
      appInfo = dissectNvmeTcp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2065 || dp == 2065))
      appInfo = dissectDlsw(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 10000 || dp == 10000))
      appInfo = dissectNdmp(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 1720 || dp == 1720))
      appInfo = dissectQ931(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5190 || dp == 5190))
      appInfo = dissectAim(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 446 || dp == 446))
      appInfo = dissectDrda(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5000 || dp == 5000))
      appInfo = dissectHsms(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 647 || dp == 647))
      appInfo = dissectDhcpfo(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 24007 || dp == 24007))
      appInfo = dissectGlusterfs(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 9300 || dp == 9300))
      appInfo = dissectElasticsearch(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 2000 || dp == 2000))
      appInfo = dissectSkinny(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 6789 || dp == 6789))
      appInfo = dissectCeph(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 3240 || dp == 3240))
      appInfo = dissectUsbip(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 5701 || dp == 5701))
      appInfo = dissectHazelcast(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 21064 || dp == 21064))
      appInfo = dissectDlm3(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 7272 || dp == 7272))
      appInfo = dissectDbus(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 650 || dp == 650))
      appInfo = dissectObex(appBuf, appOff, appLen, v, protos)
    if (appInfo == null && (sp == 53 || dp == 53))
      appInfo = tcpDns(appBuf, appOff, appLen, conv, dir, v, protos, tracker)
    appInfo
  }

  /** FTP: line-oriented — under desegment an incomplete trailing line
    * carries across delivered runs (kind 4) and dissects on the run that
    * completes its CRLF (tshark reassembly semantics); without desegment
    * only whole-in-segment lines dissect. */
  private def tcpFtp(
      appBuf: Array[Byte], appOff: Int, appLen: Int, fromServer: Boolean,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    if (tracker.desegment) {
      val ftpCarry = conv.carryKind(dir) == 4 && conv.carry(dir).nonEmpty
      val seg = java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
      val buf = if (ftpCarry) conv.carry(dir) ++ seg else seg
      var lastCrlf = -1
      var i = buf.length - 2
      while (lastCrlf < 0 && i >= 0) {
        if (buf(i) == '\r' && buf(i + 1) == '\n') lastCrlf = i
        i -= 1
      }
      if (lastCrlf >= 0)
        appInfo = dissectFtp(buf, 0, lastCrlf + 2, fromServer = fromServer, v, protos)
      val restLen = buf.length - (if (lastCrlf >= 0) lastCrlf + 2 else 0)
      if (restLen > 0 && restLen <= MaxCarry && (appInfo != null || ftpCarry ||
        looksFtpStart(buf, fromServer = fromServer))) {
        conv.carry(dir) = java.util.Arrays.copyOfRange(buf, buf.length - restLen, buf.length)
        conv.carryKind(dir) = 4
        if (appInfo == null) appInfo = "[TCP segment of a reassembled PDU]"
      } else if (conv.carryKind(dir) == 4) {
        conv.carry(dir) = Array.emptyByteArray
        conv.carryKind(dir) = 0
      }
    } else {
      appInfo = dissectFtp(appBuf, appOff, appLen, fromServer = fromServer, v, protos)
    }
    appInfo
  }

  /** SIP over TCP (RFC 3261 §18.3): the message length is the header block
    * plus Content-Length, so under desegment a message spanning segments
    * carries (kind 5) until headers + body are complete and dissects on the
    * completing segment — identical fields/RTP-port registration to the
    * whole-in-segment case. Bytes past the message (a pipelined next one)
    * are dropped, the HTTP-path simplification. */
  private def tcpSip(
      appBuf: Array[Byte], appOff: Int, appLen: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    if (tracker.desegment) {
      val sipCarry = conv.carryKind(dir) == 5 && conv.carry(dir).nonEmpty
      val head = new String(appBuf, appOff, math.min(appLen, 12), "ISO-8859-1")
      val looksSipStart = head.startsWith("SIP/2.0 ") ||
        sipMethods.exists(m => head.startsWith(m + " "))
      if (sipCarry || looksSipStart) {
        val seg = java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
        val buf = if (sipCarry) conv.carry(dir) ++ seg else seg
        val hEnd = indexOfCrlfCrlf(buf)
        val want = if (hEnd < 0) -1 else hEnd + 4 + sipContentLength(buf, hEnd + 4)
        if (hEnd >= 0 && want >= 0 && buf.length >= want) {
          conv.carry(dir) = Array.emptyByteArray
          conv.carryKind(dir) = 0
          appInfo = dissectSip(buf, 0, want, v, protos, tracker)
        } else if (buf.length <= MaxCarry) {
          conv.carry(dir) = buf
          conv.carryKind(dir) = 5
          appInfo = "[TCP segment of a reassembled PDU]"
        } else {
          conv.carry(dir) = Array.emptyByteArray
          conv.carryKind(dir) = 0
        }
      }
    } else {
      appInfo = dissectSip(appBuf, appOff, appLen, v, protos, tracker)
    }
    appInfo
  }

  /** MQTT framing is the fixed header's varint length, so under desegment
    * every PDU COMPLETED by this run dissects (multi-PDU segments list each
    * message, tshark-style) and a trailing partial PDU carries (kind 6) to
    * the completing segment. */
  private def tcpMqtt(
      appBuf: Array[Byte], appOff: Int, appLen: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    if (tracker.desegment) {
      val mqCarry = conv.carryKind(dir) == 6 && conv.carry(dir).nonEmpty
      val seg = java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
      val buf = if (mqCarry) conv.carry(dir) ++ seg else seg
      val infos = mutable.ArrayBuffer.empty[String]
      var i = 0
      var bad = false
      var stop = false
      while (!stop) {
        mqttPduLen(buf, i, buf.length) match {
          case -2 => stop = true; bad = i == 0 && !mqCarry
          case -1 => stop = true
          case n =>
            val r = dissectMqtt(buf, i, n, v, protos)
            if (r == null) { stop = true; bad = infos.isEmpty && !mqCarry }
            else { infos += r; i += n }
        }
      }
      if (!bad) {
        val rest = buf.length - i
        if (rest > 0 && rest <= MaxCarry && mqttPduLen(buf, i, buf.length) == -1) {
          conv.carry(dir) = java.util.Arrays.copyOfRange(buf, i, buf.length)
          conv.carryKind(dir) = 6
        } else if (conv.carryKind(dir) == 6) {
          conv.carry(dir) = Array.emptyByteArray
          conv.carryKind(dir) = 0
        }
        if (infos.nonEmpty) {
          // The multi-PDU loop appended one "mqtt" per PDU; collapse
          // only that trailing run (Wireshark keeps legitimately
          // repeated layers elsewhere in the chain, e.g. ip:gre:ip).
          while (protos.length >= 2 && protos.last == "mqtt" &&
                 protos(protos.length - 2) == "mqtt")
            protos.remove(protos.length - 1)
          appInfo = infos.mkString(", ")
        } else if (conv.carryKind(dir) == 6 && conv.carry(dir).nonEmpty) {
          appInfo = "[TCP segment of a reassembled PDU]"
        }
      } else if (conv.carryKind(dir) == 6) {
        conv.carry(dir) = Array.emptyByteArray
        conv.carryKind(dir) = 0
      }
    } else {
      appInfo = dissectMqtt(appBuf, appOff, appLen, v, protos)
    }
    appInfo
  }

  /** DNS over TCP (RFC 1035 §4.2.2): 2-byte length prefix, then the
    * standard message. Under desegment, partial messages carry across
    * delivered runs (kind 3 — zone transfers span many segments) and every
    * message COMPLETED by this run dissects; without desegment, only a
    * message wholly inside this segment dissects. */
  private def tcpDns(
      appBuf: Array[Byte], appOff: Int, appLen: Int,
      conv: TcpConv, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var appInfo: String = null
    if (tracker.desegment) {
      val dnsCarry = conv.carryKind(dir) == 3 && conv.carry(dir).nonEmpty
      val seg = java.util.Arrays.copyOfRange(appBuf, appOff, appOff + appLen)
      val buf = if (dnsCarry) conv.carry(dir) ++ seg else seg
      var i = 0
      var lastInfo: String = null
      var malformed = false
      var brk = false
      while (!brk && i + 2 <= buf.length) {
        val mlen = u16(buf, i)
        if (mlen < 12) { malformed = true; brk = true }
        else if (i + 2 + mlen <= buf.length) {
          val r = dissectDns(buf, i + 2, i + 2 + mlen, v, protos)
          if (r != null) lastInfo = r
          i += 2 + mlen
        } else brk = true
      }
      if (malformed) {
        // framing broke: this is not (or no longer) a sane DNS stream —
        // drop the carry, keep whatever messages already dissected
        conv.carry(dir) = Array.emptyByteArray
        conv.carryKind(dir) = 0
      } else {
        val rest = java.util.Arrays.copyOfRange(buf, i, buf.length)
        conv.carry(dir) = if (rest.length > MaxCarry) Array.emptyByteArray else rest
        conv.carryKind(dir) = if (conv.carry(dir).nonEmpty) 3 else 0
      }
      if (lastInfo != null) {
        // a multi-message run adds "dns" once per message — dedupe
        val dd = protos.distinct
        protos.clear(); protos ++= dd
        appInfo = lastInfo
      } else if (conv.carry(dir).nonEmpty && conv.carryKind(dir) == 3) {
        appInfo = "[TCP segment of a reassembled PDU]"
      }
    } else if (appLen >= 14) {
      val mlen = u16(appBuf, appOff)
      if (mlen >= 12 && 2 + mlen <= appLen) {
        val dnsInfo = dissectDns(appBuf, appOff + 2, appOff + 2 + mlen, v, protos)
        if (dnsInfo != null) appInfo = dnsInfo
      }
    }
    appInfo
  }

  /** The Wireshark-style TCP info column, into the tracker's reused UTF-8
    * buffer on the scan's bytes-only path, else as a String. `relAck` < 0:
    * no Ack part. The bracketed flag list comes from a precomputed
    * 64-entry table. */
  private def tcpInfo(
      d: Array[Byte], off: Int, hdrLen: Int, sp: Int, dp: Int, flags: Int,
      relSeq: Long, relAck: Long, calcWin: Long, segLen: Int, analysis: Int,
      tracker: Tracker, wanted: Wanted): String = {
    // tcpFlagStrings bits: SYN FIN RST PSH ACK URG (the header's FIN and
    // SYN bits swapped)
    val flagBits = (flags & 0x3c) | ((flags & 0x01) << 1) | ((flags & 0x02) >> 1)
    val prefix =
      if ((analysis & OutOfOrder) != 0) "[TCP Out-Of-Order] "
      else if (!tracker.desegment) null
      else if ((analysis & FastRetrans) != 0) "[TCP Fast Retransmission] "
      else if ((analysis & SpuriousRetrans) != 0) "[TCP Spurious Retransmission] "
      else if ((analysis & Retrans) != 0) "[TCP Retransmission] "
      else if ((analysis & WindowFull) != 0) "[TCP Window Full] "
      else null
    val ib = tracker.infoBuf
    ib.reset()
    if (wanted.infoBytes) {
      // bytes-only hot path: UTF-8 straight into the tracker's reused
      // buffer — no StringBuilder, no String, no charset encoder
      if (prefix != null) ib.ascii(prefix)
      ib.num(sp); ib.arrow(); ib.num(dp)
      ib.ascii(" [")
      ib.ascii(tcpFlagStrings(flagBits))
      ib.ascii("] Seq=")
      ib.num(relSeq)
      if (relAck >= 0) { ib.ascii(" Ack="); ib.num(relAck) }
      ib.ascii(" Win=")
      ib.num(calcWin)
      ib.ascii(" Len=")
      ib.num(segLen)
      tcpOptions(d, off + 20, off + hdrLen, null, ib)
      InfoInBuf
    } else {
      val sb = new StringBuilder
      if (prefix != null) sb.append(prefix)
      sb.append(sp).append(" → ").append(dp)
      sb.append(" [").append(tcpFlagStrings(flagBits)).append("]")
      sb.append(" Seq=").append(relSeq)
      if (relAck >= 0) sb.append(" Ack=").append(relAck)
      sb.append(" Win=").append(calcWin)
      sb.append(" Len=").append(segLen)
      tcpOptions(d, off + 20, off + hdrLen, null, ib) // ASCII option text
      sb.append(new String(ib.buf, 0, ib.len, java.nio.charset.StandardCharsets.ISO_8859_1))
      sb.toString
    }
  }

  // --- UDP ---------------------------------------------------------------
  //
  // Header fields, then the expert/checksum items, then the port ladder in
  // three parts (each its own method, far below HotSpot's 8,000-byte
  // compile limit). A ladder part returns the first claiming dissector's
  // info, or null to fall through to the next part.

  /** Addresses as in [[dissectTcp]]. */
  private def dissectUdp(
      d: Array[Byte], off: Int, ipEnd: Int,
      ips: Array[Byte], ipAt: Int, ipLen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 8) return null
    protos += "udp"
    val sp = u16(d, off)
    val dp = u16(d, off + 2)
    val len = u16(d, off + 4)
    val payLen = math.max(0, len - 8)
    val conv = tracker.udpConv(
      ConvKey(ips, ipAt, ipLen, sp, dp, ConvKey.srcFirst(ips, ipAt, ipLen, sp, dp)))
    val nowUs = tracker.currentTsMicros
    if (conv.firstTsMicros < 0) conv.firstTsMicros = nowUs
    v.set(Id_udp_time_relative, nowUs - conv.firstTsMicros)
    v.set(Id_udp_time_delta, if (conv.prevTsMicros < 0) 0L else nowUs - conv.prevTsMicros)
    conv.prevTsMicros = nowUs
    v.set(Id_udp_srcport, sp.toLong)
    v.set(Id_udp_dstport, dp.toLong)
    v.set(Id_udp_port, sp.toLong)
    v.set(Id_udp_stream, conv.stream)
    v.set(Id_udp_length, len.toLong)
    udpChecksum(d, off, len, dp, ips, ipAt, ipLen, v)
    v.set(Id_udp_pdu_size, payLen.toLong)
    if (wanted.payloads && payLen > 0 && off + 8 < d.length)
      putHex(v, Id_udp_payload, d, off + 8, math.min(payLen, d.length - off - 8))
    var info = udpPortsA(d, off, payLen, sp, dp, conv, v, protos, tracker, wanted)
    if (info == null) info = udpPortsB(d, off, payLen, sp, dp, conv, v, protos, tracker, wanted)
    if (info == null) info = udpPortsC(d, off, payLen, sp, dp, conv, v, protos, tracker, wanted)
    if (info != null) info
    else if (!wanted.info) ""
    else if (wanted.infoBytes) {
      val ib = tracker.infoBuf
      ib.reset()
      ib.num(sp); ib.arrow(); ib.num(dp)
      ib.ascii(" Len=")
      ib.num(payLen)
      InfoInBuf
    } else s"$sp → $dp Len=$payLen"
  }

  /** udp.checksum and the udp expert items. */
  private def udpChecksum(
      d: Array[Byte], off: Int, len: Int, dp: Int,
      ips: Array[Byte], ipAt: Int, ipLen: Int,
      v: FieldVec): Unit = {
    val ckStored = u16(d, off + 6)
    v.set(Id_udp_checksum, ckStored.toLong)
    // FT_NONE expert flags: PRESENT (label string) when the condition
    // holds, NULL otherwise — tshark's -T fields rendering for expert items
    if (ckStored == 0) v("udp.checksum.zero") = "Illegal checksum value (0)"
    if (len < 8) v("udp.length.bad") = "Bad length value"
    // tier 55: the remaining udp analysis trio. A zero length field is
    // the TSO/USO capture artifact (the kernel fills it post-capture);
    // the classic traceroute probe port band flags path-discovery traffic
    if (len == 0) v("udp.length.bad_zero") =
      "Length of 0 possible due to segmentation offload"
    if (dp >= 33434 && dp <= 33633) v("udp.possible_traceroute") =
      "Possible traceroute"
    // verify the checksum over the IPv4 pseudo-header when the datagram is
    // fully captured (IPv6 datagrams stay unverified)
    if (ckStored != 0 && len >= 8 && off + len <= d.length && ipLen == 4) {
      var sum = 0L
      def add16(x: Int): Unit = sum += (x & 0xffff)
      var a = ipAt
      while (a < ipAt + 8) { add16(u16(ips, a)); a += 2 } // source, destination
      add16(17); add16(len)
      // checksum-offload detection: a transmitting stack leaves the
      // UNCOMPLEMENTED pseudo-header sum in the field for the NIC to
      // finish; seeing exactly that value means a partial checksum
      var ps = sum
      while ((ps >> 16) != 0) ps = (ps & 0xffff) + (ps >> 16)
      if (ckStored == ps.toInt)
        v("udp.checksum.partial") = "Partial (pseudo header checksum)"
      var i = off
      val udpEnd = off + len
      while (i + 1 < udpEnd) {
        if (i != off + 6) add16((u8(d, i) << 8) | u8(d, i + 1))
        i += 2
      }
      if (i < udpEnd) add16(u8(d, i) << 8)
      while ((sum >> 16) != 0) sum = (sum & 0xffff) + (sum >> 16)
      val calc0 = (~sum).toInt & 0xffff
      val calc = if (calc0 == 0) 0xffff else calc0
      v("udp.checksum_calculated") = calc.toLong
      if (calc != ckStored) v("udp.checksum.bad") = "Bad checksum"
      v("udp.checksum.status") = if (calc == ckStored) 1L else 0L
    }
  }

  /** First part of the UDP port ladder, in claim order: where two
    * dissectors share a port, or a heuristic sits between port checks, the
    * earlier one is tried first. */
  private def udpPortsA(
      d: Array[Byte], off: Int, payLen: Int, sp: Int, dp: Int,
      conv: UdpConv,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (sp == 53 || dp == 53) {
      val dnsInfo = dissectDns(d, off + 8, math.min(off + 8 + payLen, d.length), v, protos)
      if (dnsInfo != null) return dnsInfo
    }
    if (sp == 5353 || dp == 5353) {
      val mdnsInfo = dissectDns(d, off + 8, math.min(off + 8 + payLen, d.length),
        v, protos, protoName = "mdns")
      if (mdnsInfo != null) return mdnsInfo
    }
    // LLMNR (RFC 4795, UDP 5355) is DNS wire format — Wireshark routes it
    // through the DNS dissector too (dns.* fields under an llmnr layer)
    if (sp == 5355 || dp == 5355) {
      val llmnrInfo = dissectDns(d, off + 8, math.min(off + 8 + payLen, d.length),
        v, protos, protoName = "llmnr")
      if (llmnrInfo != null) return llmnrInfo
    }
    if (sp == 137 || dp == 137) {
      val nbnsInfo = dissectNbns(d, off + 8, math.min(off + 8 + payLen, d.length), v, protos)
      if (nbnsInfo != null) return nbnsInfo
    }
    if (sp == 3478 || dp == 3478) {
      val stunInfo = dissectStun(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (stunInfo != null) return stunInfo
      // same port, no RFC 5389 magic cookie → classic STUN (RFC 3489)
      val csInfo = dissectClassicStun(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (csInfo != null) return csInfo
    }
    if (sp == 319 || dp == 319 || sp == 320 || dp == 320) {
      val ptpInfo = dissectPtp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (ptpInfo != null) return ptpInfo
    }
    if (sp == 546 || dp == 546 || sp == 547 || dp == 547) {
      val d6Info = dissectDhcpv6(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (d6Info != null) return d6Info
    }
    if (sp == 51820 || dp == 51820) {
      val wgInfo = dissectWireguard(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (wgInfo != null) return wgInfo
    }
    if (sp == 2152 || dp == 2152) {
      val gtpInfo = dissectGtpU(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos, tracker, wanted)
      if (gtpInfo != null) return gtpInfo
    }
    if (sp == 500 || dp == 500 || sp == 4500 || dp == 4500) {
      val ikeInfo = dissectIkev2(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (ikeInfo != null) return ikeInfo
    }
    // NAT-T (RFC 3948): on 4500, a non-zero first word is a UDP-
    // encapsulated ESP packet's SPI (zero would be the IKE marker)
    if ((sp == 4500 || dp == 4500) && payLen >= 8 &&
      off + 16 <= d.length && u32(d, off + 8) != 0L) {
      protos += "esp"
      return dissectEsp(d, off + 8, math.min(off + 8 + payLen, d.length), v)
    }
    if (sp == 1701 || dp == 1701) {
      val l2tpInfo = dissectL2tp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (l2tpInfo != null) return l2tpInfo
    }
    if (sp == 5683 || dp == 5683) {
      val coapInfo = dissectCoap(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (coapInfo != null) return coapInfo
    }
    if (sp == 2269 || dp == 2269) {
      val mkInfo = dissectMikey(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (mkInfo != null) return mkInfo
    }
    if (sp == 5070 || dp == 5070) {
      val bfInfo = dissectBfcp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (bfInfo != null) return bfInfo
    }
    if (sp == 1719 || dp == 1719) {
      val rasInfo = dissectH225Ras(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (rasInfo != null) return rasInfo
    }
    if (sp == 2945 || dp == 2945) {
      val h248Info = dissectH248Bin(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (h248Info != null) return h248Info
    }
    // PROFINET IO context manager (UDP 34964): IODConnect rides
    // connectionless DCE/RPC v4 (C706 CL header, 80 bytes), then the
    // NDR args envelope and the big-endian PNIO block list
    if (sp == 34964 || dp == 34964) {
      val pnInfo = dissectPnioCm(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (pnInfo != null) return pnInfo
    }
    // MLE (Thread Mesh Link Establishment, UDP 19788): only the
    // UNSECURED shape is claimable from bytes — security suite 255
    // means no security header, and the command byte follows directly
    if ((sp == 19788 || dp == 19788) && payLen >= 2 && off + 10 <= d.length &&
      u8(d, off + 8) == 255) {
      val cmd = u8(d, off + 9)
      if (cmd <= 16) {
        protos += "mle"
        v("mle.cmd") = cmd.toLong
        return cmd match {
          case 0 => "Link Request"; case 1 => "Link Accept"
          case 4 => "Advertisement"; case 10 => "Child ID Request"
          case c => s"MLE command $c"
        }
      }
    }
    // Gb over IP (3GPP TS 48.016): the NS layer on UDP 23000 whose
    // NS-UNITDATA PDUs carry BSSGP
    if (sp == 23000 || dp == 23000) {
      val nsInfo = dissectNsBssgp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (nsInfo != null) return nsInfo
    }
    // MAC-LTE framed over UDP (Wireshark's packet-mac-lte.h UDP framing):
    // the payload leads with the "mac-lte" magic on any port
    if (payLen >= 10 && off + 8 + 7 <= d.length &&
      d(off + 8) == 'm' && d(off + 9) == 'a' && d(off + 10) == 'c' &&
      d(off + 11) == '-' && d(off + 12) == 'l' && d(off + 13) == 't' &&
      d(off + 14) == 'e') {
      val mlInfo = dissectMacLte(d, off + 15, math.min(off + 8 + payLen, d.length), v, protos)
      if (mlInfo != null) return mlInfo
    }
    if (sp == 123 || dp == 123) {
      val ntpInfo = dissectNtp(d, off + 8, math.min(off + 8 + payLen, d.length), v, protos)
      if (ntpInfo != null) return ntpInfo
    }
    if (sp == 443 || dp == 443 || conv.quic) {
      val quicInfo = dissectQuic(d, off + 8, math.min(off + 8 + payLen, d.length), conv, v, protos)
      if (quicInfo != null) return quicInfo
    }
    // DTLS: port-free heuristic — the version magic is distinctive
    {
      val dtlsInfo = dissectDtls(d, off + 8, math.min(off + 8 + payLen, d.length), v, protos)
      if (dtlsInfo != null) return dtlsInfo
    }
    if (sp == 2055 || dp == 2055 || sp == 9995 || dp == 9995 ||
        sp == 4739 || dp == 4739) {
      val nfInfo = dissectNetflow(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (nfInfo != null) return nfInfo
    }
    if (sp == 6343 || dp == 6343) {
      val sfInfo = dissectSflow(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (sfInfo != null) return sfInfo
    }
    if (sp == 3784 || dp == 3784) {
      val bfdInfo = dissectBfd(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (bfdInfo != null) return bfdInfo
    }
    if (sp == 520 || dp == 520) {
      val ripInfo = dissectRip(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (ripInfo != null) return ripInfo
    }
    if (sp == 1985 || dp == 1985) {
      val hsrpInfo = dissectHsrp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (hsrpInfo != null) return hsrpInfo
    }
    if (sp == 67 || dp == 67 || sp == 68 || dp == 68) {
      val dhcpInfo = dissectDhcp(d, off + 8, math.min(off + 8 + payLen, d.length), v, protos)
      if (dhcpInfo != null) return dhcpInfo
    }
    if (sp == 5060 || dp == 5060) {
      val sipInfo = dissectSip(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos, tracker)
      if (sipInfo != null) return sipInfo
    }
    if (sp == 88 || dp == 88) {
      val krbInfo = dissectKrb5(d, off + 8,
        math.min(payLen, d.length - off - 8), overTcp = false, v, protos)
      if (krbInfo != null) return krbInfo
    }
    if (sp == 161 || dp == 161 || sp == 162 || dp == 162) {
      val snmpInfo = dissectSnmp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (snmpInfo != null) return snmpInfo
    }
    if (sp == 2049 || dp == 2049) {
      val nfsInfo = dissectRpcNfs(d, off + 8, math.min(payLen, d.length - off - 8),
        overTcp = false, v, protos, tracker)
      if (nfsInfo != null) return nfsInfo
    }
    if (sp == 1812 || dp == 1812 || sp == 1813 || dp == 1813 ||
      sp == 1645 || dp == 1645 || sp == 1646 || dp == 1646) {
      val radInfo = dissectRadius(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (radInfo != null) return radInfo
    }
    if (sp == 1900 || dp == 1900) {
      val ssdpInfo = dissectSsdp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (ssdpInfo != null) return ssdpInfo
    }
    if (sp == 514 || dp == 514) {
      val sysInfo = dissectSyslog(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (sysInfo != null) return sysInfo
    }
    if (sp == 9 || dp == 9) {
      val wolInfo = dissectWol(d, off + 8,
        off + 8 + math.min(payLen, d.length - off - 8), v, protos)
      if (wolInfo != null) return wolInfo
    }
    // GigE Vision Control Protocol (UDP 3956): command packets carry the
    // 0x42 magic key; acks from port 3956 lead with a status word
    if ((sp == 3956 || dp == 3956) && payLen >= 8 && off + 16 <= d.length) {
      if (u8(d, off + 8) == 0x42) {
        protos += "gvcp"
        val cmd = u16(d, off + 10)
        v("gvcp.command") = cmd.toLong
        return f"GVCP CMD 0x$cmd%04x"
      } else if (sp == 3956) {
        protos += "gvcp"
        val status = u16(d, off + 8)
        val cmd = u16(d, off + 10)
        v("gvcp.command") = cmd.toLong
        v("gvcp.status") = status.toLong
        return f"GVCP ACK 0x$cmd%04x status 0x$status%04x"
      }
    }
    // BACnet/IP (UDP 47808 = 0xBAC0): BVLC → NPDU → APDU
    if ((sp == 47808 || dp == 47808) && payLen >= 4) {
      val bacInfo = dissectBacnet(d, off + 8,
        math.min(off + 8 + payLen, d.length), v, protos)
      if (bacInfo != null) return bacInfo
    }
    // MGCP (RFC 3435): gateway side 2427, call-agent side 2727
    if ((sp == 2427 || dp == 2427 || sp == 2727 || dp == 2727) && payLen >= 4) {
      val mgcpInfo = dissectMgcp(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (mgcpInfo != null) return mgcpInfo
    }
    // SOME/IP (AUTOSAR, UDP 30490 service discovery / 30509 events)
    if ((sp == 30490 || dp == 30490 || sp == 30509 || dp == 30509) && payLen >= 16) {
      val someipInfo = dissectSomeip(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (someipInfo != null) return someipInfo
    }
    // GTPv2-C (3GPP TS 29.274, UDP 2123)
    if ((sp == 2123 || dp == 2123) && payLen >= 8) {
      val gtpInfo = dissectGtpv2(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (gtpInfo != null) return gtpInfo
    }
    // PFCP (3GPP TS 29.244, UDP 8805)
    if ((sp == 8805 || dp == 8805) && payLen >= 8) {
      val pfcpInfo = dissectPfcp(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (pfcpInfo != null) return pfcpInfo
    }
    // DoIP (ISO 13400-2, UDP 13400 — vehicle discovery)
    if ((sp == 13400 || dp == 13400) && payLen >= 8) {
      val doipInfo = dissectDoip(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (doipInfo != null) return doipInfo
    }
    null
  }

  /** Second part of the UDP port ladder (see [[udpPortsA]]). */
  private def udpPortsB(
      d: Array[Byte], off: Int, payLen: Int, sp: Int, dp: Int,
      conv: UdpConv,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    // NetBIOS Datagram Service (RFC 1002 §4.4, UDP 138)
    if ((sp == 138 || dp == 138) && payLen >= 10 && off + 18 <= d.length) {
      val mt = u8(d, off + 8)
      if (mt >= 0x10 && mt <= 0x16) {
        protos += "nbdgm"
        v("nbdgm.type") = mt.toLong
        v("nbdgm.dgram_id") = u16(d, off + 10).toLong
        // the Windows browser protocol rides a mailslot write to
        // \MAILSLOT\BROWSE — pragmatic scan for the mailslot name; the
        // command byte opens the data that follows the terminating NUL
        if (mt == 0x11) {
          val lim = math.min(off + 8 + payLen, d.length)
          val pat = "\\MAILSLOT\\BROWSE".getBytes("ISO-8859-1")
          var q = off + 18
          while (q + pat.length + 1 < lim) {
            if (d(q) == pat(0) && (1 until pat.length).forall(i => d(q + i) == pat(i))) {
              val cmd = u8(d, q + pat.length + 1)
              protos += "browser"
              v("browser.command") = cmd.toLong
              return cmd match {
                case 0x01 => "Host Announcement"
                case 0x02 => "Request Announcement"
                case 0x08 => "Browser Election Request"
                case 0x0c => "Domain/Workgroup Announcement"
                case 0x0f => "Local Master Announcement"
                case c => f"Browser 0x$c%02x"
              }
            }
            q += 1
          }
        }
        return mt match {
          case 0x10 => "Direct_unique datagram"
          case 0x11 => "Direct_group datagram"
          case 0x12 => "Broadcast datagram"
          case 0x13 => "Datagram error"
          case _    => "Datagram query"
        }
      }
    }
    // BitTorrent DHT (KRPC over bencode, UDP 6881): top-level dict keys
    // y (message kind) and q (query name)
    if ((sp == 6881 || dp == 6881) && payLen >= 4 && off + 9 <= d.length &&
      d(off + 8) == 'd') {
      val info = dissectBtDht(d, off + 8,
        math.min(off + 8 + payLen, d.length), v, protos)
      if (info != null) return info
    }
    // the same swarm port carries uTP when the payload isn't bencoded
    if (sp == 6881 || dp == 6881) {
      val utpInfo = dissectBtUtp(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (utpInfo != null) return utpInfo
    }
    // OpenVPN (UDP 1194): opcode(5 bits) + key id(3); control packets
    // carry a 64-bit session id
    if ((sp == 1194 || dp == 1194) && payLen >= 1 && off + 9 <= d.length) {
      val b = u8(d, off + 8)
      val op = b >> 3
      val name = openvpnOpcodeNames.getOrElse(op, null)
      if (name != null) {
        protos += "openvpn"
        v("openvpn.type") = b.toLong
        if (op != 6 && op != 9 && off + 17 <= d.length) {
          v("openvpn.sessionid") =
            (u32(d, off + 9) << 32) | u32(d, off + 13)
          // control channel with an empty ack-id array: the message
          // packet-id follows directly (with tls-auth the HMAC would sit
          // between — undetectable without keys, so only the 0-array
          // layout is claimed)
          if (off + 22 <= d.length && u8(d, off + 17) == 0)
            v("openvpn.mpid") = u32(d, off + 18)
        }
        return name
      }
    }
    // NAT-PMP (RFC 6886, UDP 5351): version 0, opcode 0–2 request /
    // 128–130 response (the +128 response convention)
    if ((sp == 5351 || dp == 5351) && payLen >= 2 && off + 10 <= d.length &&
      u8(d, off + 8) == 0) {
      val op = u8(d, off + 9)
      val name = (op & 0x7f) match {
        case 0 => "External Address"
        case 1 => "Map UDP"
        case 2 => "Map TCP"
        case _ => null
      }
      if (name != null) {
        protos += "nat-pmp"
        v("nat-pmp.version") = 0L
        v("nat-pmp.opcode") = op.toLong
        return s"$name ${if (op >= 128) "Response" else "Request"}"
      }
    }
    if (sp == 69 || dp == 69) {
      val tftpInfo = dissectTftp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (tftpInfo != null) {
        // a request's CLIENT port identifies the transfer that follows on
        // ephemeral ports (RFC 1350 §4: the server picks its own TID)
        val client = if (dp == 69) sp else dp
        if (tracker.tftpPorts.size < 256) tracker.tftpPorts += client
        return tftpInfo
      }
    }
    if (tracker.tftpPorts.contains(sp) || tracker.tftpPorts.contains(dp)) {
      val tftpInfo = dissectTftp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (tftpInfo != null) return tftpInfo
    }
    if (tracker.rtpPorts.contains(sp) || tracker.rtpPorts.contains(dp)) {
      val rtpInfo = dissectRtp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (rtpInfo != null) return rtpInfo
    }
    // RTCP rides the SDP-announced RTP port + 1 (RFC 3550 §11)
    if (tracker.rtpPorts.contains(sp - 1) || tracker.rtpPorts.contains(dp - 1)) {
      val rtcpInfo = dissectRtcp(d, off + 8, math.min(payLen, d.length - off - 8), v, protos)
      if (rtcpInfo != null) return rtcpInfo
    }
    // VXLAN (RFC 7348): 8-byte header with the I flag, then an inner
    // Ethernet frame dissected in nested (multi-occurrence) field mode
    if ((sp == 4789 || dp == 4789) && payLen >= 8 && off + 16 <= d.length &&
      (u8(d, off + 8) & 0x08) != 0) {
      protos += "vxlan"
      v("vxlan.flags") = u8(d, off + 8).toLong
      v("vxlan.vni") =
        ((u8(d, off + 12) << 16) | (u8(d, off + 13) << 8) | u8(d, off + 14)).toLong
      val wasNested = v.nested
      v.nested = true
      val inner =
        try dissectEthFrom(d, off + 16, v, protos, tracker, wanted)
        finally v.nested = wasNested
      return if (inner != null) inner else "VXLAN"
    }
    // TZSP (TaZmen Sniffer Protocol, UDP 37008): version 1 header, tagged
    // fields to TAG_END, then the encapsulated frame (encap 1 = Ethernet),
    // dissected in nested multi-occurrence mode like the other tunnels
    if ((sp == 37008 || dp == 37008) && payLen >= 4 && off + 12 <= d.length &&
      u8(d, off + 8) == 1) {
      val typ = u8(d, off + 9)
      val encap = u16(d, off + 10)
      if (typ <= 5) {
        protos += "tzsp"
        v("tzsp.version") = 1L
        v("tzsp.type") = typ.toLong
        v("tzsp.encap") = encap.toLong
        // walk the tag list: 0x00 padding, 0x01 end, else (tag, len, data)
        var p = off + 12
        val lim = math.min(off + 8 + payLen, d.length)
        var ended = false
        while (!ended && p < lim) {
          u8(d, p) match {
            case 0 => p += 1
            case 1 => p += 1; ended = true
            case _ =>
              if (p + 2 > lim) { p = lim }
              else p += 2 + u8(d, p + 1)
          }
        }
        if (typ == 4) return "TZSP Keepalive"
        if (ended && encap == 1 && p + 14 <= lim) {
          val wasNested = v.nested
          v.nested = true
          val inner =
            try dissectEthFrom(d, p, v, protos, tracker, wanted)
            finally v.nested = wasNested
          return if (inner != null) inner else "TZSP"
        }
        return "TZSP"
      }
    }
    // Geneve (RFC 8926): Ver(2)+OptLen(6) | flags | Protocol Type |
    // VNI(24)+rsvd, then OptLen×4 bytes of TLV options, then the inner
    // frame per the declared protocol type (0x6558 = bridged Ethernet)
    if ((sp == 6081 || dp == 6081) && payLen >= 8 && off + 16 <= d.length &&
      (u8(d, off + 8) >> 6) == 0) {
      val optLen = (u8(d, off + 8) & 0x3f) * 4
      val ptype = u16(d, off + 10)
      val innerOff = off + 16 + optLen
      if (innerOff <= d.length) {
        protos += "geneve"
        v("geneve.version") = ((u8(d, off + 8) >> 6) & 0x3).toLong
        v("geneve.proto_type") = ptype.toLong
        v("geneve.vni") =
          ((u8(d, off + 12) << 16) | (u8(d, off + 13) << 8) | u8(d, off + 14)).toLong
        val wasNested = v.nested
        v.nested = true
        val inner =
          try ptype match {
            case 0x6558 => dissectEthFrom(d, innerOff, v, protos, tracker, wanted)
            case 0x0800 => dissectIpv4(d, innerOff, v, protos, tracker, wanted)
            case 0x86dd => dissectIpv6(d, innerOff, v, protos, tracker, wanted)
            case _      => null
          } finally v.nested = wasNested
        return if (inner != null) inner else "Geneve"
      }
    }
    if (sp >= 7400 && sp < 7900 || dp >= 7400 && dp < 7900) {
      // domain id comes from whichever port is RTPS-side: on a
      // server->client reply the dst port is an ephemeral one and would
      // yield a bogus domain (ADVICE r8)
      val rtpsPort = if (dp >= 7400 && dp < 7900) dp else sp
      val rtpsInfo = dissectRtps(d, off + 8, math.min(payLen, d.length - off - 8),
        rtpsPort, v, protos)
      if (rtpsInfo != null) return rtpsInfo
    }
    if (sp == 30001 || dp == 30001) {
      val moldInfo = dissectMoldudp64(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (moldInfo != null) return moldInfo
    }
    if (sp == 9300 || dp == 9300) {
      val srtInfo = dissectSrt(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (srtInfo != null) return srtInfo
    }
    if (sp == 3130 || dp == 3130) {
      val icpInfo = dissectIcp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (icpInfo != null) return icpInfo
    }
    if (sp == 3544 || dp == 3544) {
      val trdInfo = dissectTeredo(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos, tracker, wanted)
      if (trdInfo != null) return trdInfo
    }
    if (sp == 521 || dp == 521) {
      val rnInfo = dissectRipng(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (rnInfo != null) return rnInfo
    }
    if (sp == 2048 || dp == 2048) {
      val wcInfo = dissectWccp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (wcInfo != null) return wcInfo
    }
    if (sp == 427 || dp == 427) {
      val slInfo = dissectSrvloc(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (slInfo != null) return slInfo
    }
    if (sp == 2944 || dp == 2944) {
      val mgInfo = dissectMegaco(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (mgInfo != null) return mgInfo
    }
    if (sp == 2442 || dp == 2442) {
      val msInfo = dissectMqttsn(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (msInfo != null) return msInfo
    }
    if (sp == 9600 || dp == 9600) {
      val fnInfo = dissectFins(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (fnInfo != null) return fnInfo
    }
    if (sp == 3671 || dp == 3671) {
      val kxInfo = dissectKnxnetip(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (kxInfo != null) return kxInfo
    }
    if (sp == 5678 && dp == 5678) {
      val mnInfo = dissectMndp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (mnInfo != null) return mnInfo
    }
    null
  }

  /** Third part of the UDP port ladder (see [[udpPortsA]]). */
  private def udpPortsC(
      d: Array[Byte], off: Int, payLen: Int, sp: Int, dp: Int,
      conv: UdpConv,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    // VXLAN-GPE (UDP 4790): VXLAN header with the P bit — next-protocol
    // discriminates the inner layer instead of assuming Ethernet
    if ((sp == 4790 || dp == 4790) && payLen >= 8 && off + 16 <= d.length &&
      (u8(d, off + 8) & 0x08) != 0) {
      val flags = u8(d, off + 8)
      protos += "vxlan"
      v("vxlan.flags") = flags.toLong
      v("vxlan.vni") =
        ((u8(d, off + 12) << 16) | (u8(d, off + 13) << 8) | u8(d, off + 14)).toLong
      val nextProto = if ((flags & 0x04) != 0) u8(d, off + 11) else 3
      if ((flags & 0x04) != 0) v("vxlan.next_proto") = u8(d, off + 11).toLong
      val wasNested = v.nested
      v.nested = true
      val inner =
        try nextProto match {
          case 1 => dissectIpv4(d, off + 16, v, protos, tracker, wanted)
          case 2 => dissectIpv6(d, off + 16, v, protos, tracker, wanted)
          case 3 => dissectEthFrom(d, off + 16, v, protos, tracker, wanted)
          case 4 => dissectNsh(d, off + 16, v, protos, tracker, wanted)
          case _ => null
        } finally v.nested = wasNested
      return if (inner != null) inner else "VXLAN-GPE"
    }
    // MPLS-over-UDP (RFC 7510, UDP 6635): the label stack + payload ride
    // directly in the datagram
    if ((sp == 6635 || dp == 6635) && payLen >= 8 && off + 12 <= d.length) {
      val wasNested = v.nested
      v.nested = true
      val inner =
        try dissectMpls(d, off + 8, v, protos, tracker, wanted)
        finally v.nested = wasNested
      if (inner != null) return inner
    }
    if (sp == 698 || dp == 698) {
      val olInfo = dissectOlsr(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (olInfo != null) return olInfo
    }
    if (sp == 646 || dp == 646) {
      val ldInfo = dissectLdp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (ldInfo != null) return ldInfo
    }
    if (sp == 5094 || dp == 5094) {
      val hiInfo = dissectHartIp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (hiInfo != null) return hiInfo
    }
    if (sp == 623 || dp == 623) {
      val rmInfo = dissectRmcp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (rmInfo != null) return rmInfo
    }
    if (sp == 17754 || dp == 17754) {
      val zpInfo = dissectZep(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (zpInfo != null) return zpInfo
    }
    if (sp == 25826 || dp == 25826) {
      val cdInfo = dissectCollectd(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (cdInfo != null) return cdInfo
    }
    if (sp == 4729 || dp == 4729) {
      val gtInfo = dissectGsmtap(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (gtInfo != null) return gtInfo
    }
    if (sp == 37 || dp == 37) {
      val tmInfo = dissectTime(d, off + 8, math.min(payLen, d.length - off - 8),
        fromServer = sp == 37, v, protos)
      if (tmInfo != null) return tmInfo
    }
    if (sp == 19 || dp == 19) {
      val cgInfo = dissectChargen(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (cgInfo != null) return cgInfo
    }
    if (sp == 7 || dp == 7) {
      val ecInfo = dissectEcho(d, off + 8, math.min(payLen, d.length - off - 8),
        fromServer = sp == 7, v, protos)
      if (ecInfo != null) return ecInfo
    }
    if (sp == 5351 || dp == 5351) {
      val pcInfo = dissectPcp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (pcInfo != null) return pcInfo
    }
    if (sp == 496 || dp == 496) {
      val arInfo = dissectAutoRp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (arInfo != null) return arInfo
    }
    if (sp == 1234 || dp == 1234) {
      val tsInfo = dissectMp2t(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (tsInfo != null) return tsInfo
    }
    if (sp == 111 || dp == 111) {
      val pmInfo = dissectPortmap(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (pmInfo != null) return pmInfo
    }
    if (sp == 4569 || dp == 4569) {
      val ixInfo = dissectIax2(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (ixInfo != null) return ixInfo
    }
    if (sp == 177 || dp == 177) {
      val xdInfo = dissectXdmcp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (xdInfo != null) return xdInfo
    }
    if (sp == 6454 || dp == 6454) {
      val anInfo = dissectArtnet(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (anInfo != null) return anInfo
    }
    if (sp == 3000 || dp == 3000) {
      val dsInfo = dissectDis(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (dsInfo != null) return dsInfo
    }
    if (sp == 7000 || dp == 7000) {
      val rxInfo = dissectRx(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (rxInfo != null) return rxInfo
    }
    if (sp == 19132 || dp == 19132) {
      val rkInfo = dissectRaknet(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (rkInfo != null) return rkInfo
    }
    if (sp == 3222 || dp == 3222) {
      val glInfo = dissectGlbp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (glInfo != null) return glInfo
    }
    if (sp == 464 || dp == 464) {
      val kpInfo = dissectKpasswd(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (kpInfo != null) return kpInfo
    }
    if (sp == 631 || dp == 631) {
      val cuInfo = dissectCups(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (cuInfo != null) return cuInfo
    }
    if (sp == 9000 || dp == 9000) {
      val udInfo = dissectUdt(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (udInfo != null) return udInfo
    }
    if (sp == 635 || dp == 635) {
      val mtInfo = dissectMount(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (mtInfo != null) return mtInfo
    }
    if (sp == 834 || dp == 834) {
      val ypInfo = dissectYpserv(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (ypInfo != null) return ypInfo
    }
    if (sp == 654 || dp == 654) {
      val aoInfo = dissectAodv(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (aoInfo != null) return aoInfo
    }
    if (sp == 854 || dp == 854) {
      val dlInfo = dissectDlep(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (dlInfo != null) return dlInfo
    }
    if (sp == 5007 || dp == 5007) {
      val mlInfo = dissectMelsec(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (mlInfo != null) return mlInfo
    }
    if (sp == 20202 || dp == 20202) {
      val gvInfo = dissectGvsp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (gvInfo != null) return gvInfo
    }
    if (sp == 9200 || dp == 9200) {
      val wsInfo = dissectWsp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (wsInfo != null) return wsInfo
    }
    if (sp == 443 || dp == 443) {
      val gqInfo = dissectGquic(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (gqInfo != null) return gqInfo
    }
    if (sp == 8600 || dp == 8600) {
      val axInfo = dissectAsterix(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (axInfo != null) return axInfo
    }
    if (sp == 8004 || dp == 8004) {
      val cgInfo = dissectCigi(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (cgInfo != null) return cgInfo
    }
    if (sp == 6004 || dp == 6004) {
      val t3Info = dissectT38(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (t3Info != null) return t3Info
    }
    if (sp == 4342 || dp == 4342) {
      val lcInfo = dissectLispControl(d, off + 8,
        math.min(payLen, d.length - off - 8), v, protos)
      if (lcInfo != null) return lcInfo
    }
    if (sp == 4045 || dp == 4045) {
      val nlInfo = dissectNlm(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (nlInfo != null) return nlInfo
    }
    if (sp == 30002 || dp == 30002) {
      val zrInfo = dissectZrtp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (zrInfo != null) return zrInfo
    }
    if (sp == 9201 || dp == 9201) {
      val wtInfo = dissectWtp(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (wtInfo != null) return wtInfo
    }
    // WTLS rides the secure WAP port (9202): record content type
    if ((sp == 9202 || dp == 9202) && payLen >= 3 && off + 9 <= d.length) {
      val rt = u8(d, off + 8) & 0x0f
      if (rt >= 1 && rt <= 4) {
        protos += "wtls"
        v("wtls.record.type") = rt.toLong
        return rt match {
          case 1 => "WTLS Change Cipher Spec"
          case 2 => "WTLS Alert"
          case 3 => "WTLS Handshake"
          case _ => "WTLS Application Data"
        }
      }
    }
    if (sp == 5246 || dp == 5246) {
      val cwInfo = dissectCapwap(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (cwInfo != null) return cwInfo
    }
    // LISP data encapsulation (RFC 6830, UDP 4341): 8-byte header, then
    // the inner IP packet — version nibble discriminates v4/v6
    if ((sp == 4341 || dp == 4341) && payLen >= 9 && off + 17 <= d.length) {
      val flags = u8(d, off + 8)
      protos += "lisp-data"
      v("lisp-data.flags") = flags.toLong
      if ((flags & 0x80) != 0) v("lisp-data.nonce") = u24(d, off + 9).toLong
      // I-bit: the second word's top 24 bits carry the instance id and
      // only the low byte remains a (reduced) locator-status-bitmap
      if ((flags & 0x08) != 0) v("lisp-data.iid") = u24(d, off + 12).toLong
      else v("lisp-data.lsb") = u32(d, off + 12)
      val wasNested = v.nested
      v.nested = true
      val inner =
        try u8(d, off + 16) >> 4 match {
          case 4 => dissectIpv4(d, off + 16, v, protos, tracker, wanted)
          case 6 => dissectIpv6(d, off + 16, v, protos, tracker, wanted)
          case _ => null
        } finally v.nested = wasNested
      return if (inner != null) inner else "LISP Data"
    }
    if (sp == 6696 || dp == 6696) {
      val bbInfo = dissectBabel(d, off + 8, math.min(payLen, d.length - off - 8),
        v, protos)
      if (bbInfo != null) return bbInfo
    }
    null
  }

  private lazy val dhcpMsgNames: Map[Int, String] = Map(
    1 -> "Discover", 2 -> "Offer", 3 -> "Request", 4 -> "Decline",
    5 -> "ACK", 6 -> "NAK", 7 -> "Release", 8 -> "Inform")

  /** DHCP/BOOTP (RFC 2131): fixed header gated on the magic cookie, then
    * an options walk for message type (53) and requested address (50). */
  private def dissectDhcp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 240) return null
    if (u32(d, off + 236) != 0x63825363L) return null // magic cookie
    protos += "dhcp"
    val op = u8(d, off)
    v("dhcp.type") = op.toLong
    v("dhcp.hops") = u8(d, off + 3).toLong
    v("dhcp.id") = u32(d, off + 4)
    v("dhcp.secs") = u16(d, off + 8).toLong
    v("dhcp.ip.client") = ipv4Str(d, off + 12)
    v("dhcp.ip.your") = ipv4Str(d, off + 16)
    v("dhcp.ip.server") = ipv4Str(d, off + 20)
    v("dhcp.ip.relay") = ipv4Str(d, off + 24)
    if (u8(d, off + 1) == 1 && u8(d, off + 2) == 6)
      v("dhcp.hw.mac_addr") = macStr(d, off + 28)
    var i = off + 240
    var msgType = -1
    var brk = false
    while (!brk && i < end) {
      u8(d, i) match {
        case 255 => brk = true // end option
        case 0   => i += 1 // pad
        case c =>
          if (i + 1 >= end) brk = true
          else {
            val l = u8(d, i + 1)
            if (i + 2 + l > end) brk = true
            else {
              if (c == 53 && l >= 1) msgType = u8(d, i + 2)
              if (c == 50 && l == 4) v("dhcp.option.requested_ip_address") = ipv4Str(d, i + 2)
              i += 2 + l
            }
          }
      }
    }
    if (msgType > 0) v("dhcp.option.dhcp") = msgType.toLong
    val name = dhcpMsgNames.getOrElse(msgType, if (op == 1) "Request" else "Reply")
    s"DHCP $name - Transaction ID 0x${"%x".format(u32(d, off + 4))}"
  }

  private lazy val quicTypeNames = Array("Initial", "0-RTT", "Handshake", "Retry")

  // ---- QUIC Initial packet protection (RFC 9001 §5) ------------------
  // Initial packets are encrypted with keys derived ONLY from the client's
  // Destination Connection ID and a published salt — so, like tshark, the
  // dissector can decrypt them without any session secrets and surface the
  // TLS ClientHello (SNI/ALPN/cipher suites) riding in CRYPTO frames.

  /** RFC 9001 §5.2 QUIC v1 initial salt. */
  private lazy val quicV1Salt: Array[Byte] =
    Array(0x38, 0x76, 0x2c, 0xf7, 0xf5, 0x59, 0x34, 0xb3, 0x4d, 0x17,
      0x9a, 0xe6, 0xa4, 0xc8, 0x0c, 0xad, 0xcc, 0xbb, 0x7f, 0x0a)
      .map(_.toByte)

  private def hmacSha256(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data)
  }

  /** HKDF-Expand-Label (RFC 8446 §7.1) for the lengths QUIC needs (≤32,
    * a single HMAC block — no expand loop). */
  private[pcap] def hkdfExpandLabel(secret: Array[Byte], label: String, len: Int): Array[Byte] = {
    val full = "tls13 " + label
    val info = new Array[Byte](2 + 1 + full.length + 1 + 1)
    info(0) = (len >>> 8).toByte
    info(1) = len.toByte
    info(2) = full.length.toByte
    System.arraycopy(full.getBytes("ISO-8859-1"), 0, info, 3, full.length)
    info(3 + full.length) = 0 // empty context
    info(4 + full.length) = 1 // T(1) counter
    hmacSha256(secret, info).take(len)
  }

  /** Initial key material from the client's original DCID for one side:
    * (key, iv, hp). Both directions derive from the SAME DCID — only the
    * expand label differs. */
  private[pcap] def quicInitialKeys(dcid: Array[Byte], side: String): (Array[Byte], Array[Byte], Array[Byte]) = {
    val initialSecret = hmacSha256(quicV1Salt, dcid) // HKDF-Extract(salt, dcid)
    val secret = hkdfExpandLabel(initialSecret, side, 32)
    (hkdfExpandLabel(secret, "quic key", 16),
      hkdfExpandLabel(secret, "quic iv", 12),
      hkdfExpandLabel(secret, "quic hp", 16))
  }

  private[pcap] def quicInitialClientKeys(dcid: Array[Byte]): (Array[Byte], Array[Byte], Array[Byte]) =
    quicInitialKeys(dcid, "client in")

  /** QUIC variable-length integer (RFC 9000 §16): (value, next index), or
    * null when truncated. */
  private def quicVarint(d: Array[Byte], at: Int, end: Int): (Long, Int) = {
    if (at >= end) return null
    val first = u8(d, at)
    val len = 1 << (first >>> 6)
    if (at + len > end) return null
    var v = (first & 0x3f).toLong
    var i = at + 1
    while (i < at + len) { v = (v << 8) | u8(d, i); i += 1 }
    (v, at + len)
  }

  /** Decrypt a client Initial packet in place-of: returns the plaintext
    * payload (frames) or null on any failure (wrong keys, AEAD mismatch,
    * malformed lengths) — callers fall back to the opaque rendering.
    * `pktStart` is the first byte of the packet, `pnOff` the packet-number
    * offset, `pktEnd` the end of this QUIC packet (Length-bounded). */
  private def quicDecryptInitial(
      d: Array[Byte], pktStart: Int, pnOff: Int, pktEnd: Int,
      keys: (Array[Byte], Array[Byte], Array[Byte]),
      v: FieldVec = null): Array[Byte] = {
    try {
      if (pnOff + 4 + 16 > pktEnd) return null
      val (key, iv, hp) = keys
      // header protection mask from the 16-byte sample at pn_offset + 4
      val ecb = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
      ecb.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(hp, "AES"))
      val mask = ecb.doFinal(java.util.Arrays.copyOfRange(d, pnOff + 4, pnOff + 20))
      val first = (u8(d, pktStart) ^ (mask(0) & 0x0f)) & 0xff
      val pnLen = (first & 0x03) + 1
      if (pnOff + pnLen > pktEnd) return null
      var pn = 0L
      val pnBytes = new Array[Byte](pnLen)
      var i = 0
      while (i < pnLen) {
        pnBytes(i) = (d(pnOff + i) ^ mask(1 + i)).toByte
        pn = (pn << 8) | (pnBytes(i) & 0xff)
        i += 1
      }
      // AEAD nonce: iv XOR left-padded packet number
      val nonce = iv.clone()
      i = 0
      while (i < 8) {
        nonce(nonce.length - 1 - i) = (nonce(nonce.length - 1 - i) ^ ((pn >>> (8 * i)) & 0xff)).toByte
        i += 1
      }
      // AAD: the unprotected header — first byte through the packet number
      val aad = java.util.Arrays.copyOfRange(d, pktStart, pnOff + pnLen)
      aad(0) = first.toByte
      System.arraycopy(pnBytes, 0, aad, pnOff - pktStart, pnLen)
      val gcm = javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
      gcm.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.GCMParameterSpec(128, nonce))
      gcm.updateAAD(aad)
      val plain = gcm.doFinal(d, pnOff + pnLen, pktEnd - (pnOff + pnLen))
      // pn is only trustworthy once the AEAD tag verified (doFinal throws
      // otherwise) - surface it like tshark's decrypted-Initial rendering
      if (v != null) v("quic.packet_number") = pn
      plain
    } catch { case _: Exception => null }
  }

  /** Reassemble CRYPTO frame data from a decrypted Initial payload
    * (PADDING/PING skipped, ACKs tolerated); null when nothing usable. */
  private def quicCryptoData(p: Array[Byte]): Array[Byte] = {
    val out = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    var i = 0
    var ok = true
    while (ok && i < p.length) {
      (u8(p, i): @annotation.switch) match {
        case 0x00 => i += 1 // PADDING
        case 0x01 => i += 1 // PING
        case 0x06 => // CRYPTO: varint offset, varint length, data
          quicVarint(p, i + 1, p.length) match {
            case null => ok = false
            case (cOff, a) => quicVarint(p, a, p.length) match {
              case null => ok = false
              case (cLen, b) =>
                if (cLen < 0 || b + cLen > p.length) ok = false
                else {
                  out += ((cOff, java.util.Arrays.copyOfRange(p, b, b + cLen.toInt)))
                  i = b + cLen.toInt
                }
            }
          }
        case 0x02 | 0x03 => // ACK: largest, delay, range count, first range
          var at = i + 1
          var fields = 0
          var failed = false
          var ranges = 0L
          while (fields < 4 && !failed) {
            quicVarint(p, at, p.length) match {
              case null => failed = true
              case (value, next) =>
                if (fields == 2) ranges = value
                at = next; fields += 1
            }
          }
          var r = 0L
          while (r < ranges && !failed) { // gap + len per range
            quicVarint(p, at, p.length) match {
              case null => failed = true
              case (_, n1) => quicVarint(p, n1, p.length) match {
                case null => failed = true
                case (_, n2) => at = n2
              }
            }
            r += 1
          }
          if (failed) ok = false else i = at
        case _ => ok = false // unexpected frame type in an Initial: stop
      }
    }
    if (out.isEmpty) return null
    val sorted = out.sortBy(_._1)
    if (sorted.head._1 != 0L) return null
    val buf = mutable.ArrayBuffer.empty[Byte]
    sorted.foreach { case (o, data) =>
      if (o > buf.length) return buf.toArray // gap: keep the prefix
      else if (o + data.length > buf.length)
        buf ++= data.drop((buf.length - o).toInt)
    }
    buf.toArray
  }

  /** QUIC (RFC 9000) long-header parsing on UDP/443: version, DCID/SCID,
    * packet type. Payload is encrypted — like tshark without keys, only
    * the invariant header is dissected. Short-header packets are named
    * via conversation state (a prior long header on the same 5-tuple). */
  private def dissectQuic(
      d: Array[Byte], off: Int, end: Int,
      conv: UdpConv,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 1) return null
    val first = u8(d, off)
    if ((first & 0x80) != 0) {
      if (end < off + 6) return null
      val ver = u32(d, off + 1)
      // plausibility gate: v1, v2, negotiation, or an IETF draft version
      val plausibleVer = ver == 0 || ver == 1 || ver == 0x6b3343cfL ||
        (ver & 0xffffff00L) == 0xff000000L
      if (!plausibleVer) return null
      val dcl = u8(d, off + 5)
      if (dcl > 20 || end < off + 6 + dcl + 1) return null
      val scl = u8(d, off + 6 + dcl)
      if (scl > 20 || end < off + 7 + dcl + scl) return null
      protos += "quic"
      conv.quic = true
      v("quic.fixed_bit") = (first & 0x40) != 0
      v("quic.version") = ver
      if (dcl > 0) v("quic.dcid") = hexBytes(d, off + 6, dcl)
      if (scl > 0) v("quic.scid") = hexBytes(d, off + 7 + dcl, scl)
      if (ver == 0) return "Version Negotiation"
      val t = (first >> 4) & 3
      v("quic.long.packet_type") = t.toLong
      val base =
        if (dcl > 0) s"${quicTypeNames(t)}, DCID=${hexBytes(d, off + 6, dcl)}"
        else quicTypeNames(t)
      // client Initial (v1): keys derive from the DCID alone (RFC 9001
      // §5.2) — remove header protection, AEAD-decrypt, and surface the
      // ClientHello from the CRYPTO frames, as tshark does without keys.
      // Any failure (server Initial, wrong version, tampered bytes) falls
      // back to the opaque rendering — never a wrong value.
      if (t == 0 && ver == 1) {
        val afterScid = off + 7 + dcl + scl
        val ownDcid = java.util.Arrays.copyOfRange(d, off + 6, off + 6 + dcl)
        val dec = quicVarint(d, afterScid, end) match {
          case null => null
          case (tokenLen, a0) =>
            val a1 = a0 + tokenLen.toInt
            if (tokenLen >= 0) v("quic.token_length") = tokenLen
            if (tokenLen < 0 || a1 > end) null
            else quicVarint(d, a1, end) match {
              case null => null
              case (plen2, pnOff) =>
                val pktEnd = pnOff + plen2.toInt
                if (plen2 >= 0) v("quic.length") = plen2
                if (plen2 < 20 || pktEnd > end) null
                else {
                  // a client Initial decrypts with keys from ITS OWN dcid;
                  // a server Initial only with "server in" keys from the
                  // CLIENT's original dcid held in conversation state
                  val asClient = quicDecryptInitial(d, off, pnOff, pktEnd,
                    quicInitialKeys(ownDcid, "client in"), v)
                  if (asClient != null) {
                    if (conv != null) conv.quicClientDcid = ownDcid
                    asClient
                  } else if (conv != null && conv.quicClientDcid != null)
                    quicDecryptInitial(d, off, pnOff, pktEnd,
                      quicInitialKeys(conv.quicClientDcid, "server in"), v)
                  else null
                }
            }
        }
        val crypto = if (dec == null) null else quicCryptoData(dec)
        if (crypto != null && crypto.length >= 4 &&
            4 + ((u8(crypto, 1) << 16) | u16(crypto, 2)) <= crypto.length) {
          (crypto(0) & 0xff) match {
            case 1 =>
              protos += "tls"
              val sni = parseClientHello(crypto, 0, crypto.length, v)
              return base + s", CRYPTO(ClientHello${sni.fold("")(" SNI=" + _)})"
            case 2 =>
              protos += "tls"
              return base + ", CRYPTO(ServerHello)"
            case _ =>
          }
        }
      }
      base
    } else if (conv.quic) {
      // short header: 1-RTT protected payload, headers are opaque
      protos += "quic"
      v("quic.fixed_bit") = (first & 0x40) != 0
      "Protected Payload"
    } else null
  }

  private val httpMethods =
    Seq("GET ", "POST ", "PUT ", "DELETE ", "HEAD ", "OPTIONS ", "PATCH ", "TRACE ", "CONNECT ")

  /** Index of the HTTP header-block terminator CRLFCRLF, or -1. */
  private def indexOfCrlfCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** HTTP/1.x request/response line + common headers (content-identified,
    * any port — exceeds tshark's default port-based dissector binding).
    * Fields mirror tshark filter names (`tshark -G fields` http rows). */
  private def dissectHttp(
      d: Array[Byte], pstart: Int, plen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (plen < 5) return null
    // byte-level gate before the String decode: every method/response
    // prefix starts with one of these — keeps the common non-HTTP payload
    // path allocation-free (hot-path; most TCP segments are not HTTP)
    val c0 = d(pstart)
    if (c0 != 'G' && c0 != 'P' && c0 != 'H' && c0 != 'D' &&
      c0 != 'O' && c0 != 'T' && c0 != 'C') return null
    // decode up to the end of the header block when its CRLFCRLF
    // terminator is present (a desegment-reassembled block can exceed any
    // fixed cap); fall back to 2 KB for an incomplete first segment, whose
    // unterminated headers are withheld below anyway
    var hend = -1
    var hi = pstart
    val hscanEnd = pstart + plen - 3
    while (hend < 0 && hi < hscanEnd) {
      if (d(hi) == '\r' && d(hi + 1) == '\n' && d(hi + 2) == '\r' && d(hi + 3) == '\n')
        hend = hi + 4
      hi += 1
    }
    val decLen = if (hend >= 0) hend - pstart else math.min(plen, 2048)
    val text = new String(d, pstart, decLen, "ISO-8859-1")
    val isResp = text.startsWith("HTTP/1.")
    val isReq = !isResp && httpMethods.exists(text.startsWith)
    if (!isReq && !isResp) return null
    val lineEnd = text.indexOf("\r\n")
    if (lineEnd < 0) return null // no complete start-line: not (yet) HTTP
    protos += "http"
    val line = text.substring(0, lineEnd)
    val lower = text.toLowerCase
    def header(name: String): Option[String] = {
      val at = lower.indexOf(s"\r\n$name:")
      if (at < 0) None
      else {
        val vs = at + 2 + name.length + 1
        val ve = text.indexOf("\r\n", vs)
        // a header whose line terminator hasn't arrived is truncated —
        // emitting the partial value would be wrong (deseg completes it)
        if (ve < 0) None else Some(text.substring(vs, ve).trim)
      }
    }
    val parts = line.split(" ", 3)
    if (isReq) {
      v("http.request") = true
      v("http.request.method") = parts(0)
      if (parts.length > 1) v("http.request.uri") = parts(1)
      if (parts.length > 2) v("http.request.version") = parts(2)
      header("host").foreach(h => v("http.host") = h)
      header("user-agent").foreach(h => v("http.user_agent") = h)
      header("cookie").foreach(h => v("http.cookie") = h)
      header("referer").foreach(h => v("http.referer") = h)
      header("authorization").foreach(h => v("http.authorization") = h)
      header("accept").foreach(h => v("http.accept") = h)
      header("accept-encoding").foreach(h => v("http.accept_encoding") = h)
      // tshark's computed full_uri: scheme + Host header + request target
      if (parts.length > 1) header("host").foreach(h =>
        v("http.request.full_uri") = s"http://$h${parts(1)}")
    } else {
      v("http.response") = true
      v("http.response.version") = parts(0)
      if (parts.length > 1) parts(1).toLongOption.foreach(c => v("http.response.code") = c)
      if (parts.length > 2) v("http.response.phrase") = parts(2)
      header("content-type").foreach(h => v("http.content_type") = h)
      header("server").foreach(h => v("http.server") = h)
      header("location").foreach(h => v("http.location") = h)
      header("set-cookie").foreach(h => v("http.set_cookie") = h)
      header("last-modified").foreach(h => v("http.last_modified") = h)
    }
    header("connection").foreach(h => v("http.connection") = h)
    header("cache-control").foreach(h => v("http.cache_control") = h)
    header("content-length").flatMap(_.toLongOption).foreach(c => v("http.content_length") = c)
    // media-typed entities surface their CONTENT layers, tshark-style:
    // JSON (first key/value), OCSP (DER responseStatus), CMS/PKCS#7
    // (content-type OID), DAAP (first dmap tag)
    if (hend >= 0 && hend < pstart + plen) {
      val blen = plen - (hend - pstart)
      header("content-type").foreach { ct =>
        if (ct.startsWith("application/json")) {
          val body = new String(d, hend, math.min(blen, 2048), "ISO-8859-1")
          """"([^"]+)"\s*:\s*(?:"([^"]*)")?""".r.findFirstMatchIn(body).foreach { m =>
            protos += "json"
            v("json.key") = m.group(1)
            if (m.group(2) != null) v("json.value.string") = m.group(2)
          }
        } else if (ct.startsWith("application/ocsp-response") && blen >= 5 &&
          u8(d, hend) == 0x30 && u8(d, hend + 2) == 0x0A && u8(d, hend + 3) == 1) {
          // OCSPResponse ::= SEQUENCE { responseStatus ENUMERATED ... }
          protos += "ocsp"
          v("ocsp.responseStatus") = u8(d, hend + 4).toLong
        } else if (ct.startsWith("application/pkcs7") && blen >= 13 &&
          u8(d, hend) == 0x30 && u8(d, hend + 2) == 0x06 && u8(d, hend + 3) == 9) {
          // ContentInfo ::= SEQUENCE { contentType OID ... }
          protos += "cms"
          val oid = new StringBuilder
          val b0 = u8(d, hend + 4)
          oid.append(b0 / 40).append('.').append(b0 % 40)
          var acc = 0L
          var i = hend + 5
          while (i < hend + 13) {
            val b = u8(d, i)
            acc = (acc << 7) | (b & 0x7f)
            if ((b & 0x80) == 0) { oid.append('.').append(acc); acc = 0L }
            i += 1
          }
          v("cms.contentType") = oid.toString
          // explicit [0] content -> SignedData SEQUENCE -> version INTEGER
          if (hend + 19 <= hend + blen && i + 6 <= hend + blen &&
            u8(d, i) == 0xa0 && u8(d, i + 2) == 0x30 &&
            u8(d, i + 4) == 0x02 && u8(d, i + 5) == 0x01)
            v("cms.version") = u8(d, i + 6).toLong
        } else if (ct.startsWith("application/x-dmap-tagged") && blen >= 8) {
          val tag = new String(d, hend, 4, "ISO-8859-1")
          if (tag.forall(c => c >= 'a' && c <= 'z')) {
            protos += "daap"
            v("daap.name") = tag
            v("daap.size") = u32(d, hend + 4)
          }
        } else if (ct.startsWith("application/ipp") && blen >= 8) {
          // IPP (RFC 8010) rides HTTP: version-number, operation-id (or
          // status-code in responses), big-endian request-id
          val vmaj = u8(d, hend)
          if (vmaj == 1 || vmaj == 2) {
            protos += "ipp"
            v("ipp.operation_id") = u16(d, hend + 2).toLong
            v("ipp.request_id") = u32(d, hend + 4)
          }
        }
      }
    }
    line
  }

  private lazy val tlsHandshakeNames: Map[Int, String] = Map(
    1 -> "Client Hello", 2 -> "Server Hello", 4 -> "New Session Ticket",
    8 -> "Encrypted Extensions", 11 -> "Certificate", 12 -> "Server Key Exchange",
    14 -> "Server Hello Done", 16 -> "Client Key Exchange", 20 -> "Finished")

  /** TLS record layer + handshake type + ClientHello SNI. Identified by a
    * plausible record header (content types 20-23, version 3.x) on either
    * direction; SNI comes from the server_name (0) extension. */
  private def dissectTls(
      d: Array[Byte], pstart: Int, plen: Int, sp: Int, dp: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (plen < 5) return null
    val ctype = u8(d, pstart)
    val vmaj = u8(d, pstart + 1)
    val vmin = u8(d, pstart + 2)
    val rlen = u16(d, pstart + 3)
    val plausible = ctype >= 20 && ctype <= 23 && vmaj == 3 && vmin <= 4 && rlen > 0
    if (!plausible) return null
    // application-data records carry no structure to confirm — accept them
    // only on a registered port (443, or 853 = DNS-over-TLS) to avoid
    // false positives
    if (ctype != 22 && sp != 443 && dp != 443 && sp != 853 && dp != 853)
      return null
    protos += "tls"
    v("tls.record.content_type") = ctype.toLong
    v("tls.record.version") = ((vmaj << 8) | vmin).toLong
    v("tls.record.length") = rlen.toLong
    if (ctype == 21 && plen >= 7) {
      // Alert (RFC 8446 §6): level (1=warning, 2=fatal) + description —
      // payload starts after the 5-byte record header, like hsType below
      v("tls.alert_message.level") = u8(d, pstart + 5).toLong
      v("tls.alert_message.desc") = u8(d, pstart + 6).toLong
    }
    if (ctype != 22) return tlsContentName(ctype)
    if (plen < 6) return "TLS Handshake"
    val hsType = u8(d, pstart + 5)
    v("tls.handshake.type") = hsType.toLong
    if (plen >= 11 && (hsType == 1 || hsType == 2))
      v("tls.handshake.version") = u16(d, pstart + 9).toLong
    if (hsType == 1) {
      val sni = parseClientHello(d, pstart + 5, math.min(pstart + 5 + plen - 5, d.length), v)
      sni match {
        case Some(n) => s"Client Hello (SNI=$n)"
        case None    => "Client Hello"
      }
    } else if (hsType == 2) {
      parseServerHello(d, pstart + 5, math.min(pstart + 5 + plen - 5, d.length), v)
      "Server Hello"
    } else if (hsType == 11) {
      val subject = parseCertificateCns(d, pstart + 5, math.min(pstart + plen, d.length), v)
      parseCertificateX509(d, pstart + 5, math.min(pstart + plen, d.length), v, protos)
      subject.map(cn => s"Certificate (CN=$cn)").getOrElse("Certificate")
    } else tlsHandshakeNames.getOrElse(hsType, s"Handshake type=$hsType")
  }

  /** CN extraction from a TLS Certificate handshake message: scans the
    * first certificate's DER for commonName AttributeTypeAndValues
    * (OID 2.5.4.3 = 06 03 55 04 03 followed by a UTF8/Printable/IA5
    * string). In TBSCertificate the issuer Name precedes the subject
    * Name, so the first hit is the issuer CN and the last is the subject
    * CN — a pragmatic scan, not a full X.509 parser (tshark delegates to
    * its x509 dissector; full DER is out of scope here).
    * @return the subject CN for the info column. */
  private def parseCertificateCns(d: Array[Byte], hs: Int, end: Int, v: FieldVec): Option[String] = {
    // handshake header (4) + certificates length (3) + first cert length (3)
    var i = hs + 4 + 3
    if (i + 3 > end) return None
    val certLen = ((d(i) & 0xff) << 16) | ((d(i + 1) & 0xff) << 8) | (d(i + 2) & 0xff)
    i += 3
    val certEnd = math.min(end, i + certLen)
    val cns = mutable.ArrayBuffer.empty[String]
    var p = i
    while (p + 7 < certEnd && cns.length < 8) {
      if (d(p) == 0x06 && d(p + 1) == 0x03 && d(p + 2) == 0x55 &&
        d(p + 3) == 0x04 && d(p + 4) == 0x03) {
        val tag = d(p + 5) & 0xff
        val len = d(p + 6) & 0xff
        // utf8 (0x0c), printable (0x13), ia5 (0x16); short-form length only
        if ((tag == 0x0c || tag == 0x13 || tag == 0x16) && len < 0x80 &&
          p + 7 + len <= certEnd) {
          cns += new String(d, p + 7, len, "UTF-8")
          p += 7 + len
        } else p += 5
      } else p += 1
    }
    if (cns.isEmpty) return None
    v("tls.handshake.certificate_issuer_cn") = cns.head
    v("tls.handshake.certificate_subject_cn") = cns.last
    Some(cns.last)
  }

  /** X.509 structure scan over the first certificate of a TLS Certificate
    * message — the same pragmatic-scan contract as [[parseCertificateCns]]:
    * the [0] EXPLICIT version + trailing serial INTEGER, the 9-byte
    * AlgorithmIdentifier OID (decoded generically), and the
    * subjectAltName / basicConstraints / subjectKeyIdentifier extensions
    * by their 2.5.29.x OIDs. Registers the x509af / x509ce layers the way
    * tshark's delegated x509 dissectors appear in frame.protocols. */
  private def parseCertificateX509(
      d: Array[Byte], hs: Int, end: Int, v: FieldVec,
      protos: mutable.ArrayBuffer[String]): Unit = {
    var sawAf = false
    var sawCe = false
    def markAf(): Unit = if (!sawAf) { sawAf = true; protos += "x509af" }
    def markCe(): Unit = if (!sawCe) { sawCe = true; protos += "x509ce" }
    var p = hs + 10 // handshake(4) + certs len(3) + first cert len(3)
    while (p + 6 < end) {
      // version [0] EXPLICIT { INTEGER v } + serialNumber INTEGER
      if ((d(p) & 0xff) == 0xA0 && d(p + 1) == 0x03 && d(p + 2) == 0x02 &&
        d(p + 3) == 0x01 && !sawAf) {
        markAf()
        v("x509af.version") = (d(p + 4) & 0xff).toLong
        if (p + 6 < end && d(p + 5) == 0x02) {
          val sl = d(p + 6) & 0xff
          if (sl > 0 && sl < 0x20 && p + 7 + sl <= end)
            v("x509af.serialNumber") =
              (0 until sl).map(i => hex2(d(p + 7 + i) & 0xff)).mkString
        }
      }
      // AlgorithmIdentifier: SEQUENCE { OID(9 bytes) ... }
      if (d(p) == 0x30 && d(p + 1) == 0x0D && d(p + 2) == 0x06 &&
        d(p + 3) == 0x09 && p + 13 <= end) {
        markAf()
        val oid = new StringBuilder
        val b0 = d(p + 4) & 0xff
        oid.append(b0 / 40).append('.').append(b0 % 40)
        var acc = 0L
        var i = p + 5
        while (i < p + 13) {
          val b = d(i) & 0xff
          acc = (acc << 7) | (b & 0x7f)
          if ((b & 0x80) == 0) { oid.append('.').append(acc); acc = 0L }
          i += 1
        }
        v("x509af.algorithm.id") = oid.toString
      }
      // extensions by OID 2.5.29.x = 06 03 55 1D xx
      if (d(p) == 0x06 && d(p + 1) == 0x03 && (d(p + 2) & 0xff) == 0x55 &&
        (d(p + 3) & 0xff) == 0x1D) {
        (d(p + 4) & 0xff) match {
          case 0x11 => // subjectAltName: ... 04 l 30 l2 82 l3 dNSName
            var q = p + 5
            val lim = math.min(end, p + 16)
            while (q + 2 < lim) {
              if ((d(q) & 0xff) == 0x82) {
                val nl = d(q + 1) & 0xff
                if (nl > 0 && nl < 0x80 && q + 2 + nl <= end) {
                  markCe()
                  v("x509ce.dNSName") = new String(d, q + 2, nl, "ISO-8859-1")
                  q = lim
                } else q += 1
              } else q += 1
            }
          case 0x13 => // basicConstraints: cA BOOLEAN present?
            markCe()
            var ca = false
            var q = p + 5
            val lim = math.min(end, p + 14)
            while (q + 2 < lim) {
              if (d(q) == 0x01 && d(q + 1) == 0x01 && (d(q + 2) & 0xff) == 0xff)
                ca = true
              q += 1
            }
            v("x509ce.cA") = ca
          case 0x0e => // subjectKeyIdentifier: 04 l 04 l2 keyid
            if (p + 7 < end && d(p + 5) == 0x04 && d(p + 7) == 0x04 &&
              p + 9 + (d(p + 8) & 0xff) <= end) {
              val kl = d(p + 8) & 0xff
              if (kl > 0 && kl <= 20) {
                markCe()
                v("x509ce.keyIdentifier") =
                  (0 until kl).map(i => hex2(d(p + 9 + i) & 0xff)).mkString
              }
            }
          case _ =>
        }
      }
      p += 1
    }
  }

  /** Does the header block [0, hEnd) declare chunked transfer coding? */
  private def isChunkedHeaders(buf: Array[Byte], hEnd: Int): Boolean = {
    val headers = new String(buf, 0, math.min(hEnd, buf.length), "ISO-8859-1")
      .toLowerCase.replace(" ", "")
    headers.contains("transfer-encoding:chunked")
  }

  /** Gunzip a gzip-coded entity body (ISO-8859-1 byte-preserving string
    * in, decompressed text out) — tshark's http.file_data shows the
    * DECOMPRESSED bytes for Content-Encoding: gzip. Null on truncated or
    * corrupt streams (never throws). */
  private def gunzipBody(body: String): String = {
    val bytes = body.getBytes("ISO-8859-1")
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var total = 0
      var n = in.read(buf)
      while (n > 0 && total <= MaxCarry) {
        out.write(buf, 0, n); total += n; n = in.read(buf)
      }
      in.close()
      if (total > MaxCarry) null else new String(out.toByteArray, "ISO-8859-1")
    } catch { case _: java.io.IOException => null }
  }

  private def hexVal(b: Byte): Int =
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else -1

  /** Walk a chunked transfer-coding body (RFC 9112 §7.1) starting at
    * `from`. @return the decoded body once the terminal 0-chunk is in the
    * buffer; null while incomplete or on malformed framing (trailer
    * fields after the 0-chunk are ignored, like tshark's default). */
  private def decodeChunked(buf: Array[Byte], from: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = from
    while (i < buf.length) {
      var j = i
      var size = 0L
      var digits = 0
      while (j < buf.length && hexVal(buf(j)) >= 0 && digits <= 7) {
        size = size * 16 + hexVal(buf(j)); j += 1; digits += 1
      }
      if (digits == 0 || size > MaxCarry) return null
      // skip any chunk extension up to the size line's CRLF
      while (j + 1 < buf.length && !(buf(j) == '\r' && buf(j + 1) == '\n')) j += 1
      if (j + 1 >= buf.length) return null // size line incomplete
      j += 2
      if (size == 0) return sb.toString // terminal chunk
      if (j + size + 2 > buf.length) return null // chunk data (+CRLF) incomplete
      sb.append(new String(buf, j, size.toInt, "ISO-8859-1"))
      i = (j + size + 2).toInt
    }
    null
  }

  private lazy val smb2CmdNames: Map[Int, String] = Map(
    0 -> "Negotiate", 1 -> "Session Setup", 2 -> "Logoff", 3 -> "Tree Connect",
    4 -> "Tree Disconnect", 5 -> "Create", 6 -> "Close", 7 -> "Flush",
    8 -> "Read", 9 -> "Write", 10 -> "Lock", 11 -> "Ioctl", 12 -> "Cancel",
    13 -> "Echo", 14 -> "Find", 15 -> "Notify", 16 -> "GetInfo", 17 -> "SetInfo",
    18 -> "Break")

  /** NBSS framing (RFC 1002 §4.3.6, also the "Direct TCP" 445 transport)
    * carrying an SMB1 or SMB2/3 header: the session-service layer is
    * emitted when present, then the version-matching SMB dissector runs. */
  private def dissectNbssSmb(
      d: Array[Byte], pstart: Int, plen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (plen < 4) return null
    val hasNbss = d(pstart) == 0 && plen >= 8
    val off = if (hasNbss) pstart + 4 else pstart
    val end = pstart + plen
    if (off + 4 > end || !(d(off + 1) == 'S' && d(off + 2) == 'M' && d(off + 3) == 'B'))
      return null
    val isSmb2 = d(off) == 0xfe.toByte
    val isSmb1 = d(off) == 0xff.toByte
    if (!isSmb2 && !isSmb1) return null
    if (hasNbss) {
      protos += "nbss"
      v("nbss.type") = u8(d, pstart).toLong
      v("nbss.flags") = u8(d, pstart + 1).toLong
      // 17-bit length: the flags byte's low bit extends the 16-bit field
      v("nbss.length") = (((u8(d, pstart + 1) & 1) << 16) | u16(d, pstart + 2)).toLong
    }
    if (isSmb2) dissectSmb2(d, off, end - off, v, protos)
    else dissectSmb1(d, off, end - off, v, protos)
  }

  private lazy val smb1CmdNames: Map[Int, String] = Map(
    0x04 -> "Close", 0x25 -> "Trans", 0x2e -> "Read AndX", 0x2f -> "Write AndX",
    0x32 -> "Trans2", 0x71 -> "Tree Disconnect", 0x72 -> "Negotiate Protocol",
    0x73 -> "Session Setup AndX", 0x74 -> "Logoff AndX",
    0x75 -> "Tree Connect AndX", 0xa0 -> "NT Trans", 0xa2 -> "NT Create AndX")

  /** SMB1 header (MS-CIFS §2.2.3.1): \xFFSMB magic, command, the
    * FLAGS2-selected NT-status/DOS-error union, and TID/PID/UID/MID — the
    * triage fields; command bodies are tshark's smb dissector territory. */
  private def dissectSmb1(
      d: Array[Byte], off: Int, plen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (plen < 32) return null
    def leU16(o: Int) = (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8)
    def leU32(o: Int): Long = (leU16(o) | (leU16(o + 2).toLong << 16)) & 0xffffffffL
    protos += "smb"
    // the magic as Wireshark renders smb.server_component: LE uint32 of \xFFSMB
    v("smb.server_component") = 0x424d53ffL
    val cmd = u8(d, off + 4)
    v("smb.cmd") = cmd.toLong
    val flags = u8(d, off + 9)
    val flags2 = leU16(off + 10)
    v("smb.flags") = flags.toLong
    v("smb.flags2") = flags2.toLong
    // FLAGS2 bit 14 selects 32-bit NT status vs DOS error class/code
    if ((flags2 & 0x4000) != 0) v("smb.nt_status") = leU32(off + 5)
    else v("smb.error_class") = u8(d, off + 5).toLong
    v("smb.tid") = leU16(off + 24).toLong
    v("smb.pid") = leU16(off + 26).toLong
    v("smb.uid") = leU16(off + 28).toLong
    v("smb.mid") = leU16(off + 30).toLong
    val isReply = (flags & 0x80) != 0
    // tier 55: the share path (Tree Connect AndX request, MS-CIFS
    // §2.2.4.55: wct=4, then pwlen-prefixed password, then the ASCII
    // path) and the created file name (NT Create AndX request §2.2.4.64:
    // wct=24 with NameLength at word 3, name after the byte count)
    val bodyOff = off + 32
    if (!isReply && cmd == 0x75 && plen >= 42 && u8(d, bodyOff) == 4) {
      val pwlen = (d(bodyOff + 7) & 0xff) | ((d(bodyOff + 8) & 0xff) << 8)
      val path0 = bodyOff + 11 + pwlen
      if (path0 < off + plen) {
        var e = path0
        while (e < off + plen && d(e) != 0) e += 1
        if (e > path0) v("smb.path") = new String(d, path0, e - path0, "ISO-8859-1")
      }
    }
    if (!isReply && cmd == 0xa2 && plen >= 88 && u8(d, bodyOff) == 24) {
      val nameLen = (d(bodyOff + 6) & 0xff) | ((d(bodyOff + 7) & 0xff) << 8)
      val name0 = bodyOff + 1 + 48 + 2 // wct + 24 words + byte count
      if (nameLen > 0 && name0 + nameLen <= off + plen)
        v("smb.file") = new String(d, name0, nameLen, "ISO-8859-1")
    }
    val name = smb1CmdNames.getOrElse(cmd, f"Cmd 0x$cmd%02x")
    s"$name ${if (isReply) "Response" else "Request"}"
  }

  /** SMB2/3 header sniff (MS-SMB2 §2.2.1): command, message id, and the
    * request/response direction — the triage fields; full IOCTL/create
    * bodies are out of scope (tshark's smb2 dissector territory). */
  private def dissectSmb2(
      d: Array[Byte], off: Int, plen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (plen < 16) return null
    protos += "smb2"
    def leU16(o: Int) = (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8)
    def leU32(o: Int): Long = (leU16(o) | (leU16(o + 2).toLong << 16)) & 0xffffffffL
    val cmd = leU16(off + 12)
    val flags = leU32(off + 16)
    val isResponse = (flags & 1L) != 0
    v("smb2.cmd") = cmd.toLong
    v("smb2.flags.response") = isResponse
    v("smb2.credit.charge") = leU16(off + 6).toLong
    v("smb2.credits.requested") = leU16(off + 14).toLong
    if (isResponse) v("smb2.nt_status") = leU32(off + 8)
    if (off + 32 <= off + plen)
      v("smb2.msg_id") = leU32(off + 24) | (leU32(off + 28) << 32)
    if (plen >= 44) {
      v("smb2.tid") = leU32(off + 36)
      if (plen >= 48)
        v("smb2.sesid") = leU32(off + 40) | (leU32(off + 44) << 32)
    }
    // tier 55: the CREATE request's UTF-16LE file name (MS-SMB2 §2.2.13:
    // StructureSize 57, NameOffset/NameLength at body offsets 44/46)
    if (cmd == 5 && !isResponse && plen >= 64 + 56 && leU16(off + 64) == 57) {
      val nameOff = leU16(off + 64 + 44)
      val nameLen = leU16(off + 64 + 46)
      if (nameLen > 0 && nameOff + nameLen <= plen)
        v("smb2.filename") =
          new String(d, off + nameOff, nameLen, java.nio.charset.StandardCharsets.UTF_16LE)
    }
    val name = smb2CmdNames.getOrElse(cmd, s"Cmd$cmd")
    // DCERPC over the SMB named-pipe transport (MS-SMB2 §2.2.20/2.2.21 +
    // C706: RPC PDUs ride in Write-request / Read-response data to an
    // IPC$ pipe): locate the data block from the body's DataOffset/Length
    // and hand it to the DCERPC dissector — Wireshark stacks the layer
    // chain the same way (…:smb2:dcerpc) and promotes the RPC info.
    val end = off + plen
    if (plen >= 64 + 16) {
      var payOff = -1; var payLen = -1
      if (cmd == 9 && !isResponse && leU16(off + 64) == 49 && plen >= 64 + 48) {
        val doff = leU16(off + 66); val dlen = leU32(off + 68).toInt
        if (doff >= 64 && dlen >= 16 && off + doff + dlen <= end) {
          payOff = off + doff; payLen = dlen
        }
      } else if (cmd == 8 && isResponse && leU16(off + 64) == 17 && plen >= 64 + 16) {
        val doff = u8(d, off + 66); val dlen = leU32(off + 68).toInt
        if (doff >= 64 && dlen >= 16 && off + doff + dlen <= end) {
          payOff = off + doff; payLen = dlen
        }
      }
      if (payOff >= 0) {
        val inner = dissectDcerpc(d, payOff, payLen, v, protos)
        if (inner != null) return inner
      }
    }
    // Session Setup (cmd 1) RESPONSE: the security buffer is a raw SPNEGO
    // NegTokenResp [1] whose negState ENUMERATED is the negotiation result
    if (cmd == 1 && isResponse && plen >= 64 + 8 && leU16(off + 64) == 9) {
      val sboff = leU16(off + 68)
      val sblen = leU16(off + 70)
      if (sboff >= 64 && sblen >= 7 && off + sboff + sblen <= end) {
        val blob = off + sboff
        if (u8(d, blob) == 0xa1 && u8(d, blob + 2) == 0x30 &&
          u8(d, blob + 4) == 0xa0 && u8(d, blob + 5) == 0x03 &&
          u8(d, blob + 6) == 0x0a) {
          protos += "gssapi"
          protos += "spnego"
          val res = u8(d, blob + 8)
          v("spnego.negResult") = res.toLong
          val resName = res match {
            case 0 => "accept-completed"; case 1 => "accept-incomplete"
            case _ => "reject"
          }
          return s"Session Setup Response, $resName"
        }
      }
    }
    // Session Setup (cmd 1) request: the security buffer carries the
    // GSS-API InitialContextToken / SPNEGO negotiation, usually wrapping
    // an NTLMSSP token — the Wireshark layer chain smb2:gssapi:spnego:
    // ntlmssp reproduced here
    if (cmd == 1 && !isResponse && plen >= 64 + 16 && leU16(off + 64) == 25) {
      val sboff = leU16(off + 76)
      val sblen = leU16(off + 78)
      if (sboff >= 64 && sblen >= 12 && off + sboff + sblen <= end) {
        val blob = off + sboff
        var extra = ""
        if (u8(d, blob) == 0x60) {
          protos += "gssapi"
          v("gssapi.length") = sblen.toLong
          if (u8(d, blob + 2) == 0x06 && u8(d, blob + 3) == 0x06) {
            v("gssapi.oid") = "1.3.6.1.5.5.2"
            protos += "spnego"
            v("spnego.mech") = "1.3.6.1.5.5.2"
          }
        }
        var q = blob
        while (q + 12 <= blob + sblen && extra.isEmpty) {
          if (d(q) == 'N' && d(q + 1) == 'T' && d(q + 2) == 'L' &&
            d(q + 3) == 'M' && d(q + 4) == 'S' && d(q + 5) == 'S' &&
            d(q + 6) == 'P' && d(q + 7) == 0) {
            protos += "ntlmssp"
            val mt = leU32(q + 8)
            v("ntlmssp.messagetype") = mt
            extra = mt match {
              case 1L => ", NTLMSSP_NEGOTIATE"
              case 2L => ", NTLMSSP_CHALLENGE"
              case 3L => ", NTLMSSP_AUTH"
              case _ => ", NTLMSSP"
            }
          }
          q += 1
        }
        return s"$name Request$extra"
      }
    }
    s"$name ${if (isResponse) "Response" else "Request"}"
  }

  private lazy val eigrpOpcodeNames: Map[Int, String] = Map(
    1 -> "Update", 3 -> "Query", 4 -> "Reply", 5 -> "Hello",
    10 -> "SIA-Query", 11 -> "SIA-Reply")

  /** EIGRP (Cisco, IP protocol 88): version-2 fixed header. */
  private def dissectEigrp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 20) return null
    if (u8(d, off) != 2) return null // header version
    val opcode = u8(d, off + 1)
    protos += "eigrp"
    v("eigrp.opcode") = opcode.toLong
    v("eigrp.checksum") = u16(d, off + 2).toLong
    v("eigrp.flags") = u32(d, off + 4)
    v("eigrp.seq") = u32(d, off + 8)
    v("eigrp.ack") = u32(d, off + 12)
    v("eigrp.as") = u16(d, off + 18).toLong
    eigrpOpcodeNames.getOrElse(opcode, s"Opcode $opcode")
  }

  private lazy val hsrpStateNames: Map[Int, String] = Map(
    0 -> "Initial", 1 -> "Learn", 2 -> "Listen", 4 -> "Speak",
    8 -> "Standby", 16 -> "Active")
  private lazy val hsrpOpcodeNames: Map[Int, String] =
    Map(0 -> "Hello", 1 -> "Coup", 2 -> "Resign")

  /** HSRP v0 (RFC 2281, UDP 1985): hello/coup/resign header. */
  private def dissectHsrp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20) return null
    if (u8(d, off) != 0) return null // version 0
    val op = u8(d, off + 1)
    val state = u8(d, off + 2)
    val opName = hsrpOpcodeNames.getOrElse(op, return null)
    protos += "hsrp"
    v("hsrp.version") = 0L
    v("hsrp.opcode") = op.toLong
    v("hsrp.state") = state.toLong
    v("hsrp.hellotime") = u8(d, off + 3).toLong
    v("hsrp.holdtime") = u8(d, off + 4).toLong
    v("hsrp.priority") = u8(d, off + 5).toLong
    v("hsrp.group") = u8(d, off + 6).toLong
    v("hsrp.virt_ip") = ipv4Str(d, off + 16)
    s"$opName (state ${hsrpStateNames.getOrElse(state, state.toString)})"
  }

  /** RIP v1/v2 (RFC 2453, UDP 520): command/version + the first route. */
  private def dissectRip(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val cmd = u8(d, off)
    val ver = u8(d, off + 1)
    if (cmd < 1 || cmd > 2 || ver < 1 || ver > 2) return null
    protos += "rip"
    v("rip.command") = cmd.toLong
    v("rip.version") = ver.toLong
    if (len >= 24) { // first 20-byte route entry
      v("rip.family") = u16(d, off + 4).toLong
      v("rip.ip") = ipv4Str(d, off + 8)
      v("rip.netmask") = ipv4Str(d, off + 12)
      v("rip.next_hop") = ipv4Str(d, off + 16)
      v("rip.metric") = u32(d, off + 20)
    }
    if (cmd == 1) "Request" else "Response"
  }

  private lazy val bfdStateNames: Array[String] =
    Array("AdminDown", "Down", "Init", "Up")

  /** BFD control packet (RFC 5880 §4.1, UDP 3784). */
  private def dissectBfd(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 24) return null
    val ver = u8(d, off) >>> 5
    if (ver != 1) return null
    if (u8(d, off + 3) != len) return null // length field covers the packet
    protos += "bfd"
    v("bfd.version") = ver.toLong
    v("bfd.diag") = (u8(d, off) & 0x1f).toLong
    val sta = u8(d, off + 1) >>> 6
    v("bfd.sta") = sta.toLong
    v("bfd.flags") = (u8(d, off + 1) & 0x3f).toLong
    v("bfd.detect_time_multiplier") = u8(d, off + 2).toLong
    v("bfd.my_discriminator") = u32(d, off + 4)
    v("bfd.your_discriminator") = u32(d, off + 8)
    s"Control, State ${bfdStateNames(sta)}"
  }

  /** NetFlow v5/v9 + IPFIX (Cisco export formats + RFC 7011, UDP
    * 2055/9995/4739): version-discriminated export header; v5 surfaces
    * the first 48-byte flow record's 5-tuple, v10 carries a message
    * length instead of a record count. */
  private def dissectNetflow(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    u16(d, off) match {
      case 5 =>
        if (len < 24) return null
        val count = u16(d, off + 2)
        if (count < 1 || count > 30 || len < 24 + 48) return null
        protos += "cflow"
        v("cflow.version") = 5L
        v("cflow.count") = count.toLong
        v("cflow.sysuptime") = u32(d, off + 4)
        v("cflow.unix_secs") = u32(d, off + 8)
        v("cflow.sequence") = u32(d, off + 16)
        val r = off + 24
        v("cflow.srcaddr") = ipv4Str(d, r)
        v("cflow.dstaddr") = ipv4Str(d, r + 4)
        v("cflow.srcport") = u16(d, r + 32).toLong
        v("cflow.dstport") = u16(d, r + 34).toLong
        s"total: $count (v5) flows"
      case 9 =>
        if (len < 20) return null
        val count = u16(d, off + 2)
        if (count < 1 || count > 3000) return null
        protos += "cflow"
        v("cflow.version") = 9L
        v("cflow.count") = count.toLong
        v("cflow.sysuptime") = u32(d, off + 4)
        v("cflow.unix_secs") = u32(d, off + 8)
        v("cflow.sequence") = u32(d, off + 12)
        v("cflow.source_id") = u32(d, off + 16)
        s"total: $count (v9) records"
      case 10 =>
        val flen = u16(d, off + 2)
        if (flen < 16) return null
        protos += "cflow"
        v("cflow.version") = 10L
        v("cflow.len") = flen.toLong
        v("cflow.unix_secs") = u32(d, off + 4)
        v("cflow.sequence") = u32(d, off + 8)
        v("cflow.source_id") = u32(d, off + 12)
        s"IPFIX, $flen bytes"
      case _ => null
    }
  }

  /** sFlow v5 datagram header (InMon, UDP 6343). */
  private def dissectSflow(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 28) return null
    if (u32(d, off) != 5L || u32(d, off + 4) != 1L) return null // v5, IPv4 agent
    protos += "sflow"
    v("sflow.version") = 5L
    val agent = ipv4Str(d, off + 8)
    v("sflow.agent") = agent
    v("sflow.sub_agent_id") = u32(d, off + 12)
    val n = u32(d, off + 24)
    v("sflow.numsamples") = n
    s"V5, agent $agent, $n samples"
  }

  /** RDP connection sequence (MS-RDPBCGR §2.2.1) on TCP 3389: TPKT
    * (RFC 1006) framing + X.224/COTP CR/CC TPDU carrying the routing
    * cookie and the RDP_NEG_REQ/RSP TLV. Post-negotiation traffic
    * upgrades to TLS and dissects as tls upstream of this dispatch. */
  private def dissectRdp(
      d: Array[Byte], pstart: Int, plen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (plen < 11) return null
    // TPKT: version 3, reserved 0, 16-bit length covering the whole PDU
    if (u8(d, pstart) != 3 || u8(d, pstart + 1) != 0) return null
    val tlen = u16(d, pstart + 2)
    if (tlen < 11 || tlen > plen) return null
    val end = pstart + tlen
    val li = u8(d, pstart + 4)
    val code = u8(d, pstart + 5) & 0xf0
    // CR (connection request) / CC (connection confirm) only — data TPDUs
    // on 3389 are TLS after the upgrade and never reach here
    if (code != 0xe0 && code != 0xd0) return null
    if (pstart + 5 + li > end) return null
    protos += "tpkt"
    protos += "cotp"
    protos += "rdp"
    v("tpkt.version") = 3L
    v("tpkt.length") = tlen.toLong
    v("cotp.li") = li.toLong
    v("cotp.type") = (code >>> 4).toLong // 0x0e CR / 0x0d CC
    if (pstart + 10 <= end) {
      v("cotp.destref") = u16(d, pstart + 6).toLong
      v("cotp.srcref") = u16(d, pstart + 8).toLong
    }
    val info = if (code == 0xe0) "Connection Request" else "Connection Confirm"
    var p = pstart + 5 + li // COTP user data: li counts bytes after the LI octet
    // routing token / cookie: an ASCII line "Cookie: mstshash=…\r\n"
    val text = new String(d, p, math.max(0, end - p), "ISO-8859-1")
    if (text.startsWith("Cookie: ")) {
      val eol = text.indexOf("\r\n")
      if (eol > 0) {
        v("rdp.rt_cookie") = text.substring(8, eol)
        p += eol + 2
      }
    }
    // RDP_NEG_REQ / RDP_NEG_RSP: type(1) flags(1) length(2 LE, =8) value(4 LE)
    if (p + 8 <= end && ((d(p + 2) & 0xff) | ((d(p + 3) & 0xff) << 8)) == 8) {
      def leU32(o: Int): Long =
        ((d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) | ((d(o + 2) & 0xff) << 16) |
          ((d(o + 3) & 0xff).toLong << 24)) & 0xffffffffL
      val t = u8(d, p)
      if (t == 1 && code == 0xe0) {
        v("rdp.negReq.type") = 1L
        v("rdp.negReq.flags") = u8(d, p + 1).toLong
        v("rdp.negReq.requestedProtocols") = leU32(p + 4)
      } else if (t == 2 && code == 0xd0) {
        v("rdp.negRsp.selectedProtocol") = leU32(p + 4)
      }
    }
    info
  }

  private lazy val diameterCmdNames: Map[Int, String] = Map(
    257 -> "Capabilities-Exchange", 258 -> "Re-Auth", 271 -> "Accounting",
    272 -> "Credit-Control", 274 -> "Abort-Session", 275 -> "Session-Termination",
    280 -> "Device-Watchdog", 282 -> "Disconnect-Peer")

  /** Diameter base header (RFC 6733 §3) on TCP/SCTP 3868: version 1,
    * 24-bit length, R-flag direction, command code, application and
    * hop-by-hop/end-to-end identifiers. AVPs stay undecoded (triage
    * surface, like the other tier dissectors). */
  private def dissectDiameter(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 20) return null
    if (u8(d, off) != 1) return null
    val mlen = u24(d, off + 1)
    if (mlen < 20 || mlen > (1 << 24) - 1) return null
    val flags = u8(d, off + 4)
    protos += "diameter"
    v("diameter.version") = 1L
    v("diameter.length") = mlen.toLong
    v("diameter.flags") = flags.toLong
    val code = u24(d, off + 5)
    v("diameter.cmd.code") = code.toLong
    v("diameter.applicationId") = u32(d, off + 8)
    v("diameter.hopbyhopid") = u32(d, off + 12)
    v("diameter.endtoendid") = u32(d, off + 16)
    val name = diameterCmdNames.getOrElse(code, s"Cmd-$code")
    s"$name ${if ((flags & 0x80) != 0) "Request" else "Answer"}"
  }

  /** FTP control channel (RFC 959 §4-5, TCP 21): plaintext CRLF lines —
    * requests are "CMD [arg]", replies "NNN text" (terminal) or "NNN-text"
    * (multi-line continuation). Field set mirrors tshark's ftp dissector
    * (reference exposes it via `tshark -G`: ftp.request.command,
    * ftp.response.code, …). A segment carrying several complete lines
    * renders each Wireshark-style in the info column ("Response: 220-a |
    * Response: 220 b"); ftp.response.arg comma-appends across lines while
    * the numeric code keeps its FIRST occurrence (the tunnel-path
    * multi-occurrence convention = the reference's stoll-prefix parse). */
  private def dissectFtp(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val text = new String(d, off, math.min(len, 2048), "ISO-8859-1")
    val term = text.lastIndexOf("\r\n")
    if (term < 0) return null // no complete line (yet): not dissectable FTP
    val lines = text.substring(0, term).split("\r\n", -1)
    if (lines.isEmpty) return null
    if (fromServer) {
      val first = lines.head
      if (first.length < 3 || !first.take(3).forall(_.isDigit) ||
        (first.length > 3 && first(3) != ' ' && first(3) != '-')) return null
      protos += "ftp"
      v("ftp.response") = true
      v("ftp.response.code") = first.take(3).toLong
      val args = lines.map { l =>
        if (l.length > 4 && l.take(3).forall(_.isDigit)) l.substring(4) else l
      }
      v("ftp.response.arg") = args.mkString(",")
      lines.map(l => s"Response: $l").mkString(" | ")
    } else {
      val first = lines.head
      val sp1 = first.indexOf(' ')
      val cmd = if (sp1 < 0) first else first.substring(0, sp1)
      // command verbs are 3-4 ASCII letters (RFC 959 + common extensions);
      // explicitly ASCII — Latin-1 high bytes are Unicode letters, so
      // Char.isLetter would let binary payloads through
      if (cmd.length < 3 || cmd.length > 4 ||
        !cmd.forall(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))) return null
      protos += "ftp"
      v("ftp.request") = true
      v("ftp.request.command") = cmd
      if (sp1 >= 0 && sp1 + 1 < first.length) v("ftp.request.arg") = first.substring(sp1 + 1)
      lines.map(l => s"Request: $l").mkString(" | ")
    }
  }

  /** Plausibility gate for CARRYING an un-terminated line on the FTP
    * control port: replies open with digits, commands with 3-4 letters
    * (then space/end). Prevents a non-FTP stream on 21 from occupying the
    * carry forever. */
  private def looksFtpStart(buf: Array[Byte], fromServer: Boolean): Boolean = {
    if (buf.length == 0) return false
    if (fromServer) {
      val n = math.min(3, buf.length)
      var i = 0
      while (i < n) { if (buf(i) < '0' || buf(i) > '9') return false; i += 1 }
      true
    } else {
      val n = math.min(5, buf.length)
      var letters = 0
      while (letters < n &&
        ((buf(letters) >= 'A' && buf(letters) <= 'Z') ||
          (buf(letters) >= 'a' && buf(letters) <= 'z'))) letters += 1
      if (letters == buf.length && letters <= 4) true
      else letters >= 3 && letters <= 4 && letters < buf.length && buf(letters) == ' '
    }
  }

  private lazy val sshMsgNames: Map[Int, String] = Map(
    1 -> "Disconnect", 2 -> "Ignore", 3 -> "Unimplemented", 4 -> "Debug",
    5 -> "Service Request", 6 -> "Service Accept",
    20 -> "Key Exchange Init", 21 -> "New Keys",
    30 -> "Diffie-Hellman Key Exchange Init",
    31 -> "Diffie-Hellman Key Exchange Reply")

  /** SSH transport layer (RFC 4253, TCP 22) — the plaintext prelude: the
    * version banner (§4.2) and Binary Packet Protocol records up to
    * NEWKEYS, with the KEXINIT (§7.1) headline name-lists (kex, host-key,
    * client-to-server cipher). Records that don't parse as a plausible
    * plaintext packet are post-NEWKEYS ciphertext and render as tshark's
    * "Encrypted packet (len=N)"; decryption needs session keys and is out
    * of scope (as it is for tshark without a keylog). */
  private def dissectSsh(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    val role = if (fromServer) "Server" else "Client"
    if (d(off) == 'S' && d(off + 1) == 'S' && d(off + 2) == 'H' && d(off + 3) == '-') {
      val text = new String(d, off, math.min(len, 255), "ISO-8859-1")
      val e = text.indexWhere(c => c == '\r' || c == '\n')
      val banner = if (e < 0) text else text.substring(0, e)
      protos += "ssh"
      v("ssh.protocol") = banner
      return s"$role: Protocol ($banner)"
    }
    // binary packet: uint32 packet_length, u8 padding_length, u8 msg code.
    // A ciphertext record's leading bytes fail these plausibility bounds
    // (RFC 4253 §6.1 caps packets at 35000 octets).
    protos += "ssh"
    val plen = u32(d, off)
    val pad = u8(d, off + 4)
    if (plen < 2 || plen > 35000 || pad < 4 || pad >= plen || len < 6)
      return s"$role: Encrypted packet (len=$len)"
    val code = u8(d, off + 5)
    sshMsgNames.get(code) match {
      case None => s"$role: Encrypted packet (len=$len)"
      case Some(nm) =>
        v("ssh.message_code") = code.toLong
        v("ssh.packet_length") = plen
        v("ssh.padding_length") = pad.toLong
        if (code == 20) parseSshKexInit(d, off + 6, off + math.min(len, 4 + plen.toInt), v)
        s"$role: $nm"
    }
  }

  /** KEXINIT name-lists (RFC 4253 §7.1): 16-byte cookie, then uint32-length
    * comma-separated name-lists in fixed order. Extracts the first three
    * (kex, server host key, client-to-server ciphers); truncated lists
    * (snaplen) are simply absent. */
  private def parseSshKexInit(d: Array[Byte], start: Int, end: Int, v: FieldVec): Unit = {
    var p = start + 16 // skip cookie
    // RFC 4253 §7.1 name-list order: kex, host key, enc c2s, enc s2c,
    // mac c2s, mac s2c, compression c2s (… languages follow, unneeded)
    val names = Seq("ssh.kex_algorithms", "ssh.server_host_key_algorithms",
      "ssh.encryption_algorithms_client_to_server", "",
      "ssh.mac_algorithms_client_to_server", "",
      "ssh.compression_algorithms_client_to_server")
    for (field <- names) {
      if (p + 4 <= end) {
        val n = u32(d, p).toInt
        p += 4
        if (n >= 0 && p + n <= end) {
          if (field.nonEmpty) v(field) = new String(d, p, n, "ISO-8859-1")
          p += n
        } else p = end
      }
    }
  }

  private lazy val sipMethods = Set("INVITE", "ACK", "BYE", "CANCEL", "REGISTER",
    "OPTIONS", "SUBSCRIBE", "NOTIFY", "INFO", "MESSAGE", "REFER", "UPDATE",
    "PRACK", "PUBLISH")

  /** SIP (RFC 3261, port 5060 over UDP or TCP): request/status line plus
    * the triage headers (Call-ID, From, To, CSeq — compact forms i/f/t
    * accepted). An SDP body's `m=<media> <port> RTP/…` lines register the
    * negotiated ports with the tracker so subsequent RTP flows decode —
    * the same signaled-setup gating tshark uses (RTP has no magic; blind
    * port heuristics false-positive). */
  /** Content-Length of a SIP message whose CRLFCRLF header terminator
    * ends at `bodyStart` (compact form `l:` per RFC 3261 §20); 0 when the
    * header is absent, as §18.3 specifies for stream transports. */
  private def sipContentLength(buf: Array[Byte], bodyStart: Int): Int = {
    val head = new String(buf, 0, bodyStart, "ISO-8859-1").toLowerCase
    def after(name: String): Option[Int] = {
      val at = head.indexOf(s"\r\n$name:")
      if (at < 0) None
      else {
        val vs = at + 2 + name.length + 1
        val ve = head.indexOf("\r\n", vs)
        head.substring(vs, if (ve < 0) head.length else ve).trim.toIntOption
      }
    }
    after("content-length").orElse(after("l")).filter(_ >= 0).getOrElse(0)
  }

  private def dissectSip(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    if (len < 12) return null
    val text = new String(d, off, math.min(len, 4096), "ISO-8859-1")
    val lineEnd = text.indexOf("\r\n")
    if (lineEnd < 0) return null
    val line = text.substring(0, lineEnd)
    val isStatus = line.startsWith("SIP/2.0 ")
    val parts = line.split(" ", 3)
    val isReq = !isStatus && parts.length == 3 && parts(2) == "SIP/2.0" &&
      sipMethods.contains(parts(0))
    if (!isStatus && !isReq) return null
    protos += "sip"
    val lower = text.toLowerCase
    def header(names: String*): Option[String] =
      names.iterator.flatMap { name =>
        val at = lower.indexOf(s"\r\n$name:")
        if (at < 0) None
        else {
          val vs = at + 2 + name.length + 1
          val ve = text.indexOf("\r\n", vs)
          if (ve < 0) None else Some(text.substring(vs, ve).trim)
        }
      }.nextOption()
    header("call-id", "i").foreach(h => v("sip.Call-ID") = h)
    header("from", "f").foreach(h => v("sip.from.addr") = h)
    header("to", "t").foreach(h => v("sip.to.addr") = h)
    header("cseq").foreach(h => v("sip.CSeq") = h)
    header("user-agent").foreach(h => v("sip.User-Agent") = h)
    header("contact", "m").foreach(h => v("sip.Contact") = h)
    header("max-forwards").flatMap(_.toLongOption)
      .foreach(h => v("sip.Max-Forwards") = h)
    // SDP body (RFC 8866): its own protocol layer + session-level fields;
    // media lines negotiate the RTP transport addresses
    val bodyAt = text.indexOf("\r\n\r\n")
    if (bodyAt >= 0 && text.startsWith("v=", bodyAt + 4)) {
      protos += "sdp"
      val media = mutable.ArrayBuffer.empty[String]
      text.substring(bodyAt + 4).split("\r\n").foreach { l =>
        if (l.startsWith("v=")) v("sdp.version") = l.substring(2)
        else if (l.startsWith("s=")) v("sdp.session_name") = l.substring(2)
        else if (l.startsWith("c=")) v("sdp.connection_info") = l.substring(2)
        else if (l.startsWith("m=")) media += l.substring(2)
      }
      // tshark multi-occurrence rendering: all media descriptions joined
      if (media.nonEmpty) v("sdp.media") = media.mkString(",")
    }
    var mAt = text.indexOf("\r\nm=")
    while (mAt >= 0) {
      val me = text.indexOf("\r\n", mAt + 2)
      val mLine = text.substring(mAt + 2, if (me < 0) text.length else me)
      val mp = mLine.split(" ")
      if (mp.length >= 3 && mp(2).startsWith("RTP/")) {
        mp(1).toIntOption.foreach { port =>
          if (tracker.rtpPorts.size < 256) tracker.rtpPorts += port
        }
      }
      mAt = if (me < 0) -1 else text.indexOf("\r\nm=", me)
    }
    if (isStatus) {
      v("sip.Status-Line") = line
      line.split(" ", 3)(1).toLongOption.foreach(c => v("sip.Status-Code") = c)
      s"Status: ${line.substring(8)}"
    } else {
      v("sip.Request-Line") = line
      v("sip.Method") = parts(0)
      v("sip.r-uri") = parts(1)
      s"Request: ${parts(0)} ${parts(1)}"
    }
  }

  private def rtpPtName(pt: Int): String = pt match {
    case 0 => "ITU-T G.711 PCMU"
    case 8 => "ITU-T G.711 PCMA"
    case 9 => "ITU-T G.722"
    case 18 => "ITU-T G.729"
    case p if p >= 96 => s"DynamicRTP-Type-$p"
    case p => p.toString
  }

  /** RTP (RFC 3550) on an SDP-negotiated port: fixed 12-byte header.
    * Only flows a SIP/SDP exchange announced are decoded (tshark's
    * signaled-setup semantics) and only when the version bits say 2. */
  private def dissectRtp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || (u8(d, off) >> 6) != 2) return null
    protos += "rtp"
    val pt = u8(d, off + 1) & 0x7f
    val seq = u16(d, off + 2)
    val ts = u32(d, off + 4)
    val ssrc = u32(d, off + 8)
    v("rtp.version") = 2L
    v("rtp.padding") = (u8(d, off) & 0x20) != 0
    v("rtp.cc") = (u8(d, off) & 0x0f).toLong
    v("rtp.marker") = (u8(d, off + 1) & 0x80) != 0
    v("rtp.p_type") = pt.toLong
    v("rtp.seq") = seq.toLong
    v("rtp.timestamp") = ts
    v("rtp.ssrc") = f"0x$ssrc%08X"
    // dynamic PT 96 carries H.264 by near-universal SDP convention —
    // the NAL header (and SPS profile) surface
    if (pt == 96 && len >= 14) {
      protos += "h264"
      val nal = u8(d, off + 12) & 0x1f
      v("h264.nal_unit_type") = nal.toLong
      if (nal == 7) v("h264.profile_idc") = u8(d, off + 13).toLong
      val name = nal match {
        case 1 => "non-IDR slice"; case 5 => "IDR slice"; case 7 => "SPS"
        case 8 => "PPS"; case n => s"NAL $n"
      }
      return s"H.264 $name"
    }
    // RFC 2833/4733 telephone-events ride dynamic PT 101 by convention
    if (pt == 101 && len >= 16) {
      protos += "rtpevent"
      val ev = u8(d, off + 12)
      v("rtpevent.event_id") = ev.toLong
      v("rtpevent.duration") = u16(d, off + 14).toLong
      val name = if (ev <= 9) ev.toString
      else if (ev == 10) "*" else if (ev == 11) "#" else s"event $ev"
      return s"RTP Event, DTMF $name"
    }
    f"PT=${rtpPtName(pt)}, SSRC=0x$ssrc%08X, Seq=$seq, Time=$ts"
  }

  private lazy val krbMsgNames: Map[Int, String] = Map(
    10 -> "AS-REQ", 11 -> "AS-REP", 12 -> "TGS-REQ", 13 -> "TGS-REP",
    14 -> "AP-REQ", 15 -> "AP-REP", 20 -> "KRB-SAFE", 21 -> "KRB-PRIV",
    22 -> "KRB-CRED", 30 -> "KRB-ERROR")

  /** Kerberos v5 (RFC 4120, port 88): DER application-tag sniff — the
    * message type names the exchange (AS-REQ/AS-REP/TGS-…); full DER
    * bodies (realms, principal names, enc-parts) are tshark's krb5
    * dissector territory. TCP framing adds a 4-byte record length
    * (§7.2.2). */
  private def dissectKrb5(
      d: Array[Byte], off: Int, len: Int, overTcp: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    var p = off
    var rem = len
    if (overTcp) {
      if (rem < 5) return null
      val rl = u32(d, p)
      if (rl < 2 || rl > 10L * 1024 * 1024) return null
      p += 4; rem -= 4
    }
    if (rem < 2) return null
    val tag = u8(d, p)
    if ((tag & 0xe0) != 0x60) return null // not constructed APPLICATION class
    val msgType = tag & 0x1f
    krbMsgNames.get(msgType) match {
      case None => null
      case Some(nm) =>
        protos += "kerberos"
        v("kerberos.msg_type") = msgType.toLong
        if (msgType == 10 || msgType == 12) {
          val (al, ac) = berLen(d, p + 1, p + rem)
          if (al >= 0) krbReqNames(d, ac, math.min(ac + al, p + rem), v)
        } else if (msgType == 30) {
          val (al, ac) = berLen(d, p + 1, p + rem)
          if (al >= 0) krbErrorCode(d, ac, math.min(ac + al, p + rem), v)
        }
        nm
    }
  }

  /** KRB-ERROR [6] error-code (RFC 4120 §5.9.1): one context-tag scan of
    * the top-level sequence for the INTEGER. */
  private def krbErrorCode(d: Array[Byte], start: Int, end: Int, v: FieldVec): Unit = {
    if (start >= end || u8(d, start) != 0x30) return
    val (sl, sc) = berLen(d, start + 1, end)
    if (sl < 0) return
    var p = sc
    val lim = math.min(sc + sl, end)
    var guard = 0
    while (p + 2 <= lim && guard < 16) {
      val tag = u8(d, p)
      val (l, c) = berLen(d, p + 1, lim)
      if (l < 0 || c + l > lim) return
      if ((tag & 0xc0) == 0x80 && (tag & 0x1f) == 6 &&
          c < lim && u8(d, c) == 0x02) { // [6] { INTEGER }
        val (il, ic) = berLen(d, c + 1, c + l)
        if (il > 0 && il <= 4 && ic + il <= c + l) {
          var code = 0L
          var i = 0
          while (i < il) { code = (code << 8) | (d(ic + i) & 0xffL); i += 1 }
          v("kerberos.error_code") = code
        }
        return
      }
      p = c + l
      guard += 1
    }
  }

  /** Minimal DER walk into a KDC-REQ (AS-REQ/TGS-REQ) for the triage
    * names — the client principal's first GeneralString and the realm
    * (RFC 4120 §5.4.1: req-body [4] { …, cname [1] PrincipalName,
    * realm [2] Realm, … }). Bails silently on any malformed structure;
    * full KDC body decode stays tshark's krb5 dissector territory. */
  private def krbReqNames(d: Array[Byte], start: Int, end: Int, v: FieldVec): Unit = {
    def walkCtx(p0: Int, lim: Int)(f: (Int, Int, Int) => Unit): Unit = {
      var p = p0
      var guard = 0
      var stop = false
      while (!stop && p + 2 <= lim && guard < 16) {
        val tag = u8(d, p)
        val (l, c) = berLen(d, p + 1, lim)
        if (l < 0 || c + l > lim) stop = true
        else {
          if ((tag & 0xc0) == 0x80) f(tag & 0x1f, c, c + l) // context class
          p = c + l
          guard += 1
        }
      }
    }
    def generalString(b: Int, e: Int): Option[String] =
      if (b < e && u8(d, b) == 0x1b) {
        val (gl, gc) = berLen(d, b + 1, e)
        if (gl >= 0 && gc + gl <= e)
          Some(new String(d, gc, gl, "ISO-8859-1"))
        else None
      } else None
    if (start >= end || u8(d, start) != 0x30) return
    val (sl, sc) = berLen(d, start + 1, end)
    if (sl < 0) return
    walkCtx(sc, math.min(sc + sl, end)) { (n, b, e) =>
      if (n == 4 && b < e && u8(d, b) == 0x30) { // req-body KDC-REQ-BODY
        val (bl, bc) = berLen(d, b + 1, e)
        if (bl >= 0) walkCtx(bc, math.min(bc + bl, e)) { (m, rb, re) =>
          // cname [1] / sname [3]: PrincipalName = SEQUENCE {
          //   [0] name-type, [1] SEQUENCE OF GeneralString }
          if ((m == 1 || m == 3) && rb < re && u8(d, rb) == 0x30) {
            val field = if (m == 1) "kerberos.CNameString" else "kerberos.SNameString"
            val (pl, pc) = berLen(d, rb + 1, re)
            if (pl >= 0) walkCtx(pc, math.min(pc + pl, re)) { (k, nb, ne) =>
              if (k == 1 && nb < ne && u8(d, nb) == 0x30) {
                val (ql, qc) = berLen(d, nb + 1, ne)
                if (ql >= 0)
                  generalString(qc, math.min(qc + ql, ne))
                    .foreach(s => v(field) = s)
              }
            }
          } else if (m == 2)
            generalString(rb, re).foreach(s => v("kerberos.realm") = s)
        }
      }
    }
  }

  /** BER length at `p`: (length, offset after the length field), or
    * (-1, p) for truncated/indefinite/overlong forms (SNMP messages in
    * a UDP datagram never legitimately need more than 2 length bytes). */
  private def berLen(d: Array[Byte], p: Int, end: Int): (Int, Int) = {
    if (p >= end) return (-1, p)
    val b0 = u8(d, p)
    if (b0 < 0x80) (b0, p + 1)
    else if (b0 == 0x81 && p + 1 < end) (u8(d, p + 1), p + 2)
    else if (b0 == 0x82 && p + 2 < end) ((u8(d, p + 1) << 8) | u8(d, p + 2), p + 3)
    else (-1, p)
  }

  private lazy val snmpPduNames: Map[Int, String] = Map(
    0 -> "get-request", 1 -> "get-next-request", 2 -> "get-response",
    3 -> "set-request", 4 -> "trap", 5 -> "getBulkRequest",
    6 -> "informRequest", 7 -> "snmpV2-trap", 8 -> "report")

  /** SNMP v1/v2c (RFC 1157/3416, UDP 161/162): BER
    * SEQUENCE { INTEGER version, OCTET STRING community, PDU } — version,
    * community, and the PDU's context tag (get-request/get-response/…).
    * Varbind lists are tshark's snmp dissector territory. */
  private def dissectSnmp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val end = off + len
    if (len < 10 || u8(d, off) != 0x30) return null
    var (l, p) = berLen(d, off + 1, end)
    if (l < 0 || u8(d, p) != 0x02) return null // version INTEGER
    val (vl, vp) = berLen(d, p + 1, end)
    if (vl != 1 || vp >= end) return null
    val version = u8(d, vp)
    if (version > 3) return null
    p = vp + vl
    if (p >= end) return null
    if (version == 3) {
      // SNMPv3 (RFC 3412): msgGlobalData SEQUENCE { msgID INTEGER, … };
      // the security parameters and (possibly encrypted) PDU that follow
      // stay opaque without USM keys
      if (u8(d, p) != 0x30) return null
      val (_, gp) = berLen(d, p + 1, end)
      if (gp >= end || u8(d, gp) != 0x02) return null
      val (il, ip) = berLen(d, gp + 1, end)
      if (il < 1 || il > 4 || ip + il > end) return null
      var msgId = 0L
      var k = 0
      while (k < il) { msgId = (msgId << 8) | u8(d, ip + k); k += 1 }
      protos += "snmp"
      v("snmp.version") = 3L
      v("snmp.msgid") = msgId
      return s"SNMPv3 msgId=$msgId"
    }
    if (u8(d, p) != 0x04) return null // community OCTET STRING
    val (cl, cp) = berLen(d, p + 1, end)
    if (cl < 0 || cp + cl > end) return null
    val community = new String(d, cp, cl, "ISO-8859-1")
    p = cp + cl
    if (p >= end) return null
    val tag = u8(d, p)
    if ((tag & 0xe0) != 0xa0) return null // context-class constructed PDU
    val pduType = tag & 0x1f
    val name = snmpPduNames.getOrElse(pduType, s"pdu-$pduType")
    protos += "snmp"
    v("snmp.version") = version.toLong
    v("snmp.community") = community
    v("snmp.pdu_type") = pduType.toLong
    // tier 55: inside the PDU — request-id, error-status, and the first
    // varbind's OID rendered dotted (snmp.name), the fields a poller's
    // triage query reads
    val (_, pduStart) = berLen(d, p + 1, end)
    var q = pduStart
    def readInt(): Long = {
      if (q >= end || u8(d, q) != 0x02) return Long.MinValue
      val (il, ip2) = berLen(d, q + 1, end)
      if (il < 1 || il > 8 || ip2 + il > end) return Long.MinValue
      var x = 0L
      var k = 0
      while (k < il) { x = (x << 8) | u8(d, ip2 + k); k += 1 }
      q = ip2 + il
      x
    }
    readInt() // request-id (kept out of the schema; triage reads status)
    val errStatus = readInt()
    if (errStatus != Long.MinValue) {
      v("snmp.error_status") = errStatus
      readInt() // error-index
      if (q < end && u8(d, q) == 0x30) { // varbind list
        val (_, vbl) = berLen(d, q + 1, end)
        if (vbl < end && u8(d, vbl) == 0x30) { // first varbind
          val (_, vb0) = berLen(d, vbl + 1, end)
          if (vb0 < end && u8(d, vb0) == 0x06) { // OBJECT IDENTIFIER
            val (ol, o0) = berLen(d, vb0 + 1, end)
            if (ol >= 1 && o0 + ol <= end) {
              val sb = new StringBuilder
              val b0 = u8(d, o0)
              sb.append(b0 / 40).append('.').append(b0 % 40)
              var k = 1
              var acc = 0L
              while (k < ol) {
                val b = u8(d, o0 + k)
                acc = (acc << 7) | (b & 0x7f)
                if ((b & 0x80) == 0) { sb.append('.').append(acc); acc = 0L }
                k += 1
              }
              v("snmp.name") = sb.toString
            }
          }
        }
      }
    }
    name
  }

  /** RTCP (RFC 3550 §6, the RTP control channel — SDP port + 1): packet
    * type and the first SSRC. Decode is gated on the SIP/SDP-announced
    * port range exactly like [[dissectRtp]]. */
  private def dissectRtcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || (u8(d, off) >> 6) != 2) return null
    val pt = u8(d, off + 1)
    if (pt < 200 || pt > 204) return null
    protos += "rtcp"
    v("rtcp.pt") = pt.toLong
    v("rtcp.senderssrc") = f"0x${u32(d, off + 4)}%08X"
    pt match {
      case 200 => "Sender Report"
      case 201 => "Receiver Report"
      case 202 => "Source description"
      case 203 => "Goodbye"
      case _   => "Application defined"
    }
  }

  private lazy val nfs3ProcNames: Map[Int, String] = Map(
    0 -> "NULL", 1 -> "GETATTR", 2 -> "SETATTR", 3 -> "LOOKUP", 4 -> "ACCESS",
    5 -> "READLINK", 6 -> "READ", 7 -> "WRITE", 8 -> "CREATE", 9 -> "MKDIR",
    10 -> "SYMLINK", 11 -> "MKNOD", 12 -> "REMOVE", 13 -> "RMDIR",
    14 -> "RENAME", 15 -> "LINK", 16 -> "READDIR", 17 -> "READDIRPLUS",
    18 -> "FSSTAT", 19 -> "FSINFO", 20 -> "PATHCONF", 21 -> "COMMIT")

  private lazy val mountProcNames: Map[Int, String] = Map(
    0 -> "NULL", 1 -> "MNT", 2 -> "DUMP", 3 -> "UMNT", 4 -> "UMNTALL",
    5 -> "EXPORT")

  /** ONC-RPC (RFC 5531) on the NFS port: record-marked (TCP) or bare
    * (UDP) call/reply headers — xid, message type, and for calls the
    * program/version/procedure (NFSv3 procedures named). XDR argument
    * bodies are tshark's rpc/nfs dissector territory. */
  private def dissectRpcNfs(
      d: Array[Byte], off: Int, len: Int, overTcp: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    var p = off
    val end = off + len
    if (overTcp) {
      if (len < 4 + 12) return null
      val marker = u32(d, p)
      val fragLen = marker & 0x7fffffffL
      if (fragLen < 12 || fragLen > (1 << 26)) return null
      p += 4
    } else if (len < 12) return null
    val xid = u32(d, p)
    val msgType = u32(d, p + 4)
    if (msgType > 1) return null
    if (msgType == 0) {
      // call: rpcvers must be 2; program selects the upper layer
      if (p + 24 > end || u32(d, p + 8) != 2) return null
      val prog = u32(d, p + 12)
      val vers = u32(d, p + 16)
      val proc = u32(d, p + 20)
      // the NFS program and its MOUNT companion are claimed on this port
      if (prog != 100003 && prog != 100005) return null
      protos += "rpc"
      protos += (if (prog == 100003) "nfs" else "mount")
      v("rpc.xid") = f"0x$xid%08x"
      v("rpc.msgtyp") = 0L
      v("rpc.program") = prog
      v("rpc.programversion") = vers
      v("rpc.procedure") = proc
      if (tracker.rpcCalls.size >= 1024) tracker.rpcCalls.remove(tracker.rpcCalls.head._1)
      tracker.rpcCalls(xid) = (prog, vers, proc)
      if (prog == 100003 && vers == 3) {
        v("nfs.procedure_v3") = proc
        // walk cred + verf (opaque_auth) to the XDR args; the diropargs
        // procs (LOOKUP/CREATE/MKDIR/REMOVE/RMDIR) carry fh + filename
        var q = p + 24
        def skipOpaqueAuth(): Boolean = {
          if (q + 8 > end) false
          else {
            val l = u32(d, q + 4)
            if (l > 400) false
            else { q += 8 + ((l + 3) & ~3L).toInt; q <= end }
          }
        }
        if (skipOpaqueAuth() && skipOpaqueAuth() &&
          Set(3L, 8L, 9L, 12L, 13L).contains(proc) && q + 4 <= end) {
          val fhLen = u32(d, q)
          if (fhLen <= 64) {
            v("nfs.fh.length") = fhLen
            // the CRC-32 over the opaque handle bytes — the same stable
            // per-file identifier Wireshark renders as nfs.fh.hash
            if (fhLen > 0 && q + 4 + fhLen <= end) {
              val crc = new java.util.zip.CRC32
              crc.update(d, q + 4, fhLen.toInt)
              v("nfs.fh.hash") = crc.getValue
            }
            val nq = q + 4 + ((fhLen + 3) & ~3L).toInt
            if (nq + 4 <= end) {
              val nameLen = u32(d, nq)
              if (nameLen > 0 && nameLen <= 255 && nq + 4 + nameLen <= end) {
                val nm = new String(d, nq + 4, nameLen.toInt, "UTF-8")
                v("nfs.name") = nm
                // name snooping from the diropargs: the root-relative
                // path this capture can prove (dir handle + leaf)
                v("nfs.full_name") = "/" + nm
              }
            }
          }
        }
      }
      val name =
        if (prog == 100005) mountProcNames.getOrElse(proc.toInt, s"proc-$proc")
        else if (vers == 3) nfs3ProcNames.getOrElse(proc.toInt, s"proc-$proc")
        else s"proc-$proc"
      s"V$vers $name Call"
    } else {
      // reply: no program field on the wire — the port gate plus a
      // matching outstanding call xid identify it as NFS
      tracker.rpcCalls.get(xid) match {
        case Some((prog, vers, proc)) =>
          protos += "rpc"
          protos += (if (prog == 100003) "nfs" else "mount")
          v("rpc.xid") = f"0x$xid%08x"
          v("rpc.msgtyp") = 1L
          v("rpc.programversion") = vers
          v("rpc.procedure") = proc
          if (prog == 100003 && vers == 3) {
            v("nfs.procedure_v3") = proc
            // accepted reply: stat + verf(opaque_auth) + accept_stat, then
            // the NFS3 status word leads nearly every result body
            var q = p + 8
            if (q + 4 <= end && u32(d, q) == 0) {
              q += 4
              val vl = if (q + 8 <= end) u32(d, q + 4) else 999L
              if (vl <= 400) {
                q += 8 + ((vl + 3) & ~3L).toInt
                if (q + 4 <= end && u32(d, q) == 0) { // accept_stat SUCCESS
                  q += 4
                  if (q + 4 <= end && proc != 0) v("nfs.status") = u32(d, q)
                }
              }
            }
          }
          val name =
            if (prog == 100005) mountProcNames.getOrElse(proc.toInt, s"proc-$proc")
            else if (vers == 3) nfs3ProcNames.getOrElse(proc.toInt, s"proc-$proc")
            else s"proc-$proc"
          s"V$vers $name Reply"
        case None => null // unmatched reply-shaped bytes: don't claim
      }
    }
  }

  private lazy val dcerpcPtypeNames: Map[Int, String] = Map(
    0 -> "Request", 2 -> "Response", 3 -> "Fault", 11 -> "Bind",
    12 -> "Bind_ack", 13 -> "Bind_nak", 14 -> "Alter_context",
    15 -> "Alter_context_resp", 17 -> "Auth3", 18 -> "Shutdown")

  /** DCE/RPC connection-oriented PDU header (C706 §12.6, TCP 135 — the
    * endpoint mapper): version 5, packet type, DREP-selected endianness
    * for the integer fields, call id; Request PDUs add ctx id + opnum. */
  private def dissectDcerpc(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    if (u8(d, off) != 5) return null // rpc_vers
    val ptype = u8(d, off + 2)
    val name = dcerpcPtypeNames.getOrElse(ptype, return null)
    val le = (u8(d, off + 4) & 0x10) != 0 // DREP byte 0: integer order
    def i16(o: Int): Int =
      if (le) (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) else u16(d, o)
    def i32(o: Int): Long =
      if (le) ((d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) | ((d(o + 2) & 0xff) << 16) |
        ((d(o + 3) & 0xff).toLong << 24)) & 0xffffffffL
      else u32(d, o)
    val fragLen = i16(off + 8)
    if (fragLen < 16) return null
    protos += "dcerpc"
    v("dcerpc.ver") = 5L
    v("dcerpc.pkt_type") = ptype.toLong
    v("dcerpc.cn_flags") = u8(d, off + 3).toLong
    v("dcerpc.cn_frag_len") = fragLen.toLong
    v("dcerpc.cn_call_id") = i32(off + 12)
    if (ptype == 0 && len >= 24) { // request: alloc_hint, ctx id, opnum
      v("dcerpc.cn_ctx_id") = i16(off + 20).toLong
      val opnum = i16(off + 22)
      v("dcerpc.opnum") = opnum.toLong
      s"$name: opnum $opnum"
    } else name
  }

  private lazy val ldapOpNames: Map[Int, String] = Map(
    0 -> "bindRequest", 1 -> "bindResponse", 2 -> "unbindRequest",
    3 -> "searchRequest", 4 -> "searchResEntry", 5 -> "searchResDone",
    6 -> "modifyRequest", 7 -> "modifyResponse", 8 -> "addRequest",
    9 -> "addResponse", 10 -> "delRequest", 11 -> "delResponse",
    16 -> "abandonRequest", 23 -> "extendedReq", 24 -> "extendedResp")

  /** LDAP (RFC 4511, TCP 389): BER envelope sniff — message id and the
    * protocol-op application tag; filters/attributes are tshark's ldap
    * dissector territory. */
  private def dissectLdap(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val end = off + len
    if (len < 7 || u8(d, off) != 0x30) return null
    val (l, p) = berLen(d, off + 1, end)
    if (l < 0 || p >= end || u8(d, p) != 0x02) return null // messageID INTEGER
    val (il, ip) = berLen(d, p + 1, end)
    if (il < 1 || il > 4 || ip + il > end) return null
    var msgId = 0L
    var i = 0
    while (i < il) { msgId = (msgId << 8) | u8(d, ip + i); i += 1 }
    val opAt = ip + il
    if (opAt >= end) return null
    val tag = u8(d, opAt)
    if ((tag & 0xc0) != 0x40) return null // APPLICATION class
    val op = tag & 0x1f
    ldapOpNames.get(op) match {
      case None => null
      case Some(nm) =>
        protos += "ldap"
        v("ldap.messageID") = msgId
        v("ldap.protocolOp") = op.toLong
        if (op == 3) {
          val (sl, sc) = berLen(d, opAt + 1, end)
          if (sl >= 0) {
            val sr = ldapSearchRequest(d, sc, math.min(end, sc + sl), msgId, v)
            if (sr != null) return sr
          }
        }
        if (op == 4) { // searchResEntry: objectName LDAPDN leads the body
          val (el, ec) = berLen(d, opAt + 1, end)
          if (el >= 0 && ec < end && u8(d, ec) == 0x04) {
            val (dl, dc) = berLen(d, ec + 1, end)
            if (dl >= 0 && dc + dl <= end) {
              val dn = new String(d, dc, dl, "UTF-8")
              v("ldap.objectName") = dn
              return s"searchResEntry($msgId) \"$dn\""
            }
          }
        }
        s"$nm($msgId)"
    }
  }

  /** searchRequest body (RFC 4511 §4.5.1): baseObject, scope, and the
    * filter rendered in RFC 4515's parenthesized text form — what
    * Wireshark surfaces as ldap.baseObject / ldap.scope / ldap.filter. */
  private def ldapSearchRequest(
      d: Array[Byte], start: Int, end: Int, msgId: Long, v: FieldVec): String = {
    var p = start
    // one tagged BER field; (-1, -1) when the tag doesn't match
    def field(tag: Int): (Int, Int) = {
      if (p >= end || u8(d, p) != tag) return (-1, -1)
      val (l, c) = berLen(d, p + 1, end)
      if (l < 0 || c + l > end) return (-1, -1)
      p = c + l
      (c, l)
    }
    val (bo, bl) = field(0x04)
    if (bo < 0) return null
    val base = new String(d, bo, bl, "UTF-8")
    val (so, slen) = field(0x0a)
    if (so < 0 || slen < 1) return null
    var scope = 0L
    var i = 0
    while (i < slen) { scope = (scope << 8) | u8(d, so + i); i += 1 }
    field(0x0a) // derefAliases
    field(0x02) // sizeLimit
    field(0x02) // timeLimit
    field(0x01) // typesOnly
    v("ldap.baseObject") = base
    v("ldap.scope") = scope
    if (p < end) {
      val sb = new StringBuilder
      if (ldapFilter(d, p, end, sb)) v("ldap.filter") = sb.toString
    }
    val scopeName = scope match {
      case 0 => "baseObject"
      case 1 => "singleLevel"
      case _ => "wholeSubtree"
    }
    s"searchRequest($msgId) \"$base\" $scopeName"
  }

  /** One LDAP filter element (RFC 4511 §4.5.1.7) rendered as RFC 4515
    * text: and/or/not compose recursively, present is `(attr=*)`,
    * substrings interleave `*` around initial/any/final components. */
  private def ldapFilter(
      d: Array[Byte], at: Int, end: Int, sb: StringBuilder): Boolean = {
    if (at >= end) return false
    val tag = u8(d, at)
    val (l, c) = berLen(d, at + 1, end)
    if (l < 0 || c + l > end) return false
    val cEnd = c + l
    def str(o: Int, n: Int) = new String(d, o, n, "UTF-8")
    // OCTET STRING at `o`; returns (contentStart, len, next) or null
    def octets(o: Int): (Int, Int, Int) = {
      if (o >= cEnd || u8(d, o) != 0x04) return null
      val (ol, oc) = berLen(d, o + 1, cEnd)
      if (ol < 0 || oc + ol > cEnd) return null
      (oc, ol, oc + ol)
    }
    tag match {
      case 0xa0 | 0xa1 => // and / or: SET OF Filter
        sb.append('(').append(if (tag == 0xa0) '&' else '|')
        var q = c
        while (q < cEnd) {
          val (ql, qc) = berLen(d, q + 1, cEnd)
          if (ql < 0 || !ldapFilter(d, q, cEnd, sb)) return false
          q = qc + ql
        }
        sb.append(')')
        true
      case 0xa2 => // not
        sb.append("(!")
        if (!ldapFilter(d, c, cEnd, sb)) return false
        sb.append(')')
        true
      case 0xa3 | 0xa5 | 0xa6 | 0xa8 => // eq / ge / le / approx
        val cmp = tag match {
          case 0xa3 => "="
          case 0xa5 => ">="
          case 0xa6 => "<="
          case _    => "~="
        }
        val a = octets(c)
        if (a == null) return false
        val vv = octets(a._3)
        if (vv == null) return false
        sb.append('(').append(str(a._1, a._2)).append(cmp)
          .append(str(vv._1, vv._2)).append(')')
        true
      case 0xa4 => // substrings: type + SEQUENCE OF [0]initial/[1]any/[2]final
        val a = octets(c)
        if (a == null) return false
        var q = a._3
        if (q >= cEnd || u8(d, q) != 0x30) return false
        val (ql, qc) = berLen(d, q + 1, cEnd)
        if (ql < 0 || qc + ql > cEnd) return false
        var initial: String = null
        var fin: String = null
        val anys = mutable.ArrayBuffer.empty[String]
        var r = qc
        val subEnd = qc + ql
        while (r < subEnd) {
          val st = u8(d, r)
          val (rl, rc) = berLen(d, r + 1, subEnd)
          if (rl < 0 || rc + rl > subEnd) return false
          val s = str(rc, rl)
          st match {
            case 0x80 => initial = s
            case 0x81 => anys += s
            case 0x82 => fin = s
            case _    => return false
          }
          r = rc + rl
        }
        sb.append('(').append(str(a._1, a._2)).append('=')
        if (initial != null) sb.append(initial)
        sb.append('*')
        anys.foreach(s => sb.append(s).append('*'))
        if (fin != null) sb.append(fin)
        sb.append(')')
        true
      case 0x87 => // present (primitive: contents are the attr name)
        sb.append('(').append(str(c, l)).append("=*)")
        true
      case _ => false
    }
  }

  private lazy val radiusCodeNames: Map[Int, String] = Map(
    1 -> "Access-Request", 2 -> "Access-Accept", 3 -> "Access-Reject",
    4 -> "Accounting-Request", 5 -> "Accounting-Response",
    11 -> "Access-Challenge", 12 -> "Status-Server", 13 -> "Status-Client")

  /** RADIUS (RFC 2865, UDP 1812/1813 + legacy 1645/1646): code, packet
    * id, and length from the fixed header; attribute TLVs are out of
    * scope. The declared length must fit the datagram (§3). */
  private def dissectRadius(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20) return null // header + 16-byte authenticator
    val code = u8(d, off)
    val id = u8(d, off + 1)
    val plen = u16(d, off + 2)
    if (plen < 20 || plen > len) return null
    radiusCodeNames.get(code) match {
      case None => null
      case Some(nm) =>
        protos += "radius"
        v("radius.code") = code.toLong
        v("radius.id") = id.toLong
        v("radius.length") = plen.toLong
        s"$nm id=$id"
    }
  }

  private lazy val modbusFuncNames: Map[Int, String] = Map(
    1 -> "Read Coils", 2 -> "Read Discrete Inputs", 3 -> "Read Holding Registers",
    4 -> "Read Input Registers", 5 -> "Write Single Coil",
    6 -> "Write Single Register", 15 -> "Write Multiple Coils",
    16 -> "Write Multiple Registers", 23 -> "Read/Write Multiple Registers")

  /** Modbus/TCP (port 502): MBAP header — transaction id, unit id, and
    * the function code (protocol id must be 0 per the spec). */
  private def dissectModbus(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u16(d, off + 2) != 0) return null
    val trans = u16(d, off)
    val mlen = u16(d, off + 4)
    if (mlen < 2 || mlen > 260) return null
    val unit = u8(d, off + 6)
    val func = u8(d, off + 7) & 0x7f
    val isException = (u8(d, off + 7) & 0x80) != 0
    protos += "mbtcp"
    protos += "modbus"
    v("mbtcp.trans_id") = trans.toLong
    v("mbtcp.unit_id") = unit.toLong
    v("modbus.func_code") = func.toLong
    if (isException && len >= 9)
      v("modbus.exception_code") = u8(d, off + 8).toLong
    else if ((func == 1 || func == 2 || func == 3 || func == 4 ||
        func == 15 || func == 16) && len >= 12 && mlen >= 6) {
      // read/write-multiple requests: reference number + count words
      v("modbus.reference_num") = u16(d, off + 8).toLong
      v("modbus.word_cnt") = u16(d, off + 10).toLong
    }
    val name = modbusFuncNames.getOrElse(func, s"Func $func")
    if (isException) s"Trans $trans; Unit $unit; Func $func: $name (Exception)"
    else s"Trans $trans; Unit $unit; Func $func: $name"
  }

  // -------------------------------------------------------------------
  // Messaging / telco tier: IRC, XMPP, SMPP, PPTP, TACACS+ — header- and
  // first-line-level triage like the other tiers.
  // -------------------------------------------------------------------

  /** IRC (RFC 2812, TCP 6667): a CRLF line of printable ASCII — optional
    * `:prefix`, then a command that is all letters or a 3-digit numeric
    * reply. Direction (request/response) comes from the server port. */
  private def dissectIrc(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    var eol = -1
    var i = off
    val end = off + len
    while (eol < 0 && i + 1 < end) {
      val c = u8(d, i)
      if (c == '\r' && u8(d, i + 1) == '\n') eol = i
      else if (c < 0x20 || c > 0x7e) return null // control/binary: not IRC
      i += 1
    }
    if (eol <= off) return null
    val line = new String(d, off, eol - off, "ISO-8859-1")
    var p = 0
    if (line.startsWith(":")) { // prefix
      val sp = line.indexOf(' ')
      if (sp < 0) return null
      p = sp + 1
    }
    val cmdEnd0 = line.indexOf(' ', p)
    val cmdEnd = if (cmdEnd0 < 0) line.length else cmdEnd0
    val cmd = line.substring(p, cmdEnd)
    val isWord = cmd.nonEmpty && cmd.forall(c => c.isLetter)
    val isNum = cmd.length == 3 && cmd.forall(_.isDigit)
    if (!isWord && !isNum) return null
    protos += "irc"
    if (fromServer) {
      v("irc.response") = line
      v("irc.response.command") = cmd
    } else {
      v("irc.request") = line
      v("irc.request.command") = cmd
    }
    line
  }

  /** XMPP (RFC 6120, TCP 5222): the first XML stanza's element name and
    * its to/from/id attributes. Accepts the stream open and the three
    * core stanza kinds; anything else falls through. */
  private def dissectXmpp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4 || u8(d, off) != '<') return null
    val text = new String(d, off, math.min(len, 2048), "ISO-8859-1")
    // skip an XML declaration
    var t = if (text.startsWith("<?xml")) {
      val e = text.indexOf("?>")
      if (e < 0) return null
      text.substring(e + 2).dropWhile(c => c == '\r' || c == '\n' || c == ' ')
    } else text
    if (!t.startsWith("<")) return null
    val nameEnd = t.indexWhere(c => c == ' ' || c == '>' || c == '/', 1)
    if (nameEnd < 0) return null
    val name = t.substring(1, nameEnd)
    if (name != "stream:stream" && name != "message" &&
        name != "presence" && name != "iq") return null
    val tagEnd0 = t.indexOf('>')
    val tag = if (tagEnd0 < 0) t else t.substring(0, tagEnd0)
    def attr(a: String): Option[String] = {
      val k = a + "='"
      val k2 = a + "=\""
      val s1 = tag.indexOf(k); val s2 = tag.indexOf(k2)
      val (s, q) = if (s1 >= 0) (s1 + k.length, '\'') else (s2 + k2.length, '"')
      if (s1 < 0 && s2 < 0) None
      else {
        val e = tag.indexOf(q, s)
        if (e < 0) None else Some(tag.substring(s, e))
      }
    }
    protos += "xmpp"
    attr("to").foreach(v("xmpp.to") = _)
    attr("from").foreach(v("xmpp.from") = _)
    attr("id").foreach(v("xmpp.id") = _)
    val label = name.toUpperCase.replace("STREAM:STREAM", "STREAM")
    attr("to").orElse(attr("from")) match {
      case Some(peer) => s"$label > $peer"
      case None => label
    }
  }

  private lazy val smppCmdNames: Map[Long, String] = Map(
    0x00000001L -> "bind_receiver", 0x00000002L -> "bind_transmitter",
    0x00000004L -> "submit_sm", 0x00000005L -> "deliver_sm",
    0x00000006L -> "unbind", 0x00000009L -> "bind_transceiver",
    0x00000015L -> "enquire_link", 0x80000000L -> "generic_nack")

  /** SMPP (TCP 2775): the 16-byte big-endian PDU header — length,
    * command id (bit 31 = response), status, sequence number. */
  private def dissectSmpp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    val clen = u32(d, off)
    if (clen < 16 || clen > 0x10000) return null
    val cmd = u32(d, off + 4)
    val base = cmd & 0x7fffffffL
    val isResp = (cmd & 0x80000000L) != 0
    val name = smppCmdNames.get(cmd).orElse(
      smppCmdNames.get(base).map(n => if (isResp) n + "_resp" else n))
      .getOrElse(return null)
    protos += "smpp"
    v("smpp.command_length") = clen
    v("smpp.command_id") = cmd
    v("smpp.command_status") = u32(d, off + 8)
    v("smpp.sequence_number") = u32(d, off + 12)
    // submit_sm (4): walk the C-string body to the short message — a
    // default-alphabet (data_coding 0) text surfaces the gsm_sms layer
    if (cmd == 4L && len > 16) {
      var p = off + 16
      val lim = off + math.min(len, clen.toInt)
      def cstr(): Boolean = { // advance past a NUL-terminated string
        while (p < lim && d(p) != 0) p += 1
        if (p < lim) { p += 1; true } else false
      }
      var ok = cstr() // service_type
      if (ok) { p += 2; ok = p < lim && cstr() } // src ton/npi + addr
      if (ok) { p += 2; ok = p < lim && cstr() } // dst ton/npi + addr
      if (ok) { p += 3; ok = cstr() } // esm/protocol/priority + schedule
      if (ok) ok = cstr() // validity
      if (ok && p + 5 <= lim) {
        val dcs = u8(d, p + 2)
        val smLen = u8(d, p + 4)
        val sm = p + 5
        if (dcs == 0 && smLen > 0 && sm + smLen <= lim) {
          val text = new String(d, sm, smLen, "ISO-8859-1")
          if (text.forall(c => c >= 0x20 && c < 0x7f)) {
            protos += "gsm_sms"
            v("gsm_sms.sms_text") = text
            // a submit_sm carries an SMS-SUBMIT TPDU: message type 1
            v("gsm_sms.tp-mti") = 1L
            return s"SMPP Submit_sm: \"$text\""
          }
        }
      }
    }
    name
  }

  private lazy val pptpCtrlNames: Map[Int, String] = Map(
    1 -> "Start-Control-Connection-Request", 2 -> "Start-Control-Connection-Reply",
    3 -> "Stop-Control-Connection-Request", 4 -> "Stop-Control-Connection-Reply",
    5 -> "Echo-Request", 6 -> "Echo-Reply",
    7 -> "Outgoing-Call-Request", 8 -> "Outgoing-Call-Reply",
    9 -> "Incoming-Call-Request", 10 -> "Incoming-Call-Reply",
    12 -> "Call-Clear-Request", 13 -> "Call-Disconnect-Notify")

  /** PPTP control connection (RFC 2637, TCP 1723): length, message type
    * 1 (control), the 0x1a2b3c4d magic cookie, and the control type. */
  private def dissectPptp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    val mlen = u16(d, off)
    val mtype = u16(d, off + 2)
    if (mlen < 12 || mtype != 1) return null
    if (u32(d, off + 4) != 0x1a2b3c4dL) return null
    val ctrl = u16(d, off + 8)
    protos += "pptp"
    v("pptp.length") = mlen.toLong
    v("pptp.type") = mtype.toLong
    v("pptp.magic_cookie") = 0x1a2b3c4dL
    v("pptp.cntrl_type") = ctrl.toLong
    pptpCtrlNames.getOrElse(ctrl, s"Control type $ctrl")
  }

  /** TACACS+ (RFC 8907, TCP 49): major version 0xc in the high nibble,
    * packet type, sequence number, flags (bit 0 = unencrypted), session
    * id and body length. The body stays opaque (normally encrypted). */
  private def dissectTacplus(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    val ver = u8(d, off)
    if ((ver >> 4) != 0xc) return null
    val tpe = u8(d, off + 1)
    if (tpe < 1 || tpe > 3) return null
    val plen = u32(d, off + 8)
    if (plen > (1 << 20)) return null
    protos += "tacplus"
    v("tacplus.majvers") = (ver >> 4).toLong
    v("tacplus.minvers") = (ver & 0xf).toLong
    v("tacplus.type") = tpe.toLong
    v("tacplus.seqno") = u8(d, off + 2).toLong
    v("tacplus.flags") = u8(d, off + 3).toLong
    v("tacplus.session_id") = u32(d, off + 4)
    v("tacplus.packet_len") = plen
    val name = tpe match {
      case 1 => "Authentication"; case 2 => "Authorization"; case _ => "Accounting"
    }
    if ((u8(d, off + 3) & 1) != 0) s"$name" else s"$name (encrypted)"
  }

  // -------------------------------------------------------------------
  // Industrial / SCADA tier: S7comm, DNP3, IEC 60870-5-104, EtherNet/IP
  // (CIP), OPC UA binary — header-level triage like the other tiers.
  // -------------------------------------------------------------------

  private lazy val s7RosctrNames: Map[Int, String] = Map(
    1 -> "Job", 2 -> "Ack", 3 -> "Ack_Data", 7 -> "Userdata")

  private lazy val s7FuncNames: Map[Int, String] = Map(
    0xf0 -> "Setup communication", 0x04 -> "Read Var", 0x05 -> "Write Var",
    0x1a -> "Request download", 0x1b -> "Download block",
    0x1c -> "Download ended", 0x1d -> "Start upload", 0x1e -> "Upload",
    0x1f -> "End upload", 0x28 -> "PI-Service", 0x29 -> "PLC Stop")

  /** S7comm (Siemens S7 PLC protocol) over ISO-on-TCP, port 102: TPKT +
    * COTP DT TPDU + the 0x32-tagged S7 PDU — ROSCTR kind, PDU reference,
    * and the parameter function code. Ack_Data carries two error octets
    * before the parameters (header is 12 bytes, not 10). */
  private def dissectS7(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 17) return null
    if (u8(d, off) != 3 || u8(d, off + 1) != 0) return null // TPKT v3
    val tlen = u16(d, off + 2)
    if (tlen < 17 || tlen > len) return null
    // COTP DT: length indicator 2, code 0xf0, TPDU number + EOT bit
    if (u8(d, off + 4) != 2 || u8(d, off + 5) != 0xf0) return null
    val p = off + 7
    if (u8(d, p) != 0x32) return null // S7 protocol id
    val rosctr = u8(d, p + 1)
    val pduRef = u16(d, p + 4)
    val plen = u16(d, p + 6)
    val hdrLen = if (rosctr == 2 || rosctr == 3) 12 else 10
    protos += "tpkt"
    protos += "cotp"
    protos += "s7comm"
    v("tpkt.version") = 3L
    v("tpkt.length") = tlen.toLong
    v("cotp.li") = 2L
    v("cotp.type") = 0x0fL // DT data
    v("s7comm.header.rosctr") = rosctr.toLong
    v("s7comm.header.pduref") = pduRef.toLong
    var funcPart = ""
    if (plen >= 1 && p + hdrLen < off + tlen) {
      val func = u8(d, p + hdrLen)
      v("s7comm.param.func") = func.toLong
      funcPart = s" Function:[${s7FuncNames.getOrElse(func, f"0x$func%02x")}]"
    }
    s"ROSCTR:[${s7RosctrNames.getOrElse(rosctr, rosctr.toString)}]$funcPart"
  }

  private lazy val dnp3FuncNames: Map[Int, String] = Map(
    0 -> "Confirm", 1 -> "Read", 2 -> "Write", 3 -> "Select", 4 -> "Operate",
    5 -> "Direct Operate", 13 -> "Cold Restart", 14 -> "Warm Restart",
    20 -> "Enable Unsolicited", 21 -> "Disable Unsolicited",
    129 -> "Response", 130 -> "Unsolicited Response")

  /** DNP3 (IEEE 1815) link layer on TCP 20000: 0x0564 start, length
    * (counting ctrl+addresses+user data, CRCs excluded), control octet,
    * LE destination/source addresses; the first data block carries the
    * transport octet and the application control + function code. */
  private def dissectDnp3(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 10) return null
    if (u8(d, off) != 0x05 || u8(d, off + 1) != 0x64) return null
    val dlen = u8(d, off + 2)
    if (dlen < 5) return null
    def le16(o: Int): Int = u8(d, o) | (u8(d, o + 1) << 8)
    val ctl = u8(d, off + 3)
    val dst = le16(off + 4)
    val src = le16(off + 6)
    protos += "dnp3"
    v("dnp3.len") = dlen.toLong
    v("dnp3.ctl") = ctl.toLong
    v("dnp3.dst") = dst.toLong
    v("dnp3.src") = src.toLong
    var info = s"len=$dlen, from $src to $dst"
    // first data block (after the 10-byte CRC'd link header): transport
    // octet, application control, application function code
    if (len >= 13 && dlen >= 8) {
      val func = u8(d, off + 12)
      v("dnp3.al.func") = func.toLong
      info += ", " + dnp3FuncNames.getOrElse(func, s"Func $func")
    }
    info
  }

  private lazy val iecTypeNames: Map[Int, String] = Map(
    1 -> "M_SP_NA_1", 3 -> "M_DP_NA_1", 9 -> "M_ME_NA_1", 13 -> "M_ME_NC_1",
    30 -> "M_SP_TB_1", 36 -> "M_ME_TF_1", 45 -> "C_SC_NA_1", 46 -> "C_DC_NA_1",
    100 -> "C_IC_NA_1", 103 -> "C_CS_NA_1")

  /** IEC 60870-5-104 (TCP 2404): 0x68-started APCI with I/S/U control
    * formats; I-format APDUs carry an ASDU whose type id and common
    * address surface as iec60870_asdu fields. */
  private def dissectIec104(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6) return null
    if (u8(d, off) != 0x68) return null
    val alen = u8(d, off + 1)
    if (alen < 4 || alen + 2 > len) return null
    val c1 = u8(d, off + 2); val c2 = u8(d, off + 3)
    val c3 = u8(d, off + 4); val c4 = u8(d, off + 5)
    protos += "iec60870_104"
    v("iec60870_104.apdulen") = alen.toLong
    if ((c1 & 1) == 0) { // I format: numbered information transfer
      v("iec60870_104.type") = 0L
      val tx = (c1 >> 1) | (c2 << 7)
      val rx = (c3 >> 1) | (c4 << 7)
      var info = s"I ($tx,$rx)"
      if (alen >= 10) {
        // ASDU: type id, VSQ, cause (2), common address (2 LE)
        val a = off + 6
        val tid = u8(d, a)
        val addr = u8(d, a + 4) | (u8(d, a + 5) << 8)
        protos += "iec60870_asdu"
        v("iec60870_asdu.typeid") = tid.toLong
        v("iec60870_asdu.addr") = addr.toLong
        info += s" ASDU: ${iecTypeNames.getOrElse(tid, s"Type $tid")} ($tid) Addr=$addr"
      }
      info
    } else if ((c1 & 3) == 1) { // S format: supervisory ack
      v("iec60870_104.type") = 1L
      s"S (${(c3 >> 1) | (c4 << 7)})"
    } else { // U format: unnumbered control
      v("iec60870_104.type") = 3L
      val name = c1 match {
        case 0x07 => "STARTDT act"; case 0x0b => "STARTDT con"
        case 0x13 => "STOPDT act"; case 0x23 => "STOPDT con"
        case 0x43 => "TESTFR act"; case 0x83 => "TESTFR con"
        case b => f"0x$b%02x"
      }
      s"U ($name)"
    }
  }

  private lazy val enipCmdNames: Map[Int, String] = Map(
    0x0004 -> "List Services", 0x0063 -> "List Identity",
    0x0065 -> "Register Session", 0x0066 -> "Unregister Session",
    0x006f -> "Send RR Data", 0x0070 -> "Send Unit Data")

  private lazy val cipServiceNames: Map[Int, String] = Map(
    0x01 -> "Get Attributes All", 0x05 -> "Reset",
    0x0e -> "Get Attribute Single", 0x10 -> "Set Attribute Single",
    0x4c -> "Read Tag", 0x4d -> "Write Tag")

  /** EtherNet/IP encapsulation (TCP 44818): LE command/length/session/
    * status header; SendRRData/SendUnitData walk the CPF items and an
    * Unconnected Data item (0x00b2) surfaces the CIP service code. */
  private def dissectEnip(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 24) return null
    def le16(o: Int): Int = u8(d, o) | (u8(d, o + 1) << 8)
    def le32(o: Int): Long =
      (le16(o) | (le16(o + 2).toLong << 16)) & 0xffffffffL
    val cmd = le16(off)
    if (!enipCmdNames.contains(cmd)) return null
    val dlen = le16(off + 2)
    if (24 + dlen > len) return null
    protos += "enip"
    v("enip.command") = cmd.toLong
    v("enip.length") = dlen.toLong
    v("enip.session") = le32(off + 4)
    v("enip.status") = le32(off + 8)
    var info = enipCmdNames(cmd)
    if ((cmd == 0x006f || cmd == 0x0070) && dlen >= 10) {
      // interface handle (4), timeout (2), CPF item count (2), items
      val p = off + 24
      val end = p + dlen
      var ip = p + 8
      var items = if (p + 8 <= end) le16(p + 6) else 0
      while (items > 0 && ip + 4 <= end) {
        val tid = le16(ip)
        val ilen = le16(ip + 2)
        if (tid == 0x00b2 && ilen >= 2 && ip + 4 + ilen <= end) {
          val svc = u8(d, ip + 4)
          val code = svc & 0x7f
          protos += "cip"
          v("cip.service") = code.toLong
          // responses carry service|0x80, reserved, general status, addl size
          if ((svc & 0x80) != 0 && ilen >= 3)
            v("cip.genstat") = u8(d, ip + 6).toLong
          info += ": " + cipServiceNames.getOrElse(code, f"Service 0x$code%02x") +
            (if ((svc & 0x80) == 0) " (Request)" else " (Response)")
          items = 1 // stop after the data item
        }
        ip += 4 + ilen
        items -= 1
      }
    }
    info
  }

  private lazy val opcuaMsgNames: Map[String, String] = Map(
    "HEL" -> "Hello", "ACK" -> "Acknowledge", "ERR" -> "Error",
    "OPN" -> "OpenSecureChannel", "CLO" -> "CloseSecureChannel",
    "MSG" -> "Message")

  /** OPC UA binary transport (TCP 4840): 3-char message type + 'F' final
    * chunk marker + LE size; Hello additionally carries the endpoint URL
    * after the five LE32 transport parameters. */
  private def dissectOpcua(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val t = new String(d, off, 3, "ISO-8859-1")
    if (!opcuaMsgNames.contains(t)) return null
    if (u8(d, off + 3) != 'F') return null
    def le32(o: Int): Long =
      ((u8(d, o) | (u8(d, o + 1) << 8) | (u8(d, o + 2) << 16)).toLong |
        ((u8(d, o + 3) & 0xffL) << 24)) & 0xffffffffL
    val sz = le32(off + 4)
    if (sz < 8 || sz > (1L << 24)) return null
    protos += "opcua"
    v("opcua.transport.type") = t
    v("opcua.transport.size") = sz
    if ((t == "HEL" || t == "ACK") && len >= 12)
      v("opcua.transport.ver") = le32(off + 8)
    if (t == "HEL" && len >= 32) {
      val ulen = le32(off + 28)
      if (ulen > 0 && ulen < 4096 && 32 + ulen <= len) {
        v("opcua.transport.endpoint") =
          new String(d, off + 32, ulen.toInt, "ISO-8859-1")
      }
    }
    opcuaMsgNames(t) + " message"
  }

  private lazy val bgpTypeNames: Map[Int, String] = Map(
    1 -> "OPEN Message", 2 -> "UPDATE Message",
    3 -> "NOTIFICATION Message", 4 -> "KEEPALIVE Message",
    5 -> "ROUTE-REFRESH Message")

  /** BGP (RFC 4271, TCP 179): every message wholly inside the segment —
    * 16-byte all-ones marker, length, type — listed Wireshark-style in the
    * info column; OPEN header fields from the first OPEN present. A
    * trailing partial message is ignored (no cross-segment carry for BGP). */
  private def dissectBgp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val end = off + len
    var i = off
    val names = mutable.ArrayBuffer.empty[String]
    var openDone = false
    var bad = false
    while (!bad && i + 19 <= end) {
      var m = 0
      while (m < 16 && d(i + m) == -1) m += 1
      val mlen = if (m == 16) u16(d, i + 16) else 0
      val tpe = if (m == 16) u8(d, i + 18) else 0
      if (m < 16 || mlen < 19 || mlen > 4096 || !bgpTypeNames.contains(tpe)) bad = true
      else if (i + mlen > end) bad = true // trailing partial
      else {
        if (names.isEmpty) {
          v("bgp.type") = tpe.toLong
          v("bgp.length") = mlen.toLong
        }
        if (tpe == 1 && !openDone && i + 29 <= end) {
          v("bgp.open.version") = u8(d, i + 19).toLong
          v("bgp.open.myas") = u16(d, i + 20).toLong
          v("bgp.open.holdtime") = u16(d, i + 22).toLong
          v("bgp.open.identifier") = ipv4Str(d, i + 24)
          openDone = true
        }
        names += bgpTypeNames(tpe)
        i += mlen
      }
    }
    if (names.isEmpty) null
    else {
      protos += "bgp"
      names.mkString(", ")
    }
  }

  /** IGMP (RFC 2236/3376, IP protocol 2): type, max response time, and —
    * for the single-group v1/v2 forms — the group address. The v3 report
    * (0x22) carries group records, not one address, so only type-level
    * fields are emitted for it. */
  private lazy val dvmrpCodeNames = Map(
    1 -> "Probe", 2 -> "Route Report", 3 -> "Ask Neighbors",
    4 -> "Neighbors", 5 -> "Ask Neighbors 2", 6 -> "Neighbors 2",
    7 -> "Prune", 8 -> "Graft", 9 -> "Graft-Ack")

  private def dissectIgmp(d: Array[Byte], off: Int, end: Int, v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 8) return "IGMP"
    val tpe = u8(d, off)
    v("igmp.type") = tpe.toLong
    v("igmp.max_resp") = u8(d, off + 1).toLong
    v("igmp.checksum") = u16(d, off + 2).toLong
    if (tpe == 0x13) {
      // DVMRP (RFC 1075 as deployed) rides IGMP type 0x13; the second
      // octet is the DVMRP message code
      val code = u8(d, off + 1)
      protos += "dvmrp"
      v("dvmrp.code") = code.toLong
      return dvmrpCodeNames.getOrElse(code, s"DVMRP code $code")
    }
    if (tpe == 0x22) {
      // IGMPv3 (RFC 3376 §4.2): reserved(2), number of group records(2),
      // then records — type(1), aux len(1), n sources(2), group address(4)
      val n = u16(d, off + 6)
      v("igmp.num_grp_recs") = n.toLong
      if (n > 0 && end >= off + 16) {
        v("igmp.record_type") = u8(d, off + 8).toLong
        v("igmp.maddr") = ipv4Str(d, off + 12)
      }
      return s"Membership Report / ${if (n == 1) "1 group record" else s"$n group records"}"
    }
    val group = ipv4Str(d, off + 4)
    v("igmp.maddr") = group
    tpe match {
      case 0x11 =>
        if (group == "0.0.0.0") "Membership Query, general"
        else s"Membership Query, specific for group $group"
      case 0x12 | 0x16 => s"Membership Report group $group"
      case 0x17        => s"Leave Group $group"
      case _           => s"IGMP type=0x${"%02x".format(tpe)}"
    }
  }

  /** IPsec ESP (RFC 4303, IP protocol 50): only the SPI and sequence
    * number are cleartext — everything after is ciphertext. The caller
    * adds the layer name. */
  private def dissectEsp(d: Array[Byte], off: Int, end: Int, v: FieldVec): String = {
    if (end < off + 8) return "ESP"
    val spi = u32(d, off)
    v("esp.spi") = spi
    v("esp.sequence") = u32(d, off + 4)
    s"ESP (SPI=0x${"%08x".format(spi)})"
  }

  /** IPsec AH (RFC 4302, IP protocol 51): integrity header, then the
    * protected payload dissected in place (transport mode). */
  private def dissectAh(
      d: Array[Byte], off: Int, end: Int,
      ips: Array[Byte], ipAt: Int, ipLen: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    protos += "ah"
    if (end < off + 12) return "AH"
    val nxt = u8(d, off)
    val plen = u8(d, off + 1)
    val spi = u32(d, off + 4)
    v("ah.next_header") = nxt.toLong
    v("ah.length") = plen.toLong
    v("ah.spi") = spi
    v("ah.sequence") = u32(d, off + 8)
    val hdrLen = (plen + 2) * 4
    val inner =
      if (hdrLen >= 12 && off + hdrLen < end) nxt match {
        case 6  => dissectTcp(d, off + hdrLen, end, ips, ipAt, ipLen, v, protos, tracker, wanted)
        case 17 => dissectUdp(d, off + hdrLen, end, ips, ipAt, ipLen, v, protos, tracker, wanted)
        case 1  => protos += "icmp"; dissectIcmp(d, off + hdrLen, v)
        case 50 => protos += "esp"; dissectEsp(d, off + hdrLen, end, v)
        case _  => null
      } else null
    if (inner != null) inner else s"AH (SPI=0x${"%08x".format(spi)})"
  }

  private lazy val ssdpMethods = Set("M-SEARCH", "NOTIFY", "GET", "POST",
    "SUBSCRIBE", "UNSUBSCRIBE")

  /** SSDP (UDP 1900): HTTP-framed discovery — the start line reuses the
    * http.* request/response fields (tshark keeps those names under the
    * ssdp layer). */
  private def dissectSsdp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    val text = new String(d, off, math.min(len, 2048), "ISO-8859-1")
    val le = text.indexOf("\r\n")
    if (le <= 0) return null
    val line = text.substring(0, le)
    val parts = line.split(" ", 3)
    if (line.startsWith("HTTP/1.")) {
      if (parts.length < 2) return null
      val code = parts(1).toLongOption.getOrElse(return null)
      protos += "ssdp"
      v("http.response") = true
      v("http.response.version") = parts(0)
      v("http.response.code") = code
      if (parts.length > 2) v("http.response.phrase") = parts(2)
    } else {
      if (parts.length != 3 || !parts(2).startsWith("HTTP/1.") ||
        !ssdpMethods.contains(parts(0))) return null
      protos += "ssdp"
      v("http.request") = true
      v("http.request.method") = parts(0)
      v("http.request.uri") = parts(1)
      v("http.request.version") = parts(2)
    }
    // NOTIFY/M-SEARCH/response headers: surface the ones tshark names
    // (http.location / http.server / http.host keep their http.* filter
    // names under the ssdp layer, like the start-line fields above)
    var h = le + 2
    var guard = 0
    while (h < text.length && guard < 32) {
      val he = text.indexOf("\r\n", h)
      if (he < 0 || he == h) { h = text.length }
      else {
        val colon = text.indexOf(':', h)
        if (colon > h && colon < he) {
          val name = text.substring(h, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = text.substring(colon + 1, he).trim
          name match {
            case "location" => v("http.location") = value
            case "server"   => v("http.server") = value
            case "host"     => v("http.host") = value
            case _          =>
          }
        }
        h = he + 2
        guard += 1
      }
    }
    line
  }

  private lazy val wsOpcodeNames: Map[Int, String] = Map(
    0 -> "Continuation", 1 -> "Text", 2 -> "Binary",
    8 -> "Connection Close", 9 -> "Ping", 10 -> "Pong")

  /** WebSocket frame header (RFC 6455 §5.2), reached only after the
    * conversation's 101 upgrade: FIN/opcode, mask bit, 7/16/64-bit payload
    * length, masking key. Payload stays opaque (masked client-side). */
  /** Total on-wire length (header + mask + payload) of the WebSocket
    * frame starting at `off`: > 0 when the header parses, -1 when the
    * header itself is still incomplete (plausibly ws — wait for more),
    * 0 when the bytes cannot start a ws frame. */
  private def wsFrameLen(d: Array[Byte], off: Int, len: Int): Long = {
    if (len < 1) return -1
    val b0 = u8(d, off)
    // RSV1 is legal on data frames (permessage-deflate); RSV2/3 never are
    if ((b0 & 0x30) != 0 || !wsOpcodeNames.contains(b0 & 0x0f)) return 0
    if ((b0 & 0x40) != 0 && (b0 & 0x0f) != 1 && (b0 & 0x0f) != 2) return 0
    if (len < 2) return -1
    val b1 = u8(d, off + 1)
    var plen: Long = (b1 & 0x7f).toLong
    var hdr = 2
    if (plen == 126) {
      if (len < 4) return -1
      plen = u16(d, off + 2).toLong; hdr = 4
    } else if (plen == 127) {
      if (len < 10) return -1
      plen = (u32(d, off + 2) << 32) | u32(d, off + 6); hdr = 10
      // A 64-bit length that is negative (>= 2^63) or beyond what this
      // engine would ever reassemble is a malformed/not-ws frame, not a
      // carry-forever sink (and hdr + plen must not wrap).
      if (plen < 0 || plen > MaxCarry) return 0
    }
    if ((b1 & 0x80) != 0) hdr += 4
    hdr + plen
  }

  private def dissectWebsocket(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 2) return null
    val b0 = u8(d, off)
    if ((b0 & 0x30) != 0) return null // RSV2/3: never negotiated
    val rsv1 = (b0 & 0x40) != 0 // permessage-deflate (RFC 7692)
    val opcode = b0 & 0x0f
    if (rsv1 && opcode != 1 && opcode != 2) return null // data frames only
    val name = wsOpcodeNames.getOrElse(opcode, return null)
    val fin = (b0 & 0x80) != 0
    val b1 = u8(d, off + 1)
    val masked = (b1 & 0x80) != 0
    var plen: Long = (b1 & 0x7f).toLong
    var p = off + 2
    if (plen == 126) {
      if (len < 4) return null
      plen = u16(d, p).toLong; p += 2
    } else if (plen == 127) {
      if (len < 10) return null
      plen = (u32(d, p) << 32) | u32(d, p + 4); p += 8
    }
    protos += "websocket"
    v("websocket.fin") = fin
    v("websocket.opcode") = opcode.toLong
    v("websocket.mask") = masked
    v("websocket.payload_length") = plen
    var key: Array[Int] = null
    if (masked && p + 4 <= off + len) {
      key = Array.tabulate(4)(i => u8(d, p + i))
      v("websocket.masking_key") = key.map(b => f"$b%02x").mkString
      p += 4
    }
    if (rsv1) v("websocket.rsv") = 4L
    val base = s"WebSocket $name${if (fin) " [FIN]" else ""}"
    // Text payload fully inside this segment: unmask (RFC 6455 §5.3) and
    // surface it when it is clean printable UTF-8-ASCII. An RSV1 frame's
    // payload is raw DEFLATE with the trailing 00 00 ff ff removed
    // (RFC 7692 §7.2.1) — re-append the tail and inflate (no zlib wrap).
    if (opcode == 1 && plen > 0 && plen <= 256 && p + plen <= off + len &&
      (!masked || key != null)) {
      var bytes = Array.tabulate(plen.toInt) { i =>
        val raw = u8(d, p + i)
        (if (key != null) raw ^ key(i & 3) else raw).toByte
      }
      if (rsv1) {
        val inflated = wsInflate(bytes)
        if (inflated == null) return base // undecodable: header info only
        bytes = inflated
      }
      if (bytes.length <= 256 && bytes.forall(b => b >= 0x20 && b < 0x7f)) {
        val text = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
        v("websocket.payload.text") = text
        return s"$base: $text"
      }
    }
    base
  }

  /** Inflate one permessage-deflate message (RFC 7692): the frame omits
    * the deflate sync-flush tail, so re-append 00 00 ff ff and run a
    * raw (nowrap) Inflater. Null on corrupt/truncated streams. */
  private def wsInflate(payload: Array[Byte]): Array[Byte] = {
    val infl = new java.util.zip.Inflater(true)
    infl.setInput(payload ++ Array[Byte](0x00, 0x00, 0xff.toByte, 0xff.toByte))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    try {
      var n = infl.inflate(buf)
      var total = 0
      while (n > 0 && total <= MaxCarry) { out.write(buf, 0, n); total += n; n = infl.inflate(buf) }
      if (total > MaxCarry) null else out.toByteArray
    } catch { case _: java.util.zip.DataFormatException => null }
    finally infl.end()
  }

  /** DTLS record header (RFC 9147): the 0xfeff/0xfefd version magic is a
    * strong heuristic on any UDP port; handshake records surface their
    * message type like the TLS dissector. */
  private def dissectDtls(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 13) return null
    val ctype = u8(d, off)
    if (ctype < 20 || ctype > 23) return null
    val ver = u16(d, off + 1)
    if (ver != 0xfeff && ver != 0xfefd) return null
    protos += "dtls"
    v("dtls.record.content_type") = ctype.toLong
    v("dtls.record.version") = ver.toLong
    v("dtls.record.epoch") = u16(d, off + 3).toLong
    v("dtls.record.sequence_number") =
      (u16(d, off + 5).toLong << 32) | u32(d, off + 7)
    v("dtls.record.length") = u16(d, off + 11).toLong
    val vname = if (ver == 0xfeff) "DTLSv1.0" else "DTLSv1.2"
    if (ctype == 22 && end >= off + 14) {
      val hs = u8(d, off + 13)
      v("dtls.handshake.type") = hs.toLong
      if (end >= off + 17) v("dtls.handshake.length") = u24(d, off + 14).toLong
      s"$vname ${tlsHandshakeNames.getOrElse(hs, s"Handshake type=$hs")}"
    } else s"$vname ${tlsContentName(ctype)}"
  }

  private lazy val rtspMethods = Set("OPTIONS", "DESCRIBE", "ANNOUNCE", "SETUP",
    "PLAY", "PAUSE", "TEARDOWN", "GET_PARAMETER", "SET_PARAMETER",
    "REDIRECT", "RECORD")

  /** RTSP (RFC 2326, TCP 554): HTTP-shaped start line + the Session /
    * Transport headers that drive stream setup. */
  private def dissectRtsp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 10) return null
    val text = new String(d, off, math.min(len, 2048), "ISO-8859-1")
    val le = text.indexOf("\r\n")
    if (le <= 0) return null
    val line = text.substring(0, le)
    val parts = line.split(" ", 3)
    if (line.startsWith("RTSP/1.")) {
      if (parts.length < 2) return null
      val code = parts(1).toLongOption.getOrElse(return null)
      protos += "rtsp"
      v("rtsp.response") = line
      v("rtsp.status") = code
    } else {
      if (parts.length != 3 || !parts(2).startsWith("RTSP/1.") ||
        !rtspMethods.contains(parts(0))) return null
      protos += "rtsp"
      v("rtsp.request") = line
      v("rtsp.method") = parts(0)
      v("rtsp.url") = parts(1)
    }
    var h = le + 2
    var guard = 0
    while (h < text.length && guard < 32) {
      val he = text.indexOf("\r\n", h)
      if (he < 0 || he == h) { h = text.length }
      else {
        val colon = text.indexOf(':', h)
        if (colon > h && colon < he) {
          val name = text.substring(h, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = text.substring(colon + 1, he).trim
          name match {
            case "session"   => v("rtsp.session") = value
            case "transport" => v("rtsp.transport") = value
            case _           =>
          }
        }
        h = he + 2
        guard += 1
      }
    }
    line
  }

  private lazy val socksCmdNames: Map[Int, String] =
    Map(1 -> "Connect", 2 -> "Bind", 3 -> "UdpAssociate")

  /** SOCKS (TCP 1080): v5 greeting / request / reply and the v4 request —
    * the triage envelope (RFC 1928). */
  private def dissectSocks(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3) return null
    val ver = u8(d, off)
    if (ver == 5) {
      if (!fromServer && len >= 4 && u8(d, off + 2) == 0 &&
        socksCmdNames.contains(u8(d, off + 1))) {
        // request: VER CMD RSV ATYP ...
        val cmd = u8(d, off + 1)
        protos += "socks"
        v("socks.version") = 5L
        v("socks.command") = cmd.toLong
        val name = socksCmdNames(cmd)
        u8(d, off + 3) match {
          case 1 if len >= 10 => // IPv4
            val dst = ipv4Str(d, off + 4)
            v("socks.dst") = dst
            val port = u16(d, off + 8)
            v("socks.dstport") = port.toLong
            s"$name to $dst:$port"
          case 3 if len >= 5 && len >= 7 + u8(d, off + 4) => // domain name
            val n = u8(d, off + 4)
            val host = new String(d, off + 5, n, "ISO-8859-1")
            v("socks.remote_name") = host
            val port = u16(d, off + 5 + n)
            v("socks.dstport") = port.toLong
            s"$name to $host:$port"
          case _ => s"$name request"
        }
      } else if (!fromServer && len >= 2 && len == 2 + u8(d, off + 1)) {
        // greeting: VER NMETHODS METHODS…
        protos += "socks"
        v("socks.version") = 5L
        "Client greeting"
      } else if (fromServer && len == 2) {
        protos += "socks"
        v("socks.version") = 5L
        "Server method selection"
      } else if (fromServer && len >= 4 && u8(d, off + 2) == 0) {
        protos += "socks"
        v("socks.version") = 5L
        v("socks.results") = u8(d, off + 1).toLong
        if (u8(d, off + 1) == 0) "Connection granted"
        else s"Connection failed (${u8(d, off + 1)})"
      } else null
    } else if (ver == 4 && !fromServer && len >= 8 &&
      socksCmdNames.contains(u8(d, off + 1))) {
      protos += "socks"
      v("socks.version") = 4L
      v("socks.command") = u8(d, off + 1).toLong
      val port = u16(d, off + 2)
      val dst = ipv4Str(d, off + 4)
      v("socks.dstport") = port.toLong
      v("socks.dst") = dst
      s"${socksCmdNames(u8(d, off + 1))} to $dst:$port"
    } else null
  }

  private lazy val syslogFacilityNames: Array[String] = Array(
    "KERN", "USER", "MAIL", "DAEMON", "AUTH", "SYSLOG", "LPR", "NEWS",
    "UUCP", "CRON", "AUTHPRIV", "FTP", "NTP", "AUDIT", "ALERT", "CLOCK",
    "LOCAL0", "LOCAL1", "LOCAL2", "LOCAL3", "LOCAL4", "LOCAL5", "LOCAL6",
    "LOCAL7")
  private lazy val syslogLevelNames: Array[String] = Array(
    "EMERG", "ALERT", "CRIT", "ERR", "WARNING", "NOTICE", "INFO", "DEBUG")

  /** Syslog (RFC 3164, UDP 514): `<PRI>` then the free-form message;
    * facility/severity decoded from PRI, "FACILITY.LEVEL: msg" info. */
  private def dissectSyslog(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3 || d(off) != '<') return null
    val end = off + len
    var i = off + 1
    var pri = 0
    var nd = 0
    while (i < end && nd < 3 && d(i) >= '0' && d(i) <= '9') {
      pri = pri * 10 + (d(i) - '0'); i += 1; nd += 1
    }
    if (nd == 0 || i >= end || d(i) != '>' || pri > 191) return null
    i += 1
    val msg = new String(d, i, math.min(end - i, 2048), "ISO-8859-1")
    protos += "syslog"
    val fac = pri >> 3
    val lev = pri & 7
    v("syslog.facility") = fac.toLong
    v("syslog.level") = lev.toLong
    v("syslog.msg") = msg
    s"${syslogFacilityNames(fac)}.${syslogLevelNames(lev)}: $msg"
  }

  /** TFTP (RFC 1350, UDP 69): opcode plus filename/mode on RRQ/WRQ. Only
    * the initial request hits port 69 — the transfer continues between
    * ephemeral ports (conversation-tracked DATA/ACK is out of scope; the
    * opcode forms are still dissected when seen on 69). */
  private def dissectTftp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val op = u16(d, off)
    if (op < 1 || op > 6) return null
    val end = off + len
    if (op == 1 || op == 2) {
      var i = off + 2
      val f0 = i
      while (i < end && d(i) != 0) i += 1
      if (i >= end) return null // filename not NUL-terminated
      val fname = new String(d, f0, i - f0, "ISO-8859-1")
      i += 1
      val m0 = i
      while (i < end && d(i) != 0) i += 1
      val mode = new String(d, m0, i - m0, "ISO-8859-1")
      protos += "tftp"
      v("tftp.opcode") = op.toLong
      if (op == 1) v("tftp.source_file") = fname
      else v("tftp.destination_file") = fname
      v("tftp.type") = mode
      if (op == 1) s"Read Request, File: $fname, Transfer type: $mode"
      else s"Write Request, File: $fname, Transfer type: $mode"
    } else {
      protos += "tftp"
      v("tftp.opcode") = op.toLong
      op match {
        case 3 =>
          v("tftp.block") = u16(d, off + 2).toLong
          s"Data Packet, Block: ${u16(d, off + 2)}"
        case 4 =>
          v("tftp.block") = u16(d, off + 2).toLong
          s"Acknowledgement, Block: ${u16(d, off + 2)}"
        case 5 =>
          v("tftp.error.code") = u16(d, off + 2).toLong
          s"Error Code, Code: ${u16(d, off + 2)}"
        case _ => "Option Acknowledgement"
      }
    }
  }

  private lazy val ospfTypeNames: Map[Int, String] = Map(
    1 -> "Hello Packet", 2 -> "DB Description", 3 -> "LS Request",
    4 -> "LS Update", 5 -> "LS Acknowledge")

  /** OSPFv2 (RFC 2328, IP protocol 89): common 24-byte header — version,
    * type, router/area ids. The caller adds the layer name on success. */
  private def dissectOspf(d: Array[Byte], off: Int, end: Int, v: FieldVec): String = {
    if (end < off + 24) return "OSPF"
    val ver = u8(d, off)
    val tpe = u8(d, off + 1)
    v("ospf.version") = ver.toLong
    v("ospf.msg") = tpe.toLong
    v("ospf.packet_length") = u16(d, off + 2).toLong
    v("ospf.srcrouter") = ipv4Str(d, off + 4)
    v("ospf.area_id") = ipv4Str(d, off + 8)
    ospfTypeNames.getOrElse(tpe, s"OSPF type=$tpe")
  }

  /** NetBIOS first-level name decoding (RFC 1001 §14.1): 32 chars of
    * 'A'..'P', each pair one byte; returns (name, suffix) or null. */
  private def nbnsDecodeName(enc: String): (String, Int) = {
    if (enc.length != 32 || enc.exists(c => c < 'A' || c > 'P')) return null
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 16) {
      bytes(i) = (((enc(i * 2) - 'A') << 4) | (enc(i * 2 + 1) - 'A')).toByte
      i += 1
    }
    val suffix = bytes(15) & 0xff
    val name = new String(bytes, 0, 15, "ISO-8859-1").trim
    (name, suffix)
  }

  /** NBNS (RFC 1002, UDP 137): DNS-shaped header with first-level-encoded
    * names — "Name query NB NAME<xx>" info, tshark-style. */
  private def dissectNbns(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 12) return null
    val id = u16(d, off)
    val flags = u16(d, off + 2)
    val qd = u16(d, off + 4)
    val an = u16(d, off + 6)
    if (qd > 8 || an > 8) return null // sanity: NBNS carries tiny counts
    val isResponse = (flags & 0x8000) != 0
    // first question/record name: one label of 32 encoded chars
    var i = off + 12
    var decoded: (String, Int) = null
    if (i < end && u8(d, i) == 32 && i + 33 <= end) {
      val enc = new String(d, i + 1, 32, "ISO-8859-1")
      decoded = nbnsDecodeName(enc)
    }
    if (decoded == null && !isResponse) return null
    protos += "nbns"
    v("nbns.id") = id.toLong
    v("nbns.flags.response") = isResponse
    v("nbns.count.queries") = qd.toLong
    if (decoded != null) {
      v("nbns.name") = f"${decoded._1}<${decoded._2}%02x>"
      val verb = if (isResponse) "Name query response NB" else "Name query NB"
      f"$verb ${decoded._1}<${decoded._2}%02x>"
    } else if (isResponse) "Name query response"
    else "Name query"
  }

  private lazy val stunTypeNames: Map[Int, String] = Map(
    0x0001 -> "Binding Request", 0x0101 -> "Binding Success Response",
    0x0111 -> "Binding Error Response", 0x0011 -> "Binding Indication",
    // TURN methods (RFC 8656) share the STUN header and cookie
    0x0003 -> "Allocate Request", 0x0103 -> "Allocate Success Response",
    0x0113 -> "Allocate Error Response",
    0x0004 -> "Refresh Request", 0x0104 -> "Refresh Success Response",
    0x0016 -> "Send Indication", 0x0017 -> "Data Indication",
    0x0008 -> "CreatePermission Request",
    0x0108 -> "CreatePermission Success Response",
    0x0009 -> "ChannelBind Request",
    0x0109 -> "ChannelBind Success Response")

  /** STUN (RFC 5389, UDP 3478): gated on the magic cookie; type, message
    * length, and the 96-bit transaction id. */
  private def dissectStun(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20 || (u8(d, off) & 0xc0) != 0) return null
    if (u32(d, off + 4) != 0x2112A442L) return null // magic cookie
    val tpe = u16(d, off)
    val mlen = u16(d, off + 2)
    protos += "stun"
    v("stun.type") = tpe.toLong
    v("stun.length") = mlen.toLong
    val sb = new java.lang.StringBuilder(24)
    var i = 0
    while (i < 12) { sb.append(hex2(d(off + 8 + i) & 0xff)); i += 1 }
    v("stun.id") = sb.toString
    stunTypeNames.getOrElse(tpe, f"STUN type=0x$tpe%04x")
  }

  private lazy val dhcpv6MsgNames: Map[Int, String] = Map(
    1 -> "Solicit", 2 -> "Advertise", 3 -> "Request", 4 -> "Confirm",
    5 -> "Renew", 6 -> "Rebind", 7 -> "Reply", 8 -> "Release",
    9 -> "Decline", 10 -> "Reconfigure", 11 -> "Information-request",
    12 -> "Relay-forw", 13 -> "Relay-repl")

  /** DHCPv6 (RFC 8415, UDP 546/547): message type + 24-bit transaction id. */
  private def dissectDhcpv6(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val tpe = u8(d, off)
    val name = dhcpv6MsgNames.getOrElse(tpe, return null)
    protos += "dhcpv6"
    val xid = ((u8(d, off + 1) << 16) | (u8(d, off + 2) << 8) | u8(d, off + 3)).toLong
    v("dhcpv6.msgtype") = tpe.toLong
    v("dhcpv6.xid") = xid
    f"$name XID: 0x$xid%06x"
  }

  private lazy val wgTypeNames: Map[Int, String] = Map(
    1 -> "Handshake Initiation", 2 -> "Handshake Response",
    3 -> "Cookie Reply", 4 -> "Transport Data")

  /** WireGuard (UDP 51820): one-byte type + three reserved zero bytes;
    * little-endian sender/receiver index where the type defines one. */
  private def dissectWireguard(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val tpe = u8(d, off)
    val name = wgTypeNames.getOrElse(tpe, return null)
    if (u8(d, off + 1) != 0 || u8(d, off + 2) != 0 || u8(d, off + 3) != 0) return null
    protos += "wireguard"
    v("wireguard.type") = tpe.toLong
    // types 1/2: sender index; 3/4: receiver index — both LE at offset 4
    val idx = (u8(d, off + 4).toLong | (u8(d, off + 5).toLong << 8) |
      (u8(d, off + 6).toLong << 16) | (u8(d, off + 7).toLong << 24))
    if (tpe == 1 || tpe == 2) v("wireguard.sender") = idx else v("wireguard.receiver") = idx
    val which = if (tpe == 1 || tpe == 2) "sender" else "receiver"
    f"$name, $which=0x$idx%08x"
  }

  private lazy val mqttTypeNames: Map[Int, String] = Map(
    1 -> "Connect Command", 2 -> "Connect Ack", 3 -> "Publish Message",
    4 -> "Publish Ack", 5 -> "Publish Received", 6 -> "Publish Release",
    7 -> "Publish Complete", 8 -> "Subscribe Request", 9 -> "Subscribe Ack",
    10 -> "Unsubscribe Request", 11 -> "Unsubscribe Ack",
    12 -> "Ping Request", 13 -> "Ping Response", 14 -> "Disconnect Req")

  /** Total byte length of the MQTT PDU at `off`: -1 when the PDU is
    * plausible but incomplete in [off, end) (desegment carries it),
    * -2 when the bytes cannot be an MQTT fixed header. */
  private def mqttPduLen(d: Array[Byte], off: Int, end: Int): Int = {
    if (off >= end) return -1
    val tpe = (u8(d, off) >> 4) & 0xf
    if (!mqttTypeNames.contains(tpe)) return -2
    var rem = 0
    var shift = 0
    var i = off + 1
    var more = true
    while (more && shift <= 21) {
      if (i >= end) return -1
      val b = u8(d, i)
      rem |= (b & 0x7f) << shift
      more = (b & 0x80) != 0
      shift += 7
      i += 1
    }
    if (more) return -2 // varint longer than 4 bytes: not MQTT
    val total = (i - off) + rem
    if (off + total > end) -1 else total
  }

  /** MQTT (TCP 1883): fixed header (type nibble + varint remaining
    * length); PUBLISH exposes its topic, CONNECT is sanity-gated on the
    * "MQTT"/"MQIsdp" protocol-name prefix. */
  private def dissectMqtt(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 2) return null
    val tpe = (u8(d, off) >> 4) & 0xf
    val name = mqttTypeNames.getOrElse(tpe, return null)
    // varint remaining length (max 4 bytes)
    var rem = 0
    var shift = 0
    var i = off + 1
    var more = true
    while (more && shift <= 21 && i < off + len) {
      val b = u8(d, i)
      rem |= (b & 0x7f) << shift
      more = (b & 0x80) != 0
      shift += 7
      i += 1
    }
    if (more) return null // truncated varint
    if (tpe == 1) {
      // CONNECT: 2-byte name length then "MQTT" (3.1.1/5) or "MQIsdp" (3.1)
      if (i + 6 > off + len) return null
      val nlen = u16(d, i)
      if (nlen != 4 && nlen != 6) return null
      val pn = new String(d, i + 2, math.min(nlen, off + len - i - 2), "ISO-8859-1")
      if (pn != "MQTT" && pn != "MQIsdp") return null
    }
    protos += "mqtt"
    v("mqtt.msgtype") = tpe.toLong
    v("mqtt.len") = rem.toLong
    if (tpe == 3) { // PUBLISH carries flags in the low fixed-header nibble
      v("mqtt.dupflag") = (u8(d, off) & 0x08) != 0
      v("mqtt.qos") = ((u8(d, off) >> 1) & 0x3).toLong
      v("mqtt.retain") = (u8(d, off) & 0x01) != 0
    }
    if (tpe == 3 && i + 2 <= off + len) {
      val tlen = u16(d, i)
      if (tlen > 0 && i + 2 + tlen <= off + len) {
        val topic = new String(d, i + 2, tlen, "ISO-8859-1")
        v("mqtt.topic") = topic
        // QoS > 0 PUBLISH carries a packet identifier after the topic
        if (((u8(d, off) >> 1) & 0x3) > 0 && i + 4 + tlen <= off + len)
          v("mqtt.msgid") = u16(d, i + 2 + tlen).toLong
        return s"$name [$topic]"
      }
    }
    if (tpe == 1) {
      // CONNECT payload: name(2+n) + level(1) + flags(1) + keepalive(2),
      // then the length-prefixed client identifier
      val nlen = u16(d, i)
      val cidAt = i + 2 + nlen + 4
      if (cidAt + 2 <= off + len) {
        val clen = u16(d, cidAt)
        if (clen > 0 && cidAt + 2 + clen <= off + len)
          v("mqtt.clientid") =
            new String(d, cidAt + 2, clen, "ISO-8859-1")
      }
    }
    name
  }

  private lazy val sctpChunkNames: Map[Int, String] = Map(
    0 -> "DATA", 1 -> "INIT", 2 -> "INIT_ACK", 3 -> "SACK",
    4 -> "HEARTBEAT", 5 -> "HEARTBEAT_ACK", 6 -> "ABORT", 7 -> "SHUTDOWN",
    8 -> "SHUTDOWN_ACK", 9 -> "ERROR", 10 -> "COOKIE_ECHO",
    11 -> "COOKIE_ACK", 14 -> "SHUTDOWN_COMPLETE")

  /** SCTP (RFC 4960, IP protocol 132): common header + the chunk-type
    * walk Wireshark lists in the info column. */
  private def dissectSctp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    protos += "sctp"
    if (end < off + 12) return "SCTP"
    val sp = u16(d, off)
    val dp = u16(d, off + 2)
    v("sctp.srcport") = sp.toLong
    v("sctp.dstport") = dp.toLong
    v("sctp.verification_tag") = u32(d, off + 4)
    v("sctp.checksum") = u32(d, off + 8)
    val names = mutable.ArrayBuffer.empty[String]
    var i = off + 12
    var firstChunk = -1
    var dataOff = -1
    var dataEnd = -1
    while (i + 4 <= end && names.size < 8) {
      val ct = u8(d, i)
      val clen = u16(d, i + 2)
      if (clen < 4) { i = end } // malformed framing: stop the walk
      else {
        if (firstChunk < 0) firstChunk = ct
        // DATA chunk (type 0): tsn(4) stream(2) seq(2) ppid(4) then the
        // upper-layer payload — remember the first one for dispatch
        if (ct == 0 && dataOff < 0 && clen > 16) {
          v("sctp.data_sid") = u16(d, i + 8).toLong
          v("sctp.data_ssn") = u16(d, i + 10).toLong
          v("sctp.data_payload_proto_id") = u32(d, i + 12)
          dataOff = i + 16
          dataEnd = math.min(i + clen, end)
        }
        names += sctpChunkNames.getOrElse(ct, s"CHUNK_$ct")
        i += (clen + 3) & ~3 // chunks pad to 4-byte boundaries
      }
    }
    if (firstChunk >= 0) v("sctp.chunk_type") = firstChunk.toLong
    // port-based upper-layer dispatch inside the first DATA chunk — the
    // info column follows the innermost dissected layer, tunnel-style
    if (dataOff > 0 && (sp == 3868 || dp == 3868)) {
      val inner = dissectDiameter(d, dataOff, dataEnd, v, protos)
      if (inner != null) return inner
    }
    if (dataOff > 0 && (sp == 2905 || dp == 2905)) {
      val inner = dissectM3ua(d, dataOff, dataEnd, v, protos)
      if (inner != null) return inner
    }
    // the RAN application protocols on their 3GPP-registered ports
    if (dataOff > 0) {
      val ranName =
        if (sp == 36412 || dp == 36412) "s1ap"
        else if (sp == 38412 || dp == 38412) "ngap"
        else if (sp == 36422 || dp == 36422) "x2ap"
        else if (sp == 38472 || dp == 38472) "f1ap"
        else if (sp == 38462 || dp == 38462) "e1ap"
        else if (sp == 38422 || dp == 38422) "xnap"
        else null
      if (ranName != null) {
        val inner = dissectRanAp(ranName, d, dataOff, dataEnd, v, protos)
        if (inner != null) return inner
      }
    }
    if (dataOff > 0 && (sp == 2904 || dp == 2904)) {
      val inner = dissectM2ua(d, dataOff, dataEnd, v, protos)
      if (inner != null) return inner
    }
    if (dataOff > 0 && (sp == 14001 || dp == 14001)) {
      val inner = dissectSua(d, dataOff, dataEnd, v, protos)
      if (inner != null) return inner
    }
    if (names.isEmpty) s"$sp → $dp"
    else s"$sp → $dp ${names.mkString(", ")}"
  }

  /** GTP-U (3GPP TS 29.281, UDP 2152): version-1 header with TEID; a
    * G-PDU's inner IP packet dissects in nested field mode (the GRE/VXLAN
    * tunnel pattern). */
  private def dissectGtpU(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (len < 8) return null
    val flags = u8(d, off)
    if ((flags >> 5) != 1 || (flags & 0x10) == 0) return null // version 1, PT=1
    val msgType = u8(d, off + 1)
    val teid = u32(d, off + 4)
    protos += "gtp"
    v("gtp.message") = msgType.toLong
    v("gtp.teid") = teid
    var p = off + 8
    if ((flags & 0x07) != 0) {
      p += 4 // seq(2) + npdu(1) + next-ext-type(1) present as a block
      // E flag: chained extension headers — first byte is length in
      // 4-byte units, last byte the next-ext type (0 terminates)
      if ((flags & 0x04) != 0) {
        var next = u8(d, p - 1)
        var hops = 0
        while (next != 0 && p + 4 <= off + len && hops < 8) {
          val extLen = u8(d, p) * 4
          if (extLen == 0 || p + extLen > off + len) { next = 0 }
          else {
            next = u8(d, p + extLen - 1)
            p += extLen
            hops += 1
          }
        }
      }
    }
    if (msgType == 255 && p < off + len) {
      val wasNested = v.nested
      v.nested = true
      val inner =
        try (u8(d, p) >> 4) match {
          case 4 => dissectIpv4(d, p, v, protos, tracker, wanted)
          case 6 => dissectIpv6(d, p, v, protos, tracker, wanted)
          case _ => null
        } finally v.nested = wasNested
      if (inner != null) return inner
    }
    val mname = if (msgType == 255) "G-PDU" else s"Message Type $msgType"
    f"GTP <$mname> TEID=0x$teid%08x"
  }

  private lazy val ikeExchangeNames: Map[Int, String] = Map(
    34 -> "IKE_SA_INIT", 35 -> "IKE_AUTH", 36 -> "CREATE_CHILD_SA",
    37 -> "INFORMATIONAL")

  /** IKEv2 (RFC 7296, UDP 500; 4500 behind the zero non-ESP marker):
    * header SPIs, exchange type, message id. */
  private def dissectIkev2(
      d: Array[Byte], off0: Int, len0: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    var off = off0
    var len = len0
    // UDP-encapsulated (port 4500): 4 zero bytes distinguish IKE from ESP
    if (len >= 4 && u32(d, off) == 0L) { off += 4; len -= 4 }
    if (len < 28) return null
    if (u8(d, off + 17) != 0x20) return null // version 2.0
    val ex = u8(d, off + 18)
    val name = ikeExchangeNames.getOrElse(ex, return null)
    protos += "isakmp"
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < 8) { sb.append(hex2(d(off + i) & 0xff)); i += 1 }
    v("isakmp.ispi") = sb.toString
    val sb2 = new java.lang.StringBuilder(16)
    i = 0
    while (i < 8) { sb2.append(hex2(d(off + 8 + i) & 0xff)); i += 1 }
    v("isakmp.rspi") = sb2.toString
    v("isakmp.exchangetype") = ex.toLong
    v("isakmp.messageid") = u32(d, off + 20)
    v("isakmp.length") = u32(d, off + 24)
    s"$name MID=${u32(d, off + 20)}"
  }

  /** L2TPv2 (RFC 2661, UDP 1701): version-2 header, control/data bit,
    * tunnel/session ids (offsets shift with the L bit). */
  private def dissectL2tp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6) return null
    val flags = u16(d, off)
    if ((flags & 0x000f) != 2) return null // version 2
    val isControl = (flags & 0x8000) != 0
    val hasLen = (flags & 0x4000) != 0
    var p = off + 2
    if (hasLen) p += 2
    if (p + 4 > off + len) return null
    protos += "l2tp"
    val tunnel = u16(d, p)
    val session = u16(d, p + 2)
    v("l2tp.type") = (if (isControl) 1L else 0L)
    v("l2tp.tunnel") = tunnel.toLong
    v("l2tp.session") = session.toLong
    val kind = if (isControl) "Control Message" else "Data Message"
    s"$kind - Tunnel $tunnel Session $session"
  }

  private lazy val tdsTypeNames: Map[Int, String] = Map(
    1 -> "SQL batch", 2 -> "Pre-TDS7 Login", 3 -> "Remote Procedure Call",
    4 -> "Response", 6 -> "Attention Signal", 7 -> "Bulk Load",
    14 -> "Transaction Manager Request", 17 -> "SSPI Message",
    18 -> "Pre-Login Message")

  /** TDS (MS-TDS, TCP 1433): 8-byte packet header — type, status,
    * big-endian length. */
  private def dissectTds(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val tpe = u8(d, off)
    val name = tdsTypeNames.getOrElse(tpe, return null)
    val plen = u16(d, off + 2)
    if (plen < 8) return null
    protos += "tds"
    v("tds.type") = tpe.toLong
    v("tds.length") = plen.toLong
    name
  }

  private lazy val amqpFrameNames: Map[Int, String] = Map(
    1 -> "Method", 2 -> "Content header", 3 -> "Content body", 8 -> "Heartbeat")

  private lazy val amqpMethodNames: Map[(Int, Int), String] = Map(
    (10, 10) -> "Connection.Start", (10, 11) -> "Connection.Start-Ok",
    (10, 30) -> "Connection.Tune", (10, 31) -> "Connection.Tune-Ok",
    (10, 40) -> "Connection.Open", (10, 41) -> "Connection.Open-Ok",
    (10, 50) -> "Connection.Close", (10, 51) -> "Connection.Close-Ok",
    (20, 10) -> "Channel.Open", (20, 11) -> "Channel.Open-Ok",
    (20, 40) -> "Channel.Close", (20, 41) -> "Channel.Close-Ok",
    (40, 10) -> "Exchange.Declare", (40, 11) -> "Exchange.Declare-Ok",
    (50, 10) -> "Queue.Declare", (50, 11) -> "Queue.Declare-Ok",
    (50, 20) -> "Queue.Bind", (50, 21) -> "Queue.Bind-Ok",
    (60, 10) -> "Basic.Qos", (60, 20) -> "Basic.Consume",
    (60, 40) -> "Basic.Publish", (60, 60) -> "Basic.Deliver",
    (60, 70) -> "Basic.Get", (60, 80) -> "Basic.Ack")

  /** AMQP 0-9-1 (TCP 5672): the protocol-header handshake or a typed
    * frame (type, channel, 32-bit size, 0xCE frame-end). */
  private def dissectAmqp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len >= 8 && d(off) == 'A' && d(off + 1) == 'M' && d(off + 2) == 'Q' &&
      d(off + 3) == 'P' && u8(d, off + 4) == 0) {
      protos += "amqp"
      val maj = u8(d, off + 5)
      val min = u8(d, off + 6)
      val rev = u8(d, off + 7)
      return s"Protocol-Header $maj-$min-$rev"
    }
    if (len < 8) return null
    val tpe = u8(d, off)
    val name = amqpFrameNames.getOrElse(tpe, return null)
    val size = u32(d, off + 3) // type(1) channel(2) size(4) payload end(1)
    // frame-end octet must be 0xCE when the frame closes in this segment
    val endAt = off + 7 + size.toInt
    if (size > (1 << 20) || (endAt < off + len && u8(d, endAt) != 0xce)) return null
    protos += "amqp"
    v("amqp.type") = tpe.toLong
    v("amqp.channel") = u16(d, off + 1).toLong
    v("amqp.length") = size
    // Method frames (type 1) lead with class-id + method-id (AMQP 0-9-1
    // §2.3.5.1) — the dispatch pair that names the operation
    if (tpe == 1 && size >= 4 && off + 11 <= off + len) {
      val classId = u16(d, off + 7)
      val methodId = u16(d, off + 9)
      v("amqp.method.class.id") = classId.toLong
      v("amqp.method.method.id") = methodId.toLong
      return s"Method ${amqpMethodNames.getOrElse((classId, methodId), s"$classId.$methodId")}"
    }
    name
  }

  private lazy val pgsqlTypeNames: Map[Char, String] = Map(
    'Q' -> "Simple query", 'P' -> "Parse", 'B' -> "Bind", 'E' -> "Execute",
    'D' -> "Data row", 'T' -> "Row description", 'C' -> "Command completion",
    'R' -> "Authentication request", 'S' -> "Parameter status",
    'Z' -> "Ready for query", 'X' -> "Termination", 'p' -> "Password message")

  /** PostgreSQL wire protocol (TCP 5432): the untagged v3 startup message
    * or a tagged message (type char + 32-bit length). */
  private def dissectPgsql(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    // startup: int32 length, int32 protocol 3.0 (0x00030000)
    if (len >= 8 && u32(d, off + 4) == 0x00030000L && u32(d, off) <= 10000) {
      protos += "pgsql"
      v("pgsql.type") = "Startup message"
      v("pgsql.length") = u32(d, off)
      return "Startup message"
    }
    val c = u8(d, off).toChar
    val name = pgsqlTypeNames.getOrElse(c, return null)
    val mlen = u32(d, off + 1)
    if (mlen < 4 || mlen > (1 << 24)) return null
    protos += "pgsql"
    v("pgsql.type") = name
    v("pgsql.length") = mlen
    name
  }

  private lazy val mysqlCommandNames: Map[Int, String] = Map(
    0 -> "Sleep", 1 -> "Quit", 2 -> "Init DB", 3 -> "Query",
    4 -> "Field List", 5 -> "Create DB", 6 -> "Drop DB", 7 -> "Refresh",
    8 -> "Shutdown", 9 -> "Statistics", 12 -> "Process Kill",
    14 -> "Ping", 22 -> "Prepare Statement", 23 -> "Execute Statement",
    25 -> "Close Statement")

  /** MySQL (TCP 3306): 3-byte LE length + sequence packets. The server
    * greeting (protocol 10) exposes the version string; client command
    * packets name their command. */
  private def dissectMysql(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    val plen = u8(d, off) | (u8(d, off + 1) << 8) | (u8(d, off + 2) << 16)
    if (plen == 0 || plen + 4 > len + 1024) return null // wild framing
    val seq = u8(d, off + 3)
    if (fromServer && seq == 0 && u8(d, off + 4) == 10) {
      // greeting: protocol version 10, then NUL-terminated version string
      var i = off + 5
      val end = math.min(off + len, off + 5 + 64)
      val v0 = i
      while (i < end && d(i) != 0) i += 1
      if (i >= end) return null
      protos += "mysql"
      val ver = new String(d, v0, i - v0, "ISO-8859-1")
      v("mysql.packet_length") = plen.toLong
      v("mysql.packet_number") = seq.toLong
      v("mysql.version") = ver
      s"Server Greeting proto=10 version=$ver"
    } else if (!fromServer && seq == 0 && plen >= 1) {
      val cmd = u8(d, off + 4)
      val name = mysqlCommandNames.getOrElse(cmd, return null)
      protos += "mysql"
      v("mysql.packet_length") = plen.toLong
      v("mysql.packet_number") = seq.toLong
      v("mysql.command") = cmd.toLong
      s"Request $name"
    } else null
  }

  private lazy val redisCommandRe = "\\A\\*\\d+\r\n\\$\\d+\r\n([A-Za-z]+)\r\n".r

  private lazy val iscsiOpcodeNames: Map[Int, String] = Map(
    0x00 -> "NOP Out", 0x01 -> "SCSI Command", 0x02 -> "Task Management Function",
    0x03 -> "Login Command", 0x04 -> "Text Command", 0x05 -> "SCSI Data Out",
    0x06 -> "Logout Command", 0x20 -> "NOP In", 0x21 -> "SCSI Response",
    0x22 -> "Task Management Function Response", 0x23 -> "Login Response",
    0x24 -> "Text Response", 0x25 -> "SCSI Data In", 0x26 -> "Logout Response",
    0x31 -> "Ready To Transfer", 0x32 -> "Asynchronous Message", 0x3f -> "Reject")

  /** iSCSI (RFC 7143, TCP 3260): the 48-byte Basic Header Segment —
    * opcode (low 6 bits), flags octet, 24-bit DataSegmentLength,
    * InitiatorTaskTag, CmdSN. */
  private def dissectIscsi(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 48) return null
    val op = u8(d, off) & 0x3f
    if (!iscsiOpcodeNames.contains(op)) return null
    protos += "iscsi"
    v("iscsi.opcode") = op.toLong
    v("iscsi.flags") = u8(d, off + 1).toLong
    v("iscsi.datasegmentlength") = u24(d, off + 5).toLong
    v("iscsi.initiatortasktag") = u32(d, off + 16)
    v("iscsi.cmdsn") = u32(d, off + 24)
    // a SCSI Command BHS carries the 8-byte LUN at bytes 8-15 and opens
    // the SCSI task layer (first-level addressing in the top 16 bits)
    if (op == 0x01) {
      protos += "scsi"
      v("scsi.lun") = u16(d, off + 8).toLong
    }
    iscsiOpcodeNames(op)
  }

  private lazy val llrpTypeNames: Map[Int, String] = Map(
    1 -> "GET_READER_CAPABILITIES", 3 -> "GET_READER_CONFIG",
    20 -> "ADD_ROSPEC", 21 -> "DELETE_ROSPEC", 22 -> "START_ROSPEC",
    61 -> "RO_ACCESS_REPORT", 62 -> "KEEPALIVE", 63 -> "READER_EVENT_NOTIFICATION")

  /** LLRP (EPCglobal Low-Level Reader Protocol, TCP 5084): 10-byte
    * header — reserved(3)+version(3)+type(10), u32 message length,
    * u32 message id. */
  private def dissectLlrp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 10) return null
    val h = u16(d, off)
    val ver = (h >> 10) & 0x7
    val typ = h & 0x3ff
    if (ver < 1 || ver > 2) return null
    val mlen = u32(d, off + 2)
    if (mlen < 10) return null
    protos += "llrp"
    v("llrp.version") = ver.toLong
    v("llrp.type") = typ.toLong
    v("llrp.id") = u32(d, off + 6)
    llrpTypeNames.getOrElse(typ, s"LLRP message ($typ)")
  }

  private lazy val openvpnOpcodeNames: Map[Int, String] = Map(
    1 -> "P_CONTROL_HARD_RESET_CLIENT_V1", 2 -> "P_CONTROL_HARD_RESET_SERVER_V1",
    3 -> "P_CONTROL_SOFT_RESET_V1", 4 -> "P_CONTROL_V1", 5 -> "P_ACK_V1",
    6 -> "P_DATA_V1", 7 -> "P_CONTROL_HARD_RESET_CLIENT_V2",
    8 -> "P_CONTROL_HARD_RESET_SERVER_V2", 9 -> "P_DATA_V2",
    10 -> "P_CONTROL_HARD_RESET_CLIENT_V3", 11 -> "P_CONTROL_WKC_V1")

  /** Minimal bencode walker for KRPC (BitTorrent DHT): scans the
    * TOP-LEVEL dict for the `y` (message kind) and `q` (query name)
    * string values, skipping nested values with a recursive
    * depth-capped cursor. Returns the info string, or null when the
    * bytes are not a well-formed bencoded dict. */
  private def dissectBtDht(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    // returns the index after the value at `i`, or -1 on malformed input
    def skipValue(i: Int, depth: Int): Int = {
      if (i >= end || depth > 8) return -1
      d(i) match {
        case 'i' =>
          var j = i + 1
          while (j < end && d(j) != 'e') j += 1
          if (j >= end) -1 else j + 1
        case 'l' | 'd' =>
          var j = i + 1
          while (j < end && d(j) != 'e') {
            j = skipValue(j, depth + 1)
            if (j < 0) return -1
          }
          if (j >= end) -1 else j + 1
        case c if c >= '0' && c <= '9' =>
          var j = i
          var len = 0L
          while (j < end && d(j) >= '0' && d(j) <= '9' && len <= end.toLong) {
            len = len * 10 + (d(j) - '0'); j += 1
          }
          if (j >= end || d(j) != ':' || j + 1 + len > end) -1
          else (j + 1 + len).toInt
        case _ => -1
      }
    }
    def str(i: Int): String = { // the string value starting at i, or null
      var j = i
      var len = 0L
      while (j < end && d(j) >= '0' && d(j) <= '9' && len <= 256) {
        len = len * 10 + (d(j) - '0'); j += 1
      }
      if (j >= end || d(j) != ':' || len > 256 || j + 1 + len > end) null
      else new String(d, j + 1, len.toInt, java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    if (d(off) != 'd') return null
    var i = off + 1
    var y: String = null
    var q: String = null
    var nodeId: String = null
    var firstInt = Long.MinValue
    // nested walk for the argument/response dict: the 20-byte "id" value
    // hex-rendered is the querying node's DHT id
    def findId(at: Int): Unit = {
      if (at >= end || d(at) != 'd') return
      var j = at + 1
      while (j < end && d(j) != 'e') {
        val k = str(j)
        val av = skipValue(j, 1)
        if (k == null || av < 0 || av >= end) return
        if (k == "id" && nodeId == null) {
          val idv = str(av)
          if (idv != null && idv.length == 20)
            nodeId = idv.map(c => f"${c.toInt & 0xff}%02x").mkString
        }
        if (d(av) == 'i' && firstInt == Long.MinValue) {
          var e2 = av + 1
          var x = 0L
          var neg = false
          if (e2 < end && d(e2) == '-') { neg = true; e2 += 1 }
          while (e2 < end && d(e2) >= '0' && d(e2) <= '9') {
            x = x * 10 + (d(e2) - '0'); e2 += 1
          }
          if (e2 < end && d(e2) == 'e') firstInt = if (neg) -x else x
        }
        j = skipValue(av, 1)
        if (j < 0) return
      }
    }
    while (i < end && d(i) != 'e') {
      val key = str(i)
      val afterKey = skipValue(i, 0)
      if (key == null || afterKey < 0 || afterKey >= end) return null
      if (key == "y") y = str(afterKey)
      if (key == "q") q = str(afterKey)
      if (key == "a" || key == "r") findId(afterKey)
      i = skipValue(afterKey, 0)
      if (i < 0) return null
    }
    if (i >= end || y == null) return null
    protos += "bt-dht"
    // the KRPC body IS a bencoded dictionary — surface the content layer
    protos += "bencode"
    if (q != null) { v("bt-dht.bencoded.string") = q; v("bencode.str") = q }
    if (nodeId != null) v("bt-dht.id") = nodeId
    if (firstInt != Long.MinValue) v("bencode.int") = firstInt
    y match {
      case "q" => s"DHT Query ${if (q != null) q else "?"}"
      case "r" => "DHT Response"
      case "e" => "DHT Error"
      case _   => return null
    }
  }

  private lazy val openflowTypeNames: Map[Int, String] = Map(
    0 -> "OFPT_HELLO", 1 -> "OFPT_ERROR", 2 -> "OFPT_ECHO_REQUEST",
    3 -> "OFPT_ECHO_REPLY", 5 -> "OFPT_FEATURES_REQUEST",
    6 -> "OFPT_FEATURES_REPLY", 8 -> "OFPT_GET_CONFIG_REPLY",
    10 -> "OFPT_PACKET_IN", 13 -> "OFPT_PACKET_OUT", 14 -> "OFPT_FLOW_MOD",
    18 -> "OFPT_MULTIPART_REQUEST", 19 -> "OFPT_MULTIPART_REPLY")

  /** OpenFlow 1.3 (TCP 6653): 8-byte header — version 0x04, type,
    * length, transaction id. */
  private def dissectOpenflow(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u8(d, off) != 0x04) return null
    val typ = u8(d, off + 1)
    val mlen = u16(d, off + 2)
    if (mlen < 8) return null
    protos += "openflow_v4"
    v("openflow_v4.type") = typ.toLong
    v("openflow_v4.length") = mlen.toLong
    v("openflow_v4.xid") = u32(d, off + 4)
    openflowTypeNames.getOrElse(typ, s"OFPT ($typ)")
  }

  private lazy val bvlcFunctionNames: Map[Int, String] = Map(
    0x00 -> "BVLC-Result", 0x04 -> "Forwarded-NPDU",
    0x0a -> "Original-Unicast-NPDU", 0x0b -> "Original-Broadcast-NPDU")

  /** BACnet/IP (UDP 47808): BVLC (type 0x81) → NPDU version 1 → APDU
    * type when the NPDU control byte says one follows. */
  private def dissectBacnet(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 4 || u8(d, off) != 0x81) return null
    val fn = u8(d, off + 1)
    val name = bvlcFunctionNames.getOrElse(fn, return null)
    protos += "bvlc"
    v("bvlc.type") = 0x81L
    v("bvlc.function") = fn.toLong
    // NPDU directly after the 4-byte BVLC header for Original-* functions
    val npdu = if (fn == 0x04) off + 10 else off + 4 // Forwarded adds B/IP address
    if (npdu + 2 <= end && u8(d, npdu) == 0x01) {
      protos += "bacnet"
      val control = u8(d, npdu + 1)
      if ((control & 0x80) == 0) { // bit 7 clear: an APDU follows
        // skip DNET/DADR/SNET/SADR/hop fields per control bits
        var p = npdu + 2
        if ((control & 0x20) != 0 && p + 3 <= end) { // destination present
          val dlen = u8(d, p + 2); p += 3 + dlen
        }
        if ((control & 0x08) != 0 && p + 3 <= end) { // source present
          val slen = u8(d, p + 2); p += 3 + slen
        }
        if ((control & 0x20) != 0) p += 1 // hop count
        if (p < end) {
          protos += "bacapp"
          v("bacapp.type") = ((u8(d, p) >> 4) & 0xf).toLong
        }
      }
    }
    name
  }

  private lazy val eapCodeNames: Map[Int, String] = Map(
    1 -> "Request", 2 -> "Response", 3 -> "Success", 4 -> "Failure")
  private lazy val eapTypeNames: Map[Int, String] = Map(
    1 -> "Identity", 2 -> "Notification", 3 -> "Legacy Nak (Response Only)",
    4 -> "MD5-Challenge EAP (EAP-MD5-CHALLENGE)",
    13 -> "TLS EAP (EAP-TLS)", 21 -> "Tunneled TLS EAP (EAP-TTLS)",
    25 -> "Protected EAP (EAP-PEAP)")

  /** 802.1X EAPOL (ethertype 0x888E, IEEE 802.1X-2020 §11) and the EAP
    * packet it frames (RFC 3748 §4): version/type/length, then EAP
    * code/id/length/type. */
  private def dissectEapol(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 4) return "Malformed EAPOL"
    protos += "eapol"
    val typ = u8(d, off + 1)
    v("eapol.version") = u8(d, off).toLong
    v("eapol.type") = typ.toLong
    v("eapol.len") = u16(d, off + 2).toLong
    typ match {
      case 0 if d.length >= off + 8 => // EAP packet
        protos += "eap"
        val code = u8(d, off + 4)
        v("eap.code") = code.toLong
        v("eap.id") = u8(d, off + 5).toLong
        v("eap.len") = u16(d, off + 6).toLong
        val codeName = eapCodeNames.getOrElse(code, s"Code $code")
        if ((code == 1 || code == 2) && d.length >= off + 9) {
          val et = u8(d, off + 8)
          v("eap.type") = et.toLong
          s"$codeName, ${eapTypeNames.getOrElse(et, s"Type $et")}"
        } else codeName
      case 1 => "Start"
      case 2 => "Logoff"
      case 3 => "Key"
      case t => s"Unknown Type ($t)"
    }
  }

  /** VNC / RFB handshake (TCP 5900, RFC 6143 §7.1.1): the 12-byte
    * "RFB xxx.yyy\n" protocol-version exchange, attributed to server or
    * client by the well-known port side. */
  private def dissectVnc(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || d(off) != 'R' || d(off + 1) != 'F' || d(off + 2) != 'B' ||
      d(off + 3) != ' ' || d(off + 11) != '\n') return null
    val ver = new String(d, off + 4, 7, java.nio.charset.StandardCharsets.US_ASCII)
    if (!ver.matches("\\d{3}\\.\\d{3}")) return null
    protos += "vnc"
    if (fromServer) { v("vnc.server_proto_ver") = ver; s"Server protocol version: $ver" }
    else { v("vnc.client_proto_ver") = ver; s"Client protocol version: $ver" }
  }

  private lazy val stompCommands = Set(
    "CONNECT", "CONNECTED", "STOMP", "SEND", "SUBSCRIBE", "UNSUBSCRIBE",
    "ACK", "NACK", "BEGIN", "COMMIT", "ABORT", "DISCONNECT", "MESSAGE",
    "RECEIPT", "ERROR")

  /** STOMP 1.2 (TCP 61613): text frames — a command line, header lines,
    * a blank line, then a NUL-terminated body (stomp.github.io spec). */
  private def dissectStomp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    var e = off
    val end = off + math.min(len, 16)
    while (e < end && d(e) != '\n' && d(e) != '\r') e += 1
    if (e == off || e == off + 16) return null
    val cmd = new String(d, off, e - off, java.nio.charset.StandardCharsets.US_ASCII)
    if (!stompCommands.contains(cmd)) return null
    protos += "stomp"
    v("stomp.command") = cmd
    cmd
  }

  private lazy val p9MsgNames: Map[Int, String] = Map(
    100 -> "Tversion", 101 -> "Rversion", 102 -> "Tauth", 103 -> "Rauth",
    104 -> "Tattach", 105 -> "Rattach", 107 -> "Rerror", 108 -> "Tflush",
    109 -> "Rflush", 110 -> "Twalk", 111 -> "Rwalk", 112 -> "Topen",
    113 -> "Ropen", 114 -> "Tcreate", 115 -> "Rcreate", 116 -> "Tread",
    117 -> "Rread", 118 -> "Twrite", 119 -> "Rwrite", 120 -> "Tclunk",
    121 -> "Rclunk", 122 -> "Tremove", 123 -> "Rremove", 124 -> "Tstat",
    125 -> "Rstat", 126 -> "Twstat", 127 -> "Rwstat")

  /** Plan 9 9P2000 (TCP 564): little-endian size[4] type[1] tag[2]
    * message header (the public intro(5) manual / 9p.cat-v.org). */
  private def dissect9p(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 7) return null
    def leU16(o: Int) = (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8)
    val size = (leU16(off) | (leU16(off + 2).toLong << 16)) & 0xffffffffL
    if (size < 7 || size > 0x100000L) return null // sane 9P sizes only
    val typ = u8(d, off + 4)
    val name = p9MsgNames.getOrElse(typ, return null)
    protos += "9p"
    v("9p.msgtype") = typ.toLong
    val tag = leU16(off + 5)
    v("9p.tag") = tag.toLong
    s"$name tag=$tag"
  }

  private lazy val mgcpVerbs = Set(
    "EPCF", "CRCX", "MDCX", "DLCX", "RQNT", "NTFY", "AUEP", "AUCX", "RSIP")

  /** MGCP (UDP 2427/2727, RFC 3435 §3): a text command line
    * `VERB transid endpoint MGCP 1.0` or a response `code transid ...`. */
  private def dissectMgcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    var e = off
    val lim = off + math.min(len, 200)
    while (e < lim && d(e) != '\n' && d(e) != '\r') e += 1
    if (e == off) return null
    val line = new String(d, off, e - off, java.nio.charset.StandardCharsets.US_ASCII)
    val parts = line.split(" ")
    if (parts.length < 2) return null
    if (mgcpVerbs.contains(parts(0))) {
      protos += "mgcp"
      v("mgcp.req.verb") = parts(0)
      v("mgcp.transid") = parts(1)
      line
    } else if (parts(0).length == 3 && parts(0).forall(_.isDigit)) {
      protos += "mgcp"
      v("mgcp.rsp.rspcode") = parts(0).toLong
      v("mgcp.transid") = parts(1)
      line
    } else null
  }

  private lazy val someipMsgTypes = Map(
    0x00 -> "Request", 0x01 -> "Request no return", 0x02 -> "Notification",
    0x80 -> "Response", 0x81 -> "Error",
    0x20 -> "Request (TP)", 0x21 -> "Request no return (TP)",
    0x22 -> "Notification (TP)", 0xa0 -> "Response (TP)", 0xa1 -> "Error (TP)")

  /** SOME/IP (AUTOSAR PRS_SOMEIP, UDP 30490/30509): 16-byte header —
    * Message ID (service:method), big-endian length covering everything
    * after it (≥ 8 for the request id + versions), Request ID
    * (client:session), protocol version (always 1), interface version,
    * message type, return code. */
  private def dissectSomeip(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    val length = u32(d, off + 4)
    if (length < 8 || length > 0xFFFFFFL) return null
    if (u8(d, off + 12) != 1) return null // protocol version is fixed at 1
    val mt = u8(d, off + 14)
    val name = someipMsgTypes.getOrElse(mt, return null)
    protos += "someip"
    val service = u16(d, off)
    val method = u16(d, off + 2)
    v("someip.serviceid") = service.toLong
    v("someip.methodid") = method.toLong
    v("someip.length") = length
    v("someip.clientid") = u16(d, off + 8).toLong
    v("someip.sessionid") = u16(d, off + 10).toLong
    v("someip.messagetype") = mt.toLong
    v("someip.returncode") = u8(d, off + 15).toLong
    f"$name Service 0x$service%04x Method 0x$method%04x"
  }

  private lazy val doipPayloadTypes = Map(
    0x0000 -> "Generic DoIP header NACK",
    0x0001 -> "Vehicle identification request",
    0x0002 -> "Vehicle identification request (EID)",
    0x0003 -> "Vehicle identification request (VIN)",
    0x0004 -> "Vehicle announcement message",
    0x0005 -> "Routing activation request",
    0x0006 -> "Routing activation response",
    0x0007 -> "Alive check request",
    0x0008 -> "Alive check response",
    0x4001 -> "DoIP entity status request",
    0x4002 -> "DoIP entity status response",
    0x4003 -> "Diagnostic power mode information request",
    0x4004 -> "Diagnostic power mode information response",
    0x8001 -> "Diagnostic message",
    0x8002 -> "Diagnostic message ACK",
    0x8003 -> "Diagnostic message NACK")

  /** DoIP (ISO 13400-2, TCP/UDP 13400): 8-byte generic header — protocol
    * version, its ones-complement inverse, payload type, payload length. */
  private def dissectDoip(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val ver = u8(d, off)
    if (ver < 1 || ver > 3) return null
    if (u8(d, off + 1) != (~ver & 0xff)) return null
    val ptype = u16(d, off + 2)
    val name = doipPayloadTypes.getOrElse(ptype, return null)
    protos += "doip"
    v("doip.version") = ver.toLong
    v("doip.type") = ptype.toLong
    v("doip.length") = u32(d, off + 4)
    // diagnostic message (0x8001): source/target addresses then the UDS
    // service — the automotive diagnostics layer DoIP exists to carry
    if (ptype == 0x8001 && len >= 8 + 4 + 2) {
      protos += "uds"
      val sid = u8(d, off + 12)
      v("uds.sid") = sid.toLong
      v("uds.subfunction") = u8(d, off + 13).toLong
      val sname = sid match {
        case 0x10 => "DiagnosticSessionControl"
        case 0x22 => "ReadDataByIdentifier"
        case 0x27 => "SecurityAccess"
        case 0x3E => "TesterPresent"
        case s => f"UDS 0x$s%02x"
      }
      return s"UDS $sname"
    }
    name
  }

  private lazy val gtpv2MsgNames = Map(
    1 -> "Echo Request", 2 -> "Echo Response",
    3 -> "Version Not Supported Indication",
    32 -> "Create Session Request", 33 -> "Create Session Response",
    34 -> "Modify Bearer Request", 35 -> "Modify Bearer Response",
    36 -> "Delete Session Request", 37 -> "Delete Session Response",
    95 -> "Create Bearer Request", 96 -> "Create Bearer Response",
    97 -> "Update Bearer Request", 98 -> "Update Bearer Response",
    99 -> "Delete Bearer Request", 100 -> "Delete Bearer Response",
    170 -> "Release Access Bearers Request",
    171 -> "Release Access Bearers Response",
    176 -> "Downlink Data Notification",
    177 -> "Downlink Data Notification Acknowledge")

  /** GTPv2-C (3GPP TS 29.274 §5.1, UDP 2123): flags (version 2 in bits
    * 7-5, T = TEID-present bit 3), message type, length, optional TEID,
    * 24-bit sequence number. */
  private def dissectGtpv2(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val flags = u8(d, off)
    if ((flags >> 5) != 2) return null
    val hasTeid = (flags & 0x08) != 0
    if (hasTeid && len < 12) return null
    val mt = u8(d, off + 1)
    val name = gtpv2MsgNames.getOrElse(mt, return null)
    protos += "gtpv2"
    v("gtpv2.flags") = flags.toLong
    v("gtpv2.message_type") = mt.toLong
    v("gtpv2.len") = u16(d, off + 2).toLong
    var p = off + 4
    if (hasTeid) {
      v("gtpv2.teid") = u32(d, p)
      p += 4
    }
    val seq = (u8(d, p) << 16) | (u8(d, p + 1) << 8) | u8(d, p + 2)
    v("gtpv2.seq") = seq.toLong
    name
  }

  private lazy val pfcpMsgNames = Map(
    1 -> "Heartbeat Request", 2 -> "Heartbeat Response",
    3 -> "PFD Management Request", 4 -> "PFD Management Response",
    5 -> "Association Setup Request", 6 -> "Association Setup Response",
    7 -> "Association Update Request", 8 -> "Association Update Response",
    9 -> "Association Release Request", 10 -> "Association Release Response",
    11 -> "Version Not Supported Response",
    12 -> "Node Report Request", 13 -> "Node Report Response",
    14 -> "Session Set Deletion Request", 15 -> "Session Set Deletion Response",
    50 -> "Session Establishment Request", 51 -> "Session Establishment Response",
    52 -> "Session Modification Request", 53 -> "Session Modification Response",
    54 -> "Session Deletion Request", 55 -> "Session Deletion Response",
    56 -> "Session Report Request", 57 -> "Session Report Response")

  /** PFCP (3GPP TS 29.244 §7.2, UDP 8805): flags (version 1 in bits 7-5,
    * S = SEID-present bit 0), message type, length, optional 64-bit SEID,
    * 24-bit sequence number. */
  private def dissectPfcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val flags = u8(d, off)
    if ((flags >> 5) != 1) return null
    val hasSeid = (flags & 0x01) != 0
    if (hasSeid && len < 16) return null
    val mt = u8(d, off + 1)
    val name = pfcpMsgNames.getOrElse(mt, return null)
    protos += "pfcp"
    v("pfcp.flags") = flags.toLong
    v("pfcp.msg_type") = mt.toLong
    v("pfcp.length") = u16(d, off + 2).toLong
    var p = off + 4
    if (hasSeid) {
      v("pfcp.seid") = (u32(d, p) << 32) | u32(d, p + 4)
      p += 8
    }
    val seq = (u8(d, p) << 16) | (u8(d, p + 1) << 8) | u8(d, p + 2)
    v("pfcp.seqno") = seq.toLong
    name
  }

  private lazy val natsVerbs = Set(
    "INFO", "CONNECT", "PUB", "HPUB", "SUB", "UNSUB", "MSG", "HMSG",
    "PING", "PONG", "+OK", "-ERR")

  /** NATS (TCP 4222): CRLF-delimited text operations per the public
    * protocol docs (docs.nats.io/reference/reference-protocols/nats-protocol):
    * verb [subject ...] with the payload byte count last on PUB/MSG. */
  private def dissectNats(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    var e = off
    val lim = off + math.min(len, 200)
    while (e < lim && d(e) != '\r' && d(e) != '\n') e += 1
    // a full 200-byte window with no line break is not a NATS control line
    if (e == lim && len > 200) return null
    val line = new String(d, off, e - off, java.nio.charset.StandardCharsets.US_ASCII)
    val parts = line.split(" ").filter(_.nonEmpty)
    if (parts.isEmpty) return null
    val verb = parts(0).toUpperCase(java.util.Locale.ROOT)
    if (!natsVerbs.contains(verb)) return null
    protos += "nats"
    v("nats.type") = verb
    verb match {
      case "PUB" | "HPUB" if parts.length >= 3 =>
        v("nats.subject") = parts(1)
        val last = parts(parts.length - 1)
        if (last.forall(_.isDigit) && last.length <= 9)
          v("nats.payload_length") = last.toLong
      case "MSG" | "HMSG" if parts.length >= 4 =>
        v("nats.subject") = parts(1)
        val last = parts(parts.length - 1)
        if (last.forall(_.isDigit) && last.length <= 9)
          v("nats.payload_length") = last.toLong
      case "SUB" if parts.length >= 3 =>
        v("nats.subject") = parts(1)
      case _ =>
    }
    if (line.length <= 60) line else line.substring(0, 60)
  }

  private lazy val dicomPduNames = Map(
    1 -> "A-ASSOCIATE-RQ", 2 -> "A-ASSOCIATE-AC", 3 -> "A-ASSOCIATE-RJ",
    4 -> "P-DATA-TF", 5 -> "A-RELEASE-RQ", 6 -> "A-RELEASE-RP", 7 -> "A-ABORT")

  /** DICOM upper layer (TCP 104/11112, PS3.8 §9): PDU type, reserved,
    * big-endian length; associate PDUs carry the protocol version and the
    * 16-byte called/calling AE titles, P-DATA-TF the first PDV's
    * presentation-context id. */
  private def dissectDicom(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6) return null
    val typ = u8(d, off)
    val name = dicomPduNames.getOrElse(typ, return null)
    if (u8(d, off + 1) != 0) return null // reserved byte is always zero
    val plen = u32(d, off + 2)
    if (plen < 4 || plen > 0x1000000L) return null
    protos += "dicom"
    v("dicom.pdu.type") = typ.toLong
    v("dicom.pdu.len") = plen
    if ((typ == 1 || typ == 2) && len >= 6 + 4 + 32) {
      def ae(o: Int): String = {
        val s = new String(d, o, 16, java.nio.charset.StandardCharsets.US_ASCII).trim
        if (s.nonEmpty && s.forall(c => c >= ' ' && c < 127)) s else ""
      }
      val called = ae(off + 10)
      val calling = ae(off + 26)
      if (calling.nonEmpty || called.nonEmpty)
        return s"$name $calling → $called"
    }
    if (typ == 4 && len >= 6 + 5) {
      v("dicom.pdv.ctx") = u8(d, off + 10).toLong
    }
    name
  }

  /** ISO 8583-1 over TCP (conventional port 8583): 2-byte big-endian
    * length prefix, 4-digit ASCII message type indicator, 8-byte primary
    * bitmap (public field layout, e.g. the ISO 8583 Wikipedia article). */
  private def dissectIso8583(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 14) return null
    val mlen = u16(d, off)
    if (mlen < 12 || mlen > 4096) return null
    var i = off + 2
    val mtiEnd = i + 4
    while (i < mtiEnd) {
      if (d(i) < '0' || d(i) > '9') return null
      i += 1
    }
    val mti = new String(d, off + 2, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // version digit 0-2 and class digit 1-8 cover every published message
    if (mti(0) > '2' || mti(1) == '0' || mti(1) > '8') return null
    protos += "iso8583"
    v("iso8583.len") = mlen.toLong
    v("iso8583.mti") = mti
    s"MTI $mti"
  }

  private lazy val bitcoinMagics =
    Set(0xD9B4BEF9L, 0x0709110BL, 0xDAB5BFFAL, 0x40CF030AL) // main/test3/regtest/signet

  /** Bitcoin P2P (TCP 8333): 24-byte message header — LE network magic,
    * 12-byte NUL-padded ASCII command, LE payload length, checksum —
    * per the public protocol documentation (en.bitcoin.it/wiki/Protocol). */
  private def dissectBitcoin(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 24) return null
    val magic = ((d(off) & 0xffL)) | ((d(off + 1) & 0xffL) << 8) |
      ((d(off + 2) & 0xffL) << 16) | ((d(off + 3) & 0xffL) << 24)
    if (!bitcoinMagics.contains(magic)) return null
    var i = off + 4
    val cmdEnd = off + 16
    while (i < cmdEnd && d(i) != 0) {
      val c = d(i) & 0xff
      if (c < 'a' || c > 'z') return null // command is lowercase ASCII
      i += 1
    }
    if (i == off + 4) return null
    protos += "bitcoin"
    v("bitcoin.magic") = magic
    val cmd = new String(d, off + 4, i - (off + 4),
      java.nio.charset.StandardCharsets.US_ASCII)
    v("bitcoin.command") = cmd
    v("bitcoin.length") = ((d(off + 16) & 0xffL)) | ((d(off + 17) & 0xffL) << 8) |
      ((d(off + 18) & 0xffL) << 16) | ((d(off + 19) & 0xffL) << 24)
    s"$cmd message"
  }

  // ------------------------------------------------------------------
  // Tier 30: RTPS / ZMTP / SoupBinTCP / MoldUDP64 / Zabbix / SRT +
  // the classic text trio finger/gopher/ident — all from public wire
  // formats (OMG DDSI-RTPS 2.3 §9.4.1, zmq.org RFC 23/ZMTP 3.0,
  // NASDAQ SoupBinTCP 3.0 / MoldUDP64 1.0 specs, Zabbix header docs,
  // SRT RFC 9212-draft header layout, RFC 1288/1413 and RFC 1436).
  // ------------------------------------------------------------------

  /** RTPS (UDP 7400-7420 discovery/user traffic): magic "RTPS", protocol
    * version, vendor id, 12-byte GUID prefix (DDSI-RTPS §9.4.1). The
    * domain id is recovered from the well-known port mapping
    * PB=7400 + DG=250·domainId (§9.6.1.1). */
  private def dissectRtps(
      d: Array[Byte], off: Int, len: Int, rtpsPort: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20) return null
    if (d(off) != 'R' || d(off + 1) != 'T' || d(off + 2) != 'P' || d(off + 3) != 'S')
      return null
    val vMaj = u8(d, off + 4); val vMin = u8(d, off + 5)
    if (vMaj != 2) return null
    protos += "rtps"
    v("rtps.magic") = "RTPS"
    v("rtps.version.major") = vMaj.toLong
    v("rtps.version.minor") = vMin.toLong
    v("rtps.vendorId") = u16(d, off + 6).toLong
    // only a port inside the §9.6.1.1 discovery range encodes a domain
    if (rtpsPort >= 7400 && rtpsPort < 7900)
      v("rtps.domain_id") = ((rtpsPort - 7400) / 250).toLong
    v("rtps.guid_prefix") = hexBytes(d, off + 8, 12)
    // first submessage header (id, flags, u16 length) follows the 20-byte
    // RTPS header — DDS spec §9.4.5.1
    if (len >= 24) v("rtps.sm.id") = u8(d, off + 20).toLong
    s"RTPS $vMaj.$vMin"
  }

  /** ZMTP 3.x (TCP 5555): either the 64-byte greeting (signature
    * ff …padding… 7f, version, 20-byte mechanism — ZMTP RFC §greeting)
    * or a traffic frame (flags byte: MORE=1, LONG=2, COMMAND=4; then a
    * 1- or 8-byte length and the body, commands carrying a
    * length-prefixed name like READY). */
  private def dissectZmtp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 2) return null
    val b0 = u8(d, off)
    if (b0 == 0xff && len >= 12 && u8(d, off + 9) == 0x7f) {
      protos += "zmtp"
      v("zmtp.flags") = 0xffL
      val maj = if (len > 10) u8(d, off + 10) else 0
      var mech = ""
      if (len >= 33) {
        var e = off + 12
        val lim = math.min(off + 32, off + len)
        while (e < lim && d(e) != 0) e += 1
        mech = new String(d, off + 12, e - (off + 12),
          java.nio.charset.StandardCharsets.US_ASCII)
      }
      if (mech.nonEmpty) v("zmtp.mechanism") = mech
      return if (mech.nonEmpty) s"Greeting v$maj, mechanism $mech"
      else s"Greeting v$maj"
    }
    if ((b0 & ~0x07) != 0) return null // flags byte: only 3 low bits defined
    val long = (b0 & 0x02) != 0
    val hdr = if (long) 9 else 2
    if (len < hdr) return null
    val fLen: Long =
      if (long) {
        var n = 0L
        var i = 0
        while (i < 8) { n = (n << 8) | (d(off + 1 + i) & 0xffL); i += 1 }
        n
      } else u8(d, off + 1).toLong
    if (fLen > 256 * 1024 * 1024) return null
    protos += "zmtp"
    v("zmtp.flags") = b0.toLong
    v("zmtp.length") = fLen
    if ((b0 & 0x04) != 0 && len > hdr) {
      // command frame: body starts with a length-prefixed command name
      val nameLen = u8(d, off + hdr)
      if (nameLen > 0 && hdr + 1 + nameLen <= len) {
        val name = new String(d, off + hdr + 1, nameLen,
          java.nio.charset.StandardCharsets.US_ASCII)
        if (name.forall(c => c >= 'A' && c <= 'Z')) {
          v("zmtp.command.name") = name
          return s"Command $name"
        }
      }
      s"Command frame, len $fLen"
    } else s"${if ((b0 & 1) != 0) "Message frame (more)" else "Message frame"}, len $fLen"
  }

  private lazy val soupTypes = Map(
    'L' -> "Login Request", 'A' -> "Login Accepted", 'J' -> "Login Rejected",
    'S' -> "Sequenced Data", 'U' -> "Unsequenced Data", 'H' -> "Server Heartbeat",
    'R' -> "Client Heartbeat", 'O' -> "Logout Request", '+' -> "Debug",
    'Z' -> "End of Session")

  /** SoupBinTCP 3.0 (TCP 21001 by local convention — the spec assigns no
    * IANA port): u16 big-endian payload length (type byte included) +
    * 1-char packet type (NASDAQ SoupBinTCP 3.00b spec §2). */
  private def dissectSoupbin(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3) return null
    val plen = u16(d, off)
    val typ = (d(off + 2) & 0xff).toChar
    val name = soupTypes.getOrElse(typ, return null)
    if (plen < 1 || plen > len - 2) return null
    protos += "soupbintcp"
    v("soupbintcp.packet_length") = plen.toLong
    v("soupbintcp.packet_type") = typ.toString
    // SoupBinTCP 3.00b payload layouts: Login Accepted = session(10) +
    // sequence(20); Login Request = username(6) + password(10) +
    // session(10) + sequence(20). All space-padded ASCII.
    def padded(at: Int, n: Int): String =
      if (off + at + n <= off + 2 + plen + 1 && off + at + n <= off + len)
        new String(d, off + at, n, java.nio.charset.StandardCharsets.US_ASCII).trim
      else null
    if (typ == 'A') {
      val sess = padded(3, 10)
      if (sess != null && sess.nonEmpty) v("soupbintcp.session") = sess
    } else if (typ == 'L') {
      val user = padded(3, 6)
      if (user != null && user.nonEmpty) v("soupbintcp.username") = user
      val sess = padded(19, 10)
      if (sess != null && sess.nonEmpty) v("soupbintcp.session") = sess
    }
    name
  }

  /** MoldUDP64 1.0 (UDP 30001 by local convention): 10-byte ASCII
    * session, u64 big-endian first sequence number, u16 message count
    * (NASDAQ MoldUDP64 1.00 spec). count 0xFFFF = end-of-session. */
  private def dissectMoldudp64(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20) return null
    var i = off
    while (i < off + 10) {
      val c = d(i) & 0xff
      if (c < 0x20 || c > 0x7e) return null // session is printable ASCII
      i += 1
    }
    var seq = 0L
    i = 0
    while (i < 8) { seq = (seq << 8) | (d(off + 10 + i) & 0xffL); i += 1 }
    val count = u16(d, off + 18)
    protos += "moldudp64"
    v("moldudp64.session") = new String(d, off, 10,
      java.nio.charset.StandardCharsets.US_ASCII).trim
    v("moldudp64.sequence") = seq
    v("moldudp64.count") = count.toLong
    // first message block: u16 length prefix (MoldUDP64 1.00 §data)
    if (count >= 1 && count != 0xffff && len >= 22)
      v("moldudp64.msgblk.size") = u16(d, off + 20).toLong
    if (count == 0xffff) "End of Session"
    else if (count == 0) s"Heartbeat, seq $seq"
    else s"$count message(s), seq $seq"
  }

  /** Zabbix protocol (TCP 10051): "ZBXD" + flags byte (0x01 = Zabbix
    * communications, 0x02 = compressed) + u32 little-endian data length
    * + u32 reserved, then the JSON body (Zabbix header docs). */
  private def dissectZabbix(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 13) return null
    if (d(off) != 'Z' || d(off + 1) != 'B' || d(off + 2) != 'X' || d(off + 3) != 'D')
      return null
    val flags = u8(d, off + 4)
    if ((flags & ~0x03) != 0 || flags == 0) return null
    val dlen = ((d(off + 5) & 0xffL)) | ((d(off + 6) & 0xffL) << 8) |
      ((d(off + 7) & 0xffL) << 16) | ((d(off + 8) & 0xffL) << 24)
    protos += "zabbix"
    v("zabbix.flags") = flags.toLong
    v("zabbix.len") = dlen
    // uncompressed body is the JSON request — surface its head (64 chars)
    if ((flags & 2) == 0 && len > 13) {
      val n = math.min(math.min(dlen, (len - 13).toLong), 64L).toInt
      if (n > 0) {
        val body = new String(d, off + 13, n, "ISO-8859-1")
        if (body.forall(c => c >= 0x20 && c <= 0x7e))
          v("zabbix.data") = body
      }
    }
    s"Zabbix protocol, len $dlen${if ((flags & 2) != 0) " (compressed)" else ""}"
  }

  private lazy val srtCtrlNames = Map(
    0 -> "HANDSHAKE", 1 -> "KEEPALIVE", 2 -> "ACK", 3 -> "NAK",
    5 -> "SHUTDOWN", 6 -> "ACKACK", 7 -> "DROPREQ", 8 -> "PEERERROR")

  /** SRT (UDP 9300 by local convention): bit 7 of byte 0 distinguishes
    * control (type in the low 15 bits of the first u16) from data
    * (31-bit packet sequence number) — draft-sharabayko-srt §3. */
  private def dissectSrt(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    val ctrl = (d(off) & 0x80) != 0
    if (ctrl) {
      val typ = u16(d, off) & 0x7fff
      val name = srtCtrlNames.getOrElse(typ, return null)
      protos += "srt"
      v("srt.iscontrol") = true
      v("srt.type") = typ.toLong
      v("srt.timestamp") = u32(d, off + 8)
      v("srt.id") = u32(d, off + 12)
      s"Control: $name"
    } else {
      protos += "srt"
      v("srt.iscontrol") = false
      val seq = u32(d, off) & 0x7fffffffL
      v("srt.seqno") = seq
      v("srt.timestamp") = u32(d, off + 8)
      v("srt.id") = u32(d, off + 12)
      s"Data, seq $seq"
    }
  }

  /** One CRLF-terminated ASCII line, or null if none in the window. */
  private def asciiLine(d: Array[Byte], off: Int, len: Int, max: Int): String = {
    var e = off
    val lim = off + math.min(len, max)
    while (e < lim && d(e) != '\r' && d(e) != '\n') {
      val c = d(e) & 0xff
      if (c < 0x20 || c > 0x7e) return null
      e += 1
    }
    if (e == lim) return null // no terminator inside the window
    new String(d, off, e - off, java.nio.charset.StandardCharsets.US_ASCII)
  }

  // ------------------------------------------------------------------
  // Tier 31: git / couchbase / tns / icp / ymsg / distcc / spice / x11 —
  // all from public wire formats (git pack-protocol pkt-line, the
  // memcached binary framing couchbase speaks, Oracle TNS packet header,
  // ICP RFC 2186, the published YMSG header layout, distcc's DIST/ARGC
  // hex tokens, the SPICE link header, X11 connection setup).
  // ------------------------------------------------------------------

  /** git pack protocol (TCP 9418): 4-hex-digit pkt-line length, then the
    * line ("git-upload-pack /repo\0host=…"); "0000" is a flush-pkt. */
  private def dissectGit(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    var n = 0
    var i = 0
    while (i < 4) {
      val c = u8(d, off + i)
      val h = if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else return null
      n = (n << 4) | h
      i += 1
    }
    protos += "git"
    v("git.length") = n.toLong
    if (n == 0) return "Flush pkt"
    if (n < 4 || n > len) return s"pkt-line, len $n"
    var e = off + 4
    val lim = off + math.min(n, 4 + 120)
    while (e < lim && d(e) != 0 && d(e) != '\n') e += 1
    val line = new String(d, off + 4, e - (off + 4),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    v("git.data") = line
    line
  }

  private lazy val couchbaseOpNames = Map(
    0x00 -> "Get", 0x01 -> "Set", 0x02 -> "Add", 0x04 -> "Delete",
    0x0a -> "No-op", 0x10 -> "Stat", 0x1f -> "SASL Auth", 0x89 -> "Select Bucket")

  /** Couchbase / memcached binary framing (TCP 11210): magic 0x80
    * request / 0x81 response, opcode, key/extras lengths, body length. */
  private def dissectCouchbase(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 24) return null
    val magic = u8(d, off)
    if (magic != 0x80 && magic != 0x81) return null
    val opcode = u8(d, off + 1)
    protos += "couchbase"
    v("couchbase.magic") = magic.toLong
    v("couchbase.opcode") = opcode.toLong
    val dirn = if (magic == 0x80) "Request" else "Response"
    s"$dirn: ${couchbaseOpNames.getOrElse(opcode, f"opcode 0x$opcode%02x")}"
  }

  private lazy val tnsTypeNames = Map(
    1 -> "Connect", 2 -> "Accept", 4 -> "Refuse", 5 -> "Redirect",
    6 -> "Data", 11 -> "Resend", 12 -> "Marker", 14 -> "Abort")

  /** Oracle TNS (TCP 1521): packet length, checksum, packet type. */
  private def dissectTns(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val plen = u16(d, off)
    val typ = u8(d, off + 4)
    val name = tnsTypeNames.getOrElse(typ, return null)
    if (plen < 8) return null
    protos += "tns"
    v("tns.length") = plen.toLong
    v("tns.type") = typ.toLong
    name
  }

  private lazy val icpOpNames = Map(
    1 -> "ICP_QUERY", 2 -> "ICP_HIT", 3 -> "ICP_MISS", 4 -> "ICP_ERR",
    10 -> "ICP_SECHO", 11 -> "ICP_DECHO", 21 -> "ICP_MISS_NOFETCH",
    22 -> "ICP_DENIED")

  /** ICP (RFC 2186, UDP 3130): opcode, version, message length. */
  private def dissectIcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20) return null
    val op = u8(d, off)
    val ver = u8(d, off + 1)
    val name = icpOpNames.getOrElse(op, return null)
    if (ver != 2 && ver != 3) return null
    protos += "icp"
    v("icp.opcode") = op.toLong
    v("icp.version") = ver.toLong
    v("icp.length") = u16(d, off + 2).toLong
    v("icp.nr") = u32(d, off + 4)
    // query payload (op 1): u32 requester host then the NUL-terminated URL
    if (op == 1 && len > 20) {
      var e = off + 20
      val lim = off + len
      while (e < lim && d(e) != 0) e += 1
      if (e > off + 20) {
        val url = new String(d, off + 20, e - (off + 20), "ISO-8859-1")
        if (url.forall(c => c >= 0x20 && c <= 0x7e)) v("icp.url") = url
      }
    }
    name
  }

  /** Yahoo Messenger YMSG (TCP 5050): "YMSG" magic, version, vendor,
    * payload length, service, status, session id. */
  private def dissectYmsg(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20) return null
    if (d(off) != 'Y' || d(off + 1) != 'M' || d(off + 2) != 'S' || d(off + 3) != 'G')
      return null
    protos += "ymsg"
    val ver = u16(d, off + 4)
    val service = u16(d, off + 10)
    v("ymsg.version") = ver.toLong
    v("ymsg.service") = service.toLong
    v("ymsg.status") = u32(d, off + 12)
    v("ymsg.session_id") = u32(d, off + 16)
    s"YMSG v$ver service $service"
  }

  /** distcc (TCP 3632): 4-char token + 8 hex digits per field —
    * DIST <version>, ARGC <count>, … (the published token protocol). */
  private def dissectDistcc(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    def hex8(o: Int): Long = {
      var n = 0L
      var i = 0
      while (i < 8) {
        val c = u8(d, o + i)
        val h = if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else return -1L
        n = (n << 4) | h
        i += 1
      }
      n
    }
    val tok = new String(d, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tok != "DIST" && tok != "DONE") return null
    val ver = hex8(off + 4)
    if (ver < 0) return null
    protos += "distcc"
    v("distcc.version") = ver
    // ARGC follows DIST in a request
    if (tok == "DIST" && len >= 24 &&
        new String(d, off + 12, 4, java.nio.charset.StandardCharsets.US_ASCII) == "ARGC") {
      val argc = hex8(off + 16)
      if (argc >= 0) v("distcc.argc") = argc
    }
    s"$tok ${ver}"
  }

  /** SPICE link header (magic "REDQ", LE major/minor/size). Shares port
    * 5900 with VNC; the magic disambiguates. */
  private def dissectSpice(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6) return null
    if (d(off) != 'R' || d(off + 1) != 'E' || d(off + 2) != 'D' || d(off + 3) != 'Q') {
      // post-handshake mini data header (type LE16, size LE32) — claimed
      // only when the size covers the rest of the segment exactly
      val mt = (d(off) & 0xff) | ((d(off + 1) & 0xff) << 8)
      val msz = ((d(off + 2) & 0xffL)) | ((d(off + 3) & 0xffL) << 8) |
        ((d(off + 4) & 0xffL) << 16) | ((d(off + 5) & 0xffL) << 24)
      if (mt >= 1 && mt <= 1000 && msz == (len - 6).toLong) {
        protos += "spice"
        v("spice.message_type") = mt.toLong
        return s"Spice message type $mt"
      }
      return null
    }
    if (len < 16) return null
    protos += "spice"
    def le32(o: Int): Long = ((d(o) & 0xffL)) | ((d(o + 1) & 0xffL) << 8) |
      ((d(o + 2) & 0xffL) << 16) | ((d(o + 3) & 0xffL) << 24)
    val major = le32(off + 4)
    v("spice.magic") = "REDQ"
    v("spice.major_version") = major
    v("spice.minor_version") = le32(off + 8)
    s"Link header, protocol $major"
  }

  /** X11 (TCP 6000): the connection setup packet leads with the
    * byte-order marker 'B' (MSB) or 'l' (LSB) + protocol 11. */
  private def dissectX11(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val bo = u8(d, off)
    if (bo != 'B' && bo != 'l') {
      // a core request: opcode, data byte, LSB-first length in 4-byte
      // units — claimed only when the length covers the segment exactly
      val op = u8(d, off)
      val rlen = u8(d, off + 2) | (u8(d, off + 3) << 8)
      if (op >= 1 && op <= 127 && rlen * 4 == len) {
        protos += "x11"
        v("x11.opcode") = op.toLong
        return s"Request, opcode $op"
      }
      return null
    }
    if (len < 12) return null
    val major = if (bo == 'B') u16(d, off + 2) else u8(d, off + 2) | (u8(d, off + 3) << 8)
    if (major != 11) return null
    protos += "x11"
    s"Initial connection request (${if (bo == 'B') "MSB" else "LSB"} first)"
  }

  // ------------------------------------------------------------------
  // Tier 32: Teredo / EtherIP tunnels + AoE / MSRP / OpenWire / Zebra /
  // hpfeeds / Hadoop IPC — public wire formats (RFC 4380, RFC 3378,
  // the Brantley-Coile AoE spec, RFC 4975, ActiveMQ OpenWire framing,
  // Quagga ZServ header, the hpfeeds wire doc, Hadoop IPC "hrpc").
  // ------------------------------------------------------------------

  /** Teredo (RFC 4380, UDP 3544): optional origin indication (leading
    * 0x0000; port/address obfuscated by XOR-0xFFFF / bitwise-NOT), then
    * the tunneled IPv6 packet, which dissects like any tunnel inner. */
  private def dissectTeredo(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (len < 2) return null
    var p = off
    var hasOrigin = false
    if (u16(d, p) == 0x0000 && len >= 8) {
      hasOrigin = true
      protos += "teredo"
      v("teredo.orig.port") = (u16(d, p + 2) ^ 0xffff).toLong
      v("teredo.orig.addr") = ipv4Str(
        Array[Byte]((~d(p + 4)).toByte, (~d(p + 5)).toByte,
          (~d(p + 6)).toByte, (~d(p + 7)).toByte), 0)
      p += 8
    }
    if (p < off + len && (u8(d, p) >> 4) == 6 && off + len - p >= 40) {
      if (!hasOrigin) protos += "teredo"
      val wasNested = v.nested
      v.nested = true
      val inner =
        try dissectIpv6(d, p, v, protos, tracker, wanted)
        finally v.nested = wasNested
      if (inner != null) return inner
      return "Teredo tunneled IPv6"
    }
    if (hasOrigin) "Teredo origin indication" else null
  }

  /** EtherIP (RFC 3378, IP protocol 97): 2-byte version header (3 in the
    * high nibble) then a complete tunneled Ethernet frame. */
  private def dissectEtherip(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (end - off < 2 + 14) return null
    val ver = u8(d, off) >> 4
    if (ver != 3) return null
    protos += "etherip"
    v("etherip.ver") = ver.toLong
    val wasNested = v.nested
    v.nested = true
    val inner =
      try dissectEthFrom(d, off + 2, v, protos, tracker, wanted)
      finally v.nested = wasNested
    if (inner != null) inner else "EtherIP"
  }

  private lazy val aoeCmdNames = Map(
    0 -> "Issue ATA Command", 1 -> "Query Config Information",
    2 -> "Mac Mask List", 3 -> "Reserve/Release")

  /** ATA over Ethernet (ethertype 0x88A2): version/flags, error, shelf
    * (major) / slot (minor) address, command, tag. */
  private def dissectAoe(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 10) return null
    val verFlags = u8(d, off)
    if ((verFlags >> 4) != 1) return null
    protos += "aoe"
    v("aoe.version") = (verFlags >> 4).toLong
    v("aoe.error") = u8(d, off + 1).toLong
    v("aoe.major") = u16(d, off + 2).toLong
    v("aoe.minor") = u8(d, off + 4).toLong
    val cmd = u8(d, off + 5)
    v("aoe.cmd") = cmd.toLong
    v("aoe.tag") = u32(d, off + 6)
    aoeCmdNames.getOrElse(cmd, s"Command $cmd")
  }

  /** MSRP (RFC 4975, TCP 2855): "MSRP <txid> <method|status>" start line. */
  private def dissectMsrp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val line = asciiLine(d, off, len, 200)
    if (line == null || !line.startsWith("MSRP ")) return null
    val parts = line.split(" ")
    if (parts.length < 3) return null
    protos += "msrp"
    v("msrp.transaction.id") = parts(1)
    if (parts(2).forall(_.isDigit) && parts(2).length == 3) {
      v("msrp.status.code") = parts(2).toLong
      s"Response: ${parts(2)}"
    } else {
      v("msrp.method") = parts(2)
      s"Request: ${parts(2)}"
    }
  }

  /** ActiveMQ OpenWire (TCP 61616): BE length prefix + data type byte;
    * type 1 is WireFormatInfo and carries the "ActiveMQ" magic. */
  private def dissectOpenwire(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    val flen = u32(d, off)
    if (flen < 1 || flen > 64L * 1024 * 1024) return null
    val typ = u8(d, off + 4)
    if (typ == 1) {
      if (len < 13 ||
          new String(d, off + 5, 8, java.nio.charset.StandardCharsets.US_ASCII)
            != "ActiveMQ") return null
      protos += "openwire"
      v("openwire.command") = 1L
      "WireFormatInfo"
    } else if (typ >= 2 && typ <= 120) {
      protos += "openwire"
      v("openwire.command") = typ.toLong
      // loose marshalling puts the four-byte command id right after the
      // data-structure type byte
      if (len >= 9) v("openwire.command_id") = u32(d, off + 5)
      s"Command type $typ"
    } else null
  }

  /** Quagga/FRR ZServ (TCP 2600): length, 0xFF marker, version, command. */
  private def dissectZebra(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6) return null
    val plen = u16(d, off)
    if (u8(d, off + 2) != 0xff || plen < 6) return null
    val ver = u8(d, off + 3)
    if (ver < 1 || ver > 6) return null
    protos += "zebra"
    v("zebra.len") = plen.toLong
    v("zebra.command") = u16(d, off + 4).toLong
    s"ZServ v$ver command ${u16(d, off + 4)}"
  }

  private lazy val hpfeedsOpNames = Map(
    0 -> "ERROR", 1 -> "INFO", 2 -> "AUTH", 3 -> "PUBLISH", 4 -> "SUBSCRIBE")

  /** hpfeeds (TCP 10000): u32 message length + opcode. */
  private def dissectHpfeeds(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    val mlen = u32(d, off)
    if (mlen < 5 || mlen > (1 << 20)) return null
    val op = u8(d, off + 4)
    val name = hpfeedsOpNames.getOrElse(op, return null)
    protos += "hpfeeds"
    v("hpfeeds.msg_length") = mlen
    v("hpfeeds.opcode") = op.toLong
    name
  }

  /** Hadoop IPC (TCP 8020): the "hrpc" connection header + version. */
  private def dissectHdfs(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    if (d(off) == 'h' && d(off + 1) == 'r' && d(off + 2) == 'p' && d(off + 3) == 'c') {
      protos += "hdfs"
      return s"Hadoop IPC handshake, version ${u8(d, off + 4)}"
    }
    // post-handshake IPC: a big-endian length-prefixed protobuf envelope
    // (same port; the length must cover the rest of the segment exactly)
    val mlen = u32(d, off)
    if (mlen >= 2 && mlen == (len - 4).toLong && len >= 6) {
      protos += "hdfs"
      v("hdfs.len") = mlen
      // a varint-length-prefixed RpcResponseHeaderProto: field 1 (0x08)
      // callId varint, field 2 (0x10) status enum — 0 is SUCCESS
      var q = off + 4
      val hl = u8(d, q)
      if (hl >= 4 && (hl & 0x80) == 0 && q + 1 + hl <= off + len) {
        q += 1
        if (u8(d, q) == 0x08) {
          q += 1
          while (q < off + len && (u8(d, q) & 0x80) != 0) q += 1
          q += 1
          if (q + 1 < off + len && u8(d, q) == 0x10) {
            val ok = u8(d, q + 1) == 0
            v("hdfs.success") = if (ok) 1L else 0L
            return s"Hadoop IPC response, ${if (ok) "SUCCESS" else "ERROR"}"
          }
        }
      }
      return s"Hadoop IPC message, $mlen bytes"
    }
    null
  }

  // ------------------------------------------------------------------
  // Tier 33: TACACS+ / NetFlow-IPFIX / Redis RESP / RIPng / PIM / MSDP /
  // OLSR / Babel — public wire formats (RFC 8907, the Cisco NetFlow v5/v9
  // export formats + RFC 7011 IPFIX, the Redis serialization protocol
  // spec, RFC 2080, RFC 7761, RFC 3618, RFC 3626, RFC 8966).
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // Tier 34: RSVP / WCCP / SLP / Megaco / NHRP — public wire formats
  // (RFC 2205, the WCCPv2 draft header, RFC 2608, RFC 3525 text
  // encoding, RFC 2332 — NHRP lives in dissectGre's inner dispatch).
  // ------------------------------------------------------------------

  private lazy val rsvpMsgNames = Map(
    1 -> "PATH", 2 -> "RESV", 3 -> "PATH ERROR", 4 -> "RESV ERROR",
    5 -> "PATH TEAR", 6 -> "RESV TEAR", 7 -> "CONFIRM")

  /** RSVP (RFC 2205 §3.1, IP protocol 46): common header — version 1,
    * message type, checksum, send TTL, length. */
  private def dissectRsvp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 8) return null
    if ((u8(d, off) >> 4) != 1) return null
    val msg = u8(d, off + 1)
    val name = rsvpMsgNames.getOrElse(msg, return null)
    protos += "rsvp"
    v("rsvp.msg") = msg.toLong
    v("rsvp.ver") = 1L
    v("rsvp.sending_ttl") = u8(d, off + 4).toLong
    v("rsvp.length") = u16(d, off + 6).toLong
    s"$name Message"
  }

  private lazy val wccpMsgNames = Map(
    10 -> "Here I am", 11 -> "I see you", 12 -> "Redirect assign",
    13 -> "Removal query")

  /** WCCPv2 (UDP 2048): u32 message type, u16 version 0x0200. */
  private def dissectWccp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val typ = u32(d, off)
    if (typ < 10 || typ > 13) return null
    if (u16(d, off + 4) != 0x0200) return null
    protos += "wccp"
    v("wccp.message") = typ
    v("wccp.version") = 0x0200L
    s"2.0 ${wccpMsgNames(typ.toInt)}"
  }

  private lazy val srvlocFnNames = Map(
    1 -> "Service Request", 2 -> "Service Reply", 3 -> "Service Registration",
    4 -> "Service Deregister", 5 -> "Service Acknowledge",
    6 -> "Attribute Request", 7 -> "Attribute Reply",
    8 -> "DA Advertisement", 9 -> "Service Type Request",
    10 -> "Service Type Reply", 11 -> "SA Advertisement")

  /** SLPv2 (RFC 2608, port 427): version 2, function id, u24 length. */
  private def dissectSrvloc(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    if (u8(d, off) != 2) return null
    val fn = u8(d, off + 1)
    val name = srvlocFnNames.getOrElse(fn, return null)
    protos += "srvloc"
    v("srvloc.version") = 2L
    v("srvloc.function") = fn.toLong
    // RFC 2608 §8 header: u24 length at +2, u16 XID at +10
    v("srvloc.pktlen") =
      ((u8(d, off + 2).toLong << 16) | (u8(d, off + 3).toLong << 8) |
        u8(d, off + 4).toLong)
    if (len >= 12) v("srvloc.xid") = u16(d, off + 10).toLong
    name
  }

  private lazy val megacoCommands =
    Seq("Add", "Modify", "Subtract", "Move", "Notify", "ServiceChange",
      "AuditValue", "AuditCapabilities")

  /** Megaco/H.248 text encoding (RFC 3525, port 2944): "MEGACO/1 …"
    * header, a "Transaction = N" id, and the first command token. */
  private def dissectMegaco(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 9) return null
    val text = new String(d, off, math.min(len, 512), "ISO-8859-1")
    if (!text.startsWith("MEGACO/1") && !text.startsWith("!/1")) return null
    protos += "megaco"
    v("megaco.version") = 1L
    val tm = "Transaction\\s*=\\s*(\\d+)".r.findFirstMatchIn(text)
    tm.foreach(m => v("megaco.transid") = m.group(1))
    val cmd = megacoCommands.find(c => text.contains(c + " = "))
    cmd.foreach(c => v("megaco.command") = c)
    tm.map(m => s"Transaction ${m.group(1)}").getOrElse("Megaco")
  }

  /** L2TPv3 over IP (RFC 3931 §4.1, IP protocol 115): a 32-bit session
    * id; zero marks a control message. */
  private def dissectL2tpv3(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 4) return null
    val sid = u32(d, off)
    protos += "l2tp"
    if (sid == 0) {
      v("l2tp.type") = 1L
      "L2TPv3 control message"
    } else {
      v("l2tp.type") = 0L
      v("l2tp.session") = sid
      s"L2TPv3 data, session $sid"
    }
  }

  private lazy val mqttsnMsgNames = Map(
    0x00 -> "ADVERTISE", 0x01 -> "SEARCHGW", 0x02 -> "GWINFO",
    0x04 -> "CONNECT", 0x05 -> "CONNACK",
    0x06 -> "WILLTOPICREQ", 0x07 -> "WILLTOPIC",
    0x08 -> "WILLMSGREQ", 0x09 -> "WILLMSG",
    0x0a -> "REGISTER", 0x0b -> "REGACK",
    0x0c -> "PUBLISH", 0x0d -> "PUBACK",
    0x0e -> "PUBCOMP", 0x0f -> "PUBREC", 0x10 -> "PUBREL",
    0x12 -> "SUBSCRIBE", 0x13 -> "SUBACK",
    0x14 -> "UNSUBSCRIBE", 0x15 -> "UNSUBACK",
    0x16 -> "PINGREQ", 0x17 -> "PINGRESP", 0x18 -> "DISCONNECT")

  /** MQTT-SN v1.2 (the public OASIS spec, UDP): 1- or 3-octet length
    * that must equal the datagram payload, then the message type. */
  private def dissectMqttsn(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 2) return null
    var mlen = u8(d, off)
    var hdr = 1
    if (mlen == 1) {
      if (len < 4) return null
      mlen = u16(d, off + 1); hdr = 3
    }
    if (mlen != len) return null
    val typ = u8(d, off + hdr)
    val name = mqttsnMsgNames.getOrElse(typ, return null)
    protos += "mqttsn"
    v("mqttsn.len") = mlen.toLong
    v("mqttsn.msg.type") = typ.toLong
    // CONNECT (OASIS MQTT-SN 1.2 §5.4.4): flags, protocol id, duration,
    // then the client identifier fills the rest of the message
    if (typ == 0x04 && len >= hdr + 5) {
      v("mqttsn.flags") = u8(d, off + hdr + 1).toLong
      v("mqttsn.duration") = u16(d, off + hdr + 3).toLong
      val cidLen = len - (hdr + 5)
      if (cidLen > 0 && cidLen <= 23) {
        val cid = new String(d, off + hdr + 5, cidLen,
          java.nio.charset.StandardCharsets.US_ASCII)
        if (cid.forall(c => c >= 0x20 && c <= 0x7e)) v("mqttsn.clientid") = cid
      }
    }
    name
  }

  private lazy val finsCmdNames = Map(
    0x0101 -> "Memory Area Read", 0x0102 -> "Memory Area Write",
    0x0103 -> "Memory Area Fill", 0x0501 -> "Controller Data Read",
    0x0601 -> "Controller Status Read", 0x0701 -> "Clock Read",
    0x0702 -> "Clock Write")

  /** OMRON FINS (UDP 9600): 10-byte routing header (ICF gateway bit
    * set) + the 2-byte MRC/SRC command code — the PLC protocol of the
    * industrial tier. */
  private def dissectFins(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    val icf = u8(d, off)
    if ((icf & 0x80) == 0) return null
    val cmd = (u8(d, off + 10) << 8) | u8(d, off + 11)
    val name = finsCmdNames.getOrElse(cmd, return null)
    protos += "fins"
    // Wireshark's dissector for the same frames registers as "omron" —
    // surface both filter-name families like the mbtcp/modbus pair
    protos += "omron"
    v("omron.icf") = icf.toLong
    v("omron.command") = cmd.toLong
    v("fins.icf") = icf.toLong
    // FINS 10-byte routing header: ICF RSV GCT DNA DA1 DA2 SNA SA1 SA2 SID
    v("fins.gct") = u8(d, off + 2).toLong
    v("fins.dna") = u8(d, off + 3).toLong
    v("fins.da1") = u8(d, off + 4).toLong
    v("fins.sna") = u8(d, off + 6).toLong
    v("fins.sa1") = u8(d, off + 7).toLong
    v("fins.sid") = u8(d, off + 9).toLong
    if ((icf & 0x40) == 0) s"Command: $name" else s"Response: $name"
  }

  private lazy val knxServiceNames = Map(
    0x0201 -> "SEARCH_REQUEST", 0x0202 -> "SEARCH_RESPONSE",
    0x0203 -> "DESCRIPTION_REQUEST", 0x0204 -> "DESCRIPTION_RESPONSE",
    0x0205 -> "CONNECT_REQUEST", 0x0206 -> "CONNECT_RESPONSE",
    0x0207 -> "CONNECTIONSTATE_REQUEST", 0x0208 -> "CONNECTIONSTATE_RESPONSE",
    0x0209 -> "DISCONNECT_REQUEST", 0x020a -> "DISCONNECT_RESPONSE",
    0x0420 -> "TUNNELING_REQUEST", 0x0421 -> "TUNNELING_ACK",
    0x0530 -> "ROUTING_INDICATION")

  /** KNXnet/IP (ISO 22510, UDP 3671): 6-byte header — length 0x06,
    * version 0x10, service type, total length — the building-automation
    * backbone protocol. */
  private def dissectKnxnetip(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6) return null
    if (u8(d, off) != 0x06 || u8(d, off + 1) != 0x10) return null
    val svc = u16(d, off + 2)
    val name = knxServiceNames.getOrElse(svc, return null)
    val tlen = u16(d, off + 4)
    if (tlen != len) return null
    protos += "knxnetip"
    v("knxnetip.header_length") = 0x06L
    v("knxnetip.protocol_version") = 0x10L
    v("knxnetip.service") = svc.toLong
    v("knxnetip.total_length") = tlen.toLong
    // TUNNELING_REQUEST carries a cEMI frame after the 4-byte connection
    // header — the KNX message code surfaces as its own layer
    if (svc == 0x0420 && len >= 11) {
      protos += "cemi"
      val mc = u8(d, off + 10)
      v("cemi.msgcode") = mc.toLong
      val mcName = mc match {
        case 0x11 => "L_Data.req"; case 0x29 => "L_Data.ind"
        case 0x2e => "L_Data.con"; case m => f"cEMI 0x$m%02x"
      }
      return s"$name, $mcName"
    }
    name
  }

  /** MikroTik Neighbor Discovery (UDP 5678 → 5678): 4-byte header then
    * (type, length, value) TLVs; type 5 carries the identity string. */
  private def dissectMndp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    var p = off + 4
    val lim = off + len
    var identity: String = null
    var mac: String = null
    var n = 0
    while (p + 4 <= lim && n < 32) {
      val t = u16(d, p)
      val l = u16(d, p + 2)
      if (p + 4 + l > lim) return null
      if (t == 5 && l > 0 && l <= 64) {
        val s = new String(d, p + 4, l, "ISO-8859-1")
        if (!s.forall(c => c >= 0x20 && c <= 0x7e)) return null
        identity = s
      }
      if (t == 1 && l == 6) mac = macStr(d, p + 4)
      p += 4 + l
      n += 1
    }
    if (n == 0 || p != lim) return null
    protos += "mndp"
    v("mndp.seqno") = u16(d, off + 2).toLong
    if (identity != null) v("mndp.identity") = identity
    if (mac != null) v("mndp.mac_address") = mac
    if (identity != null) s"Neighbor: $identity" else s"MNDP, $n TLVs"
  }

  /** RIPng (RFC 2080, UDP 521): command, version 1, then 20-byte RTEs. */
  private def dissectRipng(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val cmd = u8(d, off)
    if (cmd != 1 && cmd != 2) return null
    if (u8(d, off + 1) != 1 || u16(d, off + 2) != 0) return null
    protos += "ripng"
    v("ripng.command") = cmd.toLong
    v("ripng.version") = 1L
    // first 20-byte RTE (RFC 2080 §2.1): prefix(16) tag(2) plen(1) metric(1)
    if (len >= 24) {
      v("ripng.rte.route_tag") = u16(d, off + 20).toLong
      v("ripng.rte.prefix_len") = u8(d, off + 22).toLong
      v("ripng.rte.metric") = u8(d, off + 23).toLong
    }
    if (cmd == 1) "Request" else "Response"
  }

  private lazy val pimTypeNames = Map(
    0 -> "Hello", 1 -> "Register", 2 -> "Register-stop", 3 -> "Join/Prune",
    4 -> "Bootstrap", 5 -> "Assert", 8 -> "Candidate-RP-Advertisement")

  /** PIMv2 (RFC 7761, IP protocol 103): version/type octet + checksum. */
  private def dissectPim(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 4) return null
    val vt = u8(d, off)
    if ((vt >> 4) != 2) return null
    val name = pimTypeNames.getOrElse(vt & 0xf, return null)
    protos += "pim"
    v("pim.version") = (vt >> 4).toLong
    v("pim.type") = (vt & 0xf).toLong
    v("pim.cksum") = u16(d, off + 2).toLong
    // Hello options (RFC 7761 §4.9.2): (type, len, value) — type 1 holdtime
    if ((vt & 0xf) == 0) {
      var p = off + 4
      var n = 0
      while (p + 4 <= end && n < 16) {
        val ot = u16(d, p); val ol = u16(d, p + 2)
        if (ot == 1 && ol == 2 && p + 6 <= end) {
          v("pim.holdtime") = u16(d, p + 4).toLong
          p = end
        } else p += 4 + ol
        n += 1
      }
    }
    name
  }

  private lazy val msdpTypeNames = Map(
    1 -> "IPv4 Source-Active", 2 -> "IPv4 Source-Active Request",
    3 -> "IPv4 Source-Active Response", 4 -> "KeepAlive")

  /** MSDP (RFC 3618, TCP 639): TLV stream — type, 2-byte length. */
  private def dissectMsdp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3) return null
    val typ = u8(d, off)
    val name = msdpTypeNames.getOrElse(typ, return null)
    val tlen = u16(d, off + 1)
    if (tlen < 3 || tlen > len) return null
    protos += "msdp"
    v("msdp.type") = typ.toLong
    v("msdp.length") = tlen.toLong
    name
  }

  /** OLSR (RFC 3626, UDP 698): packet length + sequence, then messages. */
  private def dissectOlsr(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val plen = u16(d, off)
    if (plen != len || plen < 4) return null
    protos += "olsr"
    v("olsr.packet_len") = plen.toLong
    v("olsr.packet_seq") = u16(d, off + 2).toLong
    if (len >= 8) {
      v("olsr.message_type") = u8(d, off + 4).toLong
      v("olsr.message_size") = u16(d, off + 6).toLong
    }
    // full message header (RFC 3626 §3.3): type vtime size orig ttl hops seq
    if (len >= 16) {
      v("olsr.origin_addr") = ipv4Str(d, off + 8)
      v("olsr.ttl") = u8(d, off + 12).toLong
      v("olsr.hop_count") = u8(d, off + 13).toLong
    }
    s"OLSR ($plen bytes)"
  }

  /** Babel (RFC 8966, UDP 6696): magic 42, version 2, body length. */
  private def dissectBabel(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    if (u8(d, off) != 42 || u8(d, off + 1) != 2) return null
    val blen = u16(d, off + 2)
    if (blen + 4 > len) return null
    protos += "babel"
    v("babel.magic") = 42L
    v("babel.version") = 2L
    v("babel.bodylen") = blen.toLong
    s"Babel v2 ($blen bytes body)"
  }

  /** finger (TCP 79, RFC 1288): the request is one "[/W ]user" line. */
  private def dissectFinger(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (fromServer) { protos += "finger"; return "Response" }
    val line = asciiLine(d, off, len, 200)
    if (line == null) return null
    protos += "finger"
    v("finger.query") = line
    s"Query: ${if (line.isEmpty) "<all users>" else line}"
  }

  /** gopher (TCP 70, RFC 1436): request is one selector line; response
    * directory items lead with a type character. */
  private def dissectGopher(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val line = asciiLine(d, off, len, 200)
    if (line == null) return null
    protos += "gopher"
    if (fromServer) {
      if (line.nonEmpty) v("gopher.di.type") = line.substring(0, 1)
      "Response"
    } else {
      v("gopher.request") = line
      s"Request: ${if (line.isEmpty) "<root>" else line}"
    }
  }

  /** ident (TCP 113, RFC 1413): "serverPort, clientPort" query line. */
  private def dissectIdent(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val line = asciiLine(d, off, len, 200)
    if (line == null) return null
    if (!fromServer && !line.matches("\\s*\\d{1,5}\\s*,\\s*\\d{1,5}\\s*")) return null
    protos += "ident"
    if (!fromServer) {
      v("ident.request") = line.trim
      s"Request: ${line.trim}"
    } else "Response"
  }

  private lazy val fcgiTypeNames: Map[Int, String] = Map(
    1 -> "FCGI_BEGIN_REQUEST", 2 -> "FCGI_ABORT_REQUEST", 3 -> "FCGI_END_REQUEST",
    4 -> "FCGI_PARAMS", 5 -> "FCGI_STDIN", 6 -> "FCGI_STDOUT", 7 -> "FCGI_STDERR",
    8 -> "FCGI_DATA", 9 -> "FCGI_GET_VALUES", 10 -> "FCGI_GET_VALUES_RESULT",
    11 -> "FCGI_UNKNOWN_TYPE")

  /** FastCGI (TCP 9000): 8-byte record header — version 1, type,
    * requestId, BE contentLength, paddingLength (RFC-less public spec,
    * fastcgi-archives.github.io). */
  private def dissectFcgi(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u8(d, off) != 1) return null
    val typ = u8(d, off + 1)
    if (typ < 1 || typ > 11) return null
    protos += "fcgi"
    v("fcgi.version") = 1L
    v("fcgi.type") = typ.toLong
    v("fcgi.id") = u16(d, off + 2).toLong
    fcgiTypeNames(typ)
  }

  /** Erlang Port Mapper Daemon (TCP 4369): 2-byte BE length + request
    * byte — ALIVE2_REQ (120), PORT_PLEASE2_REQ (122), NAMES_REQ (110),
    * STOP_REQ (115); the node name trails the fixed part. */
  private def dissectEpmd(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3) return null
    val mlen = u16(d, off)
    if (mlen != len - 2) return null
    val typ = u8(d, off + 2)
    val (name, what) = typ match {
      case 120 if len >= 13 => // ALIVE2_REQ: port, nodetype, proto, hi, lo, nlen, name
        val nlen = u16(d, off + 11)
        if (13 + nlen > len) return null
        (new String(d, off + 13, nlen, java.nio.charset.StandardCharsets.UTF_8),
          "ALIVE2_REQ")
      case 122 =>
        (new String(d, off + 3, len - 3, java.nio.charset.StandardCharsets.UTF_8),
          "PORT_PLEASE2_REQ")
      case 110 if len == 3 => ("", "NAMES_REQ")
      case 115 =>
        (new String(d, off + 3, len - 3, java.nio.charset.StandardCharsets.UTF_8),
          "STOP_REQ")
      case _ => return null
    }
    protos += "epmd"
    v("epmd.len") = mlen.toLong
    v("epmd.type") = typ.toLong
    if (name.nonEmpty) v("epmd.name") = name
    if (name.nonEmpty) s"$what $name" else what
  }

  /** Redis RESP (TCP 6379): typed frames — '*' command arrays expose the
    * command word; '+', '-', ':', '$' render as replies. */
  private def dissectRedis(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val text = new String(d, off, math.min(len, 512), "ISO-8859-1")
    if (!text.contains("\r\n")) return null
    text(0) match {
      case '*' =>
        // *N\r\n$len\r\nCMD\r\n…
        val m = redisCommandRe.findFirstMatchIn(text).getOrElse(return null)
        protos += "resp"
        val cmd = m.group(1).toUpperCase
        v("resp.type") = "Request"
        v("resp.command") = cmd
        val n = text.substring(1, text.indexOf("\r\n"))
        if (n.forall(_.isDigit)) v("resp.length") = n.toLong
        s"Request: $cmd"
      case '+' | '-' | ':' | '$' =>
        val le = text.indexOf("\r\n")
        val first = text.substring(0, le)
        protos += "resp"
        val kind = text(0) match {
          case '+' => "Status"
          case '-' => "Error"
          case ':' => "Integer"
          case _   => "Bulk"
        }
        v("resp.type") = kind
        val body = first.substring(1)
        if (kind == "Bulk") {
          if (body.forall(c => c.isDigit || c == '-')) v("resp.length") = body.toLong
        } else v("resp.value") = body
        s"Response: $first"
      case _ => null
    }
  }

  private lazy val kafkaApiNames: Map[Int, String] = Map(
    0 -> "Produce", 1 -> "Fetch", 2 -> "ListOffsets", 3 -> "Metadata",
    8 -> "OffsetCommit", 9 -> "OffsetFetch", 10 -> "FindCoordinator",
    11 -> "JoinGroup", 12 -> "Heartbeat", 13 -> "LeaveGroup",
    14 -> "SyncGroup", 15 -> "DescribeGroups", 16 -> "ListGroups",
    17 -> "SaslHandshake", 18 -> "ApiVersions", 19 -> "CreateTopics",
    20 -> "DeleteTopics")

  /** Kafka wire protocol (TCP 9092): int32 size-prefixed messages;
    * requests are self-describing (api key/version, correlation id,
    * client id string), broker responses surface the correlation id.
    * One whole message per segment — the common capture shape; spanning
    * messages are tshark territory. */
  private def dissectKafka(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      conv: TcpConv,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val size = u32(d, off)
    if (size != len - 4) return null
    if (!fromServer) {
      if (len < 14) return null
      val apiKey = u16(d, off + 4)
      val apiVer = u16(d, off + 6)
      val name = kafkaApiNames.getOrElse(apiKey, return null)
      if (apiVer > 20) return null
      protos += "kafka"
      val corr = u32(d, off + 8)
      v("kafka.len") = size
      v("kafka.request_key") = apiKey.toLong
      v("kafka.request_api_version") = apiVer.toLong
      v("kafka.correlation_id") = corr
      val cidLen = u16(d, off + 12)
      if (cidLen != 0xffff && off + 14 + cidLen <= off + len)
        v("kafka.client_id") = new String(d, off + 14, cidLen, "UTF-8")
      conv.kafkaReqs.put(corr, (apiKey, apiVer))
      s"Kafka $name v$apiVer Request"
    } else {
      protos += "kafka"
      val corr = u32(d, off + 4)
      v("kafka.len") = size
      v("kafka.correlation_id") = corr
      // correlate with the pending request (Wireshark matches the same
      // way): the response then carries the api key/version it answers
      val req = conv.kafkaReqs.remove(corr)
      if (req != null) {
        v("kafka.request_key") = req._1.toLong
        v("kafka.request_api_version") = req._2.toLong
        s"Kafka ${kafkaApiNames.getOrElse(req._1, s"Api${req._1}")} v${req._2} Response"
      } else s"Kafka Response (CorrId=$corr)"
    }
  }

  private lazy val cqlOpcodeNames: Map[Int, String] = Map(
    0 -> "ERROR", 1 -> "STARTUP", 2 -> "READY", 3 -> "AUTHENTICATE",
    5 -> "OPTIONS", 6 -> "SUPPORTED", 7 -> "QUERY", 8 -> "RESULT",
    9 -> "PREPARE", 10 -> "EXECUTE", 11 -> "REGISTER", 12 -> "EVENT",
    13 -> "BATCH", 14 -> "AUTH_CHALLENGE", 15 -> "AUTH_RESPONSE",
    16 -> "AUTH_SUCCESS")

  /** Cassandra CQL native protocol (TCP 9042, framing v3–v5): the
    * version byte carries the direction bit; QUERY requests surface the
    * long-string query text. */
  private def dissectCql(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 9) return null
    val ver = u8(d, off)
    val proto = ver & 0x7f
    if (proto < 3 || proto > 5) return null
    val opcode = u8(d, off + 4)
    val name = cqlOpcodeNames.getOrElse(opcode, return null)
    val blen = u32(d, off + 5)
    if (blen != len - 9) return null
    protos += "cql"
    v("cql.version") = ver.toLong
    v("cql.flags") = u8(d, off + 1).toLong
    v("cql.stream") = u16(d, off + 2).toLong
    v("cql.opcode") = opcode.toLong
    v("cql.length") = blen
    val isResponse = (ver & 0x80) != 0
    if (opcode == 7 && !isResponse && len >= 13) {
      val qlen = u32(d, off + 9).toInt
      if (qlen >= 0 && off + 13 + qlen <= off + len) {
        val q = new String(d, off + 13, math.min(qlen, 256), "UTF-8")
        v("cql.string") = q
        return s"QUERY: $q"
      }
    }
    name
  }

  private lazy val memcacheRequests = Set("get", "gets", "set", "add", "replace",
    "append", "prepend", "cas", "delete", "incr", "decr", "touch", "stats",
    "flush_all", "version", "verbosity", "quit")
  private lazy val memcacheResponses = Set("VALUE", "END", "STORED", "NOT_STORED",
    "EXISTS", "NOT_FOUND", "DELETED", "TOUCHED", "OK", "ERROR", "VERSION",
    "STAT", "CLIENT_ERROR", "SERVER_ERROR")

  /** memcached text protocol (TCP 11211): client command lines and server
    * status/VALUE lines; the first line is the info string. */
  private def dissectMemcache(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val text = new String(d, off, math.min(len, 256), "ISO-8859-1")
    val le = text.indexOf("\r\n")
    if (le <= 0) return null
    val line = text.substring(0, le)
    val parts = line.split(" ")
    if (!fromServer) {
      if (!memcacheRequests.contains(parts(0))) return null
      protos += "memcache"
      v("memcache.command") = parts(0)
      if (parts.length > 1 && parts(0) != "stats" && parts(0) != "version" &&
        parts(0) != "flush_all" && parts(0) != "quit")
        v("memcache.key") = parts(1)
      line
    } else {
      if (!memcacheResponses.contains(parts(0))) return null
      protos += "memcache"
      v("memcache.command") = parts(0)
      if (parts(0) == "VALUE" && parts.length > 1) v("memcache.key") = parts(1)
      line
    }
  }

  private lazy val mongoOpcodeNames: Map[Int, String] = Map(
    1 -> "OP_REPLY", 2001 -> "OP_UPDATE", 2002 -> "OP_INSERT",
    2004 -> "OP_QUERY", 2005 -> "OP_GET_MORE", 2006 -> "OP_DELETE",
    2007 -> "OP_KILL_CURSORS", 2010 -> "OP_COMMAND",
    2011 -> "OP_COMMANDREPLY", 2012 -> "OP_COMPRESSED", 2013 -> "OP_MSG")

  /** First element name of a BSON document at `o` (int32 LE doc length,
    * then type-byte + cstring name elements) — for OP_MSG/OP_QUERY this
    * is the command ("find", "insert", …) or the collection filter key.
    * Returns null when the bytes aren't a sane document. */
  private def bsonFirstKey(d: Array[Byte], o: Int, end: Int): String = {
    if (o + 5 > end) return null
    val dlen = (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) |
      ((d(o + 2) & 0xff) << 16) | ((d(o + 3) & 0xff) << 24)
    if (dlen < 5 || o + dlen > end) return null
    if (dlen == 5) return "" // empty document
    var i = o + 5 // skip doc length + first element's type byte
    val s = i
    while (i < end && d(i) != 0 && i - s < 128) i += 1
    if (i >= end || d(i) != 0) return null
    new String(d, s, i - s, "UTF-8")
  }

  /** MongoDB wire protocol (TCP 27017): little-endian standard header
    * (messageLength, requestID, responseTo, opCode), then per-opcode
    * bodies — OP_MSG (flagBits + kind-0 BSON section, the modern form)
    * surfaces the command name from the document's first element,
    * OP_QUERY the full collection name and skip/return counts.
    * Field names follow tshark's packet-mongo.c registrations. */
  private def dissectMongo(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    def le32(o: Int): Int = (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) |
      ((d(o + 2) & 0xff) << 16) | ((d(o + 3) & 0xff) << 24)
    val mlen = le32(off)
    if (mlen != len) return null // whole message per segment (tshark reassembles)
    val opcode = le32(off + 12)
    val opName = mongoOpcodeNames.getOrElse(opcode, return null)
    protos += "mongo"
    v("mongo.message_length") = mlen.toLong
    v("mongo.request_id") = le32(off + 4).toLong & 0xffffffffL
    v("mongo.response_to") = le32(off + 8).toLong & 0xffffffffL
    v("mongo.opcode") = opcode.toLong
    val end = off + len
    if (opcode == 2013 && len >= 21) { // OP_MSG: flagBits + section kind
      v("mongo.msg.flags") = le32(off + 16).toLong & 0xffffffffL
      if (u8(d, off + 20) == 0) { // kind 0: body document
        val cmd = bsonFirstKey(d, off + 21, end)
        if (cmd != null && cmd.nonEmpty) {
          v("mongo.element.name") = cmd
          return s"$opName [$cmd]"
        }
      }
    } else if (opcode == 2004 && len >= 21) { // OP_QUERY
      var i = off + 20 // after int32 flags
      val s = i
      while (i < end && d(i) != 0 && i - s < 128) i += 1
      if (i < end && d(i) == 0) {
        val coll = new String(d, s, i - s, "UTF-8")
        v("mongo.full_collection_name") = coll
        if (i + 9 <= end) {
          v("mongo.number_to_skip") = le32(i + 1).toLong
          v("mongo.number_to_return") = le32(i + 5).toLong
          return s"$opName $coll"
        }
      }
    }
    opName
  }

  /** rsync daemon protocol (TCP 873, packet-rsync.c): "@RSYNCD: <ver>"
    * greeting/handshake lines in both directions, then the client's bare
    * module-request line (claimed via conversation state) and the
    * server's MOTD/OK/EXIT lines. */
  private def dissectRsync(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      conv: TcpConv,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 2) return null
    val text = new String(d, off, math.min(len, 256), "ISO-8859-1")
    val le = text.indexOf('\n')
    if (le <= 0) return null
    val line = text.substring(0, le).stripSuffix("\r")
    if (line.exists(c => c < 0x20 && c != '\t')) return null
    if (line.startsWith("@RSYNCD: ")) {
      protos += "rsync"
      conv.rsyncSeen = true
      v("rsync.hdr_magic") = "@RSYNCD:"
      val rest = line.substring(9)
      if (rest.nonEmpty && (rest(0).isDigit)) v("rsync.protocol_version") = rest
      line
    } else if (conv.rsyncSeen) {
      protos += "rsync"
      if (fromServer) v("rsync.motd") = line
      else v("rsync.query") = line
      if (fromServer) s"MOTD: $line" else s"Module request: $line"
    } else null
  }

  private lazy val gearmanTypeNames: Map[Int, String] = Map(
    1 -> "CAN_DO", 2 -> "CANT_DO", 3 -> "RESET_ABILITIES", 4 -> "PRE_SLEEP",
    6 -> "NOOP", 7 -> "SUBMIT_JOB", 8 -> "JOB_CREATED", 9 -> "GRAB_JOB",
    10 -> "NO_JOB", 11 -> "JOB_ASSIGN", 12 -> "WORK_STATUS",
    13 -> "WORK_COMPLETE", 14 -> "WORK_FAIL", 15 -> "GET_STATUS",
    16 -> "ECHO_REQ", 17 -> "ECHO_RES", 18 -> "SUBMIT_JOB_BG",
    19 -> "ERROR", 20 -> "STATUS_RES", 21 -> "SUBMIT_JOB_HIGH",
    22 -> "SET_CLIENT_ID", 23 -> "CAN_DO_TIMEOUT", 24 -> "ALL_YOURS",
    25 -> "WORK_EXCEPTION", 26 -> "OPTION_REQ", 27 -> "OPTION_RES",
    28 -> "WORK_DATA", 29 -> "WORK_WARNING", 30 -> "GRAB_JOB_UNIQ",
    31 -> "JOB_ASSIGN_UNIQ", 32 -> "SUBMIT_JOB_HIGH_BG",
    33 -> "SUBMIT_JOB_LOW", 34 -> "SUBMIT_JOB_LOW_BG",
    35 -> "SUBMIT_JOB_SCHED", 36 -> "SUBMIT_JOB_EPOCH")

  /** Gearman job-server protocol (TCP 4730, packet-gearman.c): binary
    * packets are "\0REQ"/"\0RES" magic + big-endian type and size, args
    * NUL-separated; the first argument (function name / job handle)
    * surfaces in the info line. */
  private def dissectGearman(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    if (u8(d, off) != 0) return null
    val magic = new String(d, off + 1, 3, "ISO-8859-1")
    if (magic != "REQ" && magic != "RES") return null
    val ptype = u32(d, off + 4)
    val name = gearmanTypeNames.getOrElse(ptype.toInt, return null)
    val size = u32(d, off + 8)
    if (size != len - 12) return null // one packet per segment
    protos += "gearman"
    v("gearman.magic.code") = magic
    v("gearman.pkt.type") = ptype
    v("gearman.data.size") = size
    if (size > 0) {
      var i = off + 12
      val s = i
      val end = off + len
      while (i < end && d(i) != 0 && i - s < 128) i += 1
      val arg = new String(d, s, i - s, "UTF-8")
      if (arg.nonEmpty) {
        v("gearman.argument") = arg
        return s"[$magic] $name: $arg"
      }
    }
    s"[$magic] $name"
  }

  private lazy val ajpMethodNames: Map[Int, String] = Map(
    1 -> "OPTIONS", 2 -> "GET", 3 -> "HEAD", 4 -> "POST", 5 -> "PUT",
    6 -> "DELETE", 7 -> "TRACE", 8 -> "PROPFIND", 9 -> "PROPPATCH",
    10 -> "MKCOL", 11 -> "COPY", 12 -> "MOVE", 13 -> "LOCK", 14 -> "UNLOCK",
    15 -> "ACL", 16 -> "REPORT", 17 -> "VERSION-CONTROL", 18 -> "CHECKIN",
    19 -> "CHECKOUT", 20 -> "UNCHECKOUT", 21 -> "SEARCH", 22 -> "MKWORKSPACE",
    23 -> "UPDATE", 24 -> "LABEL", 25 -> "MERGE", 26 -> "BASELINE_CONTROL",
    27 -> "MKACTIVITY")

  private lazy val ajpCodeNames: Map[Int, String] = Map(
    2 -> "FORWARD_REQUEST", 3 -> "SEND_BODY_CHUNK", 4 -> "SEND_HEADERS",
    5 -> "END_RESPONSE", 6 -> "GET_BODY_CHUNK", 7 -> "SHUTDOWN",
    9 -> "CPONG", 10 -> "CPING")

  /** Apache JServ Protocol v1.3 (TCP 8009, packet-ajp13.c): container
    * magic 0x1234 (client→server) / "AB" (server→client) + uint16 length;
    * FORWARD_REQUEST surfaces the method and URI, SEND_HEADERS the HTTP
    * status. AJP strings are uint16-length-prefixed, NUL-terminated. */
  private def dissectAjp13(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    val magicOk =
      if (fromServer) d(off) == 'A'.toByte && d(off + 1) == 'B'.toByte
      else u8(d, off) == 0x12 && u8(d, off + 1) == 0x34
    if (!magicOk) return null
    val plen = u16(d, off + 2)
    if (plen != len - 4) return null // one container per segment
    val code = u8(d, off + 4)
    val codeName = ajpCodeNames.getOrElse(code, return null)
    protos += "ajp13"
    v("ajp13.magic") = if (fromServer) "AB" else "0x1234"
    v("ajp13.len") = plen.toLong
    v("ajp13.code") = code.toLong
    val end = off + len
    def ajpString(o: Int): (String, Int) = { // (value, next offset) or null
      if (o + 2 > end) return null
      val sl = u16(d, o)
      if (sl == 0xffff) return ("", o + 2) // null string
      if (o + 2 + sl + 1 > end) return null
      (new String(d, o + 2, math.min(sl, 256), "UTF-8"), o + 2 + sl + 1)
    }
    if (code == 2 && !fromServer && off + 6 <= end) { // FORWARD_REQUEST
      val m = u8(d, off + 5)
      val method = ajpMethodNames.getOrElse(m, return s"$codeName")
      v("ajp13.method") = method
      val proto = ajpString(off + 6)
      if (proto != null) {
        val uri = ajpString(proto._2)
        if (uri != null) {
          v("ajp13.req_uri") = uri._1
          return s"$codeName $method ${uri._1}"
        }
      }
      s"$codeName $method"
    } else if (code == 4 && fromServer && off + 7 <= end) { // SEND_HEADERS
      val status = u16(d, off + 5)
      v("ajp13.status") = status.toLong
      s"$codeName $status"
    } else codeName
  }

  private lazy val dccpTypeNames: Array[String] = Array("Request", "Response",
    "Data", "Ack", "DataAck", "CloseReq", "Close", "Reset", "Sync", "SyncAck")

  /** DCCP (RFC 4340, IP protocol 33): generic header; the X bit selects
    * the 24-bit short or 48-bit extended sequence number. */
  private def dissectDccp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (off + 12 > end) return null
    protos += "dccp"
    val sp = u16(d, off); val dp = u16(d, off + 2)
    v("dccp.srcport") = sp.toLong
    v("dccp.dstport") = dp.toLong
    val tByte = u8(d, off + 8)
    val typ = (tByte >> 1) & 0x0f
    v("dccp.type") = typ.toLong
    val seq: Long =
      if ((tByte & 1) == 1 && off + 16 <= end)
        (u16(d, off + 10).toLong << 32) | u32(d, off + 12)
      else (u8(d, off + 9).toLong << 16) | u16(d, off + 10).toLong
    v("dccp.seq") = seq
    val name = if (typ < dccpTypeNames.length) dccpTypeNames(typ) else s"Type$typ"
    s"$sp → $dp [$name] Seq=$seq"
  }

  private lazy val pppoedCodeNames: Map[Int, String] = Map(
    0x09 -> "Active Discovery Initiation (PADI)",
    0x07 -> "Active Discovery Offer (PADO)",
    0x19 -> "Active Discovery Request (PADR)",
    0x65 -> "Active Discovery Session-confirmation (PADS)",
    0xa7 -> "Active Discovery Terminate (PADT)")

  /** PPPoE Discovery (RFC 2516, ethertype 0x8863): ver/type 0x11, code,
    * session id, then TLV tags (first tag surfaced). */
  private def dissectPppoed(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 6 || u8(d, off) != 0x11) return null
    protos += "pppoed"
    val code = u8(d, off + 1)
    if (d.length >= off + 10) {
      v("pppoed.tag") = u16(d, off + 6).toLong
      v("pppoed.tag_length") = u16(d, off + 8).toLong
    }
    pppoedCodeNames.getOrElse(code, f"Code 0x$code%02x")
  }

  /** Wake-on-LAN magic packet (UDP 9 / ethertype 0x0842): six 0xFF sync
    * bytes then sixteen repetitions of the target MAC. */
  private def dissectWol(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 102) return null
    var i = 0
    while (i < 6) { if ((d(off + i) & 0xff) != 0xff) return null; i += 1 }
    var r = 1
    while (r < 16) {
      var k = 0
      while (k < 6) {
        if (d(off + 6 + r * 6 + k) != d(off + 6 + k)) return null
        k += 1
      }
      r += 1
    }
    protos += "wol"
    val mac = (0 until 6).map(k => f"${d(off + 6 + k) & 0xff}%02x").mkString(":")
    v("wol.sync_stream") = "ffffffffffff"
    v("wol.mac") = mac
    s"MagicPacket for $mac"
  }

  /** IEEE 802.2 LLC — entered from an 802.3 frame whose EtherType field
    * is a LENGTH (< 0x0600). Surfaces DSAP/SSAP/control, then dispatches
    * the two classic LLC residents: STP BPDUs (DSAP/SSAP 0x42) and, via
    * SNAP (0xAA/0xAA, UI control), OUI-keyed payloads — Cisco CDP
    * (OUI 00:00:0C, PID 0x2000) and OUI 0 re-entering the EtherType
    * dispatch. Reference scope: wireduck sees these only as raw frames
    * (README.md:17 five default columns); layering here mirrors
    * Wireshark's eth:llc:stp / eth:llc:cdp chains. */
  private def dissectLlc(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 3) return null
    protos += "llc"
    val dsap = d(off) & 0xff
    val ssap = d(off + 1) & 0xff
    val ctrl = d(off + 2) & 0xff
    v("llc.dsap") = dsap.toLong
    v("llc.ssap") = ssap.toLong
    v("llc.control") = ctrl.toLong
    if (dsap == 0x42 && ssap == 0x42 && ctrl == 0x03)
      return dissectStp(d, off + 3, end, v, protos)
    if (dsap == 0xaa && ssap == 0xaa && ctrl == 0x03 && end - off >= 8) {
      val oui = ((d(off + 3) & 0xff) << 16) | ((d(off + 4) & 0xff) << 8) | (d(off + 5) & 0xff)
      val pid = u16(d, off + 6)
      v("llc.oui") = oui.toLong
      v("llc.type") = pid.toLong
      if (oui == 0x00000c && pid == 0x2000)
        return dissectCdp(d, off + 8, end, v, protos)
      // tier 40: the other Cisco SNAP control protocols
      if (oui == 0x00000c && pid == 0x0111) {
        val r = dissectUdld(d, off + 8, end, v, protos)
        if (r != null) return r
      }
      if (oui == 0x00000c && pid == 0x2004) {
        val r = dissectDtp(d, off + 8, end, v, protos)
        if (r != null) return r
      }
      if (oui == 0x00000c && pid == 0x2003) {
        val r = dissectVtp(d, off + 8, end, v, protos)
        if (r != null) return r
      }
      if (oui == 0x00000c && pid == 0x0104) {
        val r = dissectPagp(d, off + 8, end, v, protos)
        if (r != null) return r
      }
    }
    if (dsap == 0xfe && ssap == 0xfe && ctrl == 0x03) {
      val r = dissectIsis(d, off + 3, end, v, protos)
      if (r != null) return r
      // NLPID 0x81 on the OSI SAP = CLNP (ISO 8473)
      if (end - off >= 8 && u8(d, off + 3) == 0x81) {
        protos += "clnp"
        v("clnp.len") = u8(d, off + 4).toLong
        val t = u8(d, off + 7) & 0x1f
        v("clnp.type") = t.toLong
        return t match {
          case 0x1c => "CLNP DT"
          case 0x01 => "CLNP ER"
          case x => f"CLNP type 0x$x%02x"
        }
      }
    }
    if (dsap == 0x04 && ssap == 0x04) {
      val r = dissectSna(d, off + 3, end, v, protos)
      if (r != null) return r
    }
    if (dsap == 0xf0 && ssap == 0xf0 && ctrl == 0x03) {
      val r = dissectNetbios(d, off + 3, end, v, protos)
      if (r != null) return r
    }
    f"LLC dsap=0x$dsap%02x ssap=0x$ssap%02x"
  }

  /** Spanning Tree BPDU (IEEE 802.1D §9.3): configuration (type 0x00),
    * TCN (0x80) and RSTP (0x02) BPDUs; bridge/root IDs split into the
    * 16-bit priority + 6-byte system MAC exactly as 802.1D lays them
    * out. Info string follows tshark's packet-stp template
    * ("Conf. Root = prio/ext/mac  Cost = n  Port = 0x…"). */
  private def dissectStp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 4) return null
    protos += "stp"
    val proto = u16(d, off)
    val ver = d(off + 2) & 0xff
    val tpe = d(off + 3) & 0xff
    v("stp.protocol") = proto.toLong
    v("stp.version") = ver.toLong
    v("stp.type") = tpe.toLong
    if (tpe == 0x80) return "Topology Change Notification"
    if (end - off < 35) return "Spanning Tree Protocol"
    val flags = d(off + 4) & 0xff
    val rootPrio = u16(d, off + 5)
    val rootHw = macStr(d, off + 7)
    val cost = u32(d, off + 13)
    val brPrio = u16(d, off + 17)
    val brHw = macStr(d, off + 19)
    val port = u16(d, off + 25)
    v("stp.flags") = flags.toLong
    v("stp.root.prio") = (rootPrio & 0xf000).toLong
    v("stp.root.hw") = rootHw
    v("stp.root.cost") = cost
    v("stp.bridge.prio") = (brPrio & 0xf000).toLong
    v("stp.bridge.hw") = brHw
    v("stp.port") = port.toLong
    val kind = if (tpe == 0x02) "RST." else "Conf."
    f"$kind Root = ${rootPrio & 0xf000}/${rootPrio & 0x0fff}/$rootHw  Cost = $cost  Port = 0x$port%04x"
  }

  /** Cisco Discovery Protocol (over LLC/SNAP OUI 00:00:0C PID 0x2000):
    * version/TTL/checksum header + the TLV walk for the three
    * identity-bearing TLVs — Device ID (1), Port ID (3), Platform (6). */
  private def dissectCdp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 4) return null
    protos += "cdp"
    v("cdp.version") = (d(off) & 0xff).toLong
    v("cdp.ttl") = (d(off + 1) & 0xff).toLong
    v("cdp.checksum") = u16(d, off + 2).toLong
    var p = off + 4
    var devId: String = null
    var portId: String = null
    while (p + 4 <= end) {
      val t = u16(d, p)
      val l = u16(d, p + 2)
      if (l < 4 || p + l > end) { p = end } // malformed TLV: stop
      else {
        val s = new String(d, p + 4, l - 4, java.nio.charset.StandardCharsets.UTF_8)
        t match {
          case 1 => v("cdp.deviceid") = s; devId = s
          case 3 => v("cdp.portid") = s; portId = s
          case 6 => v("cdp.platform") = s
          case _ =>
        }
        p += l
      }
    }
    if (devId != null && portId != null) s"Device ID: $devId  Port ID: $portId"
    else "Cisco Discovery Protocol"
  }

  /** LACP (IEEE 802.3ad Slow Protocols, EtherType 0x8809 subtype 1):
    * version + the actor TLV's system ID / key / port / state — the
    * fields a bonding health check reads. Layered eth:ethertype:slow:lacp
    * as Wireshark does. */
  private def dissectSlow(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 1) return null
    protos += "slow"
    val subtype = d(off) & 0xff
    v("slow.subtype") = subtype.toLong
    // 802.3ah link OAM (subtype 3): flags + code
    if (subtype == 3 && end - off >= 4) {
      protos += "oampdu"
      v("oampdu.flags") = u16(d, off + 1).toLong
      val code = u8(d, off + 3)
      v("oampdu.code") = code.toLong
      return code match {
        case 0 => "OAMPDU: Information"
        case 1 => "OAMPDU: Event Notification"
        case c => f"OAMPDU code 0x$c%02x"
      }
    }
    if (subtype != 1 || end - off < 20) return f"Slow Protocols (subtype $subtype)"
    protos += "lacp"
    v("lacp.version") = (d(off + 1) & 0xff).toLong
    // actor TLV: type(1) len(20) sysprio(2) sysid(6) key(2) portprio(2) port(2) state(1)
    if ((d(off + 2) & 0xff) == 1) {
      v("lacp.actor.sysid") = macStr(d, off + 6)
      v("lacp.actor.key") = u16(d, off + 12).toLong
      v("lacp.actor.port") = u16(d, off + 16).toLong
      v("lacp.actor.state") = (d(off + 18) & 0xff).toLong
    }
    "LACPDU"
  }

  private lazy val ptpMsgNames: Map[Int, String] = Map(
    0 -> "Sync", 1 -> "Delay_Req", 2 -> "Path_Delay_Req", 3 -> "Path_Delay_Resp",
    8 -> "Follow_Up", 9 -> "Delay_Resp", 10 -> "Path_Delay_Resp_Follow_Up",
    11 -> "Announce", 12 -> "Signalling", 13 -> "Management")

  /** PTPv2 (IEEE 1588-2008): common header — messageId nibble, version,
    * domain, flags, source clock identity, sequenceId. Reached both over
    * UDP 319/320 and raw Ethernet 0x88F7. */
  private def dissectPtp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 34) return null
    val msgId = d(off) & 0x0f
    val ver = d(off + 1) & 0x0f
    if (ver != 2) return null
    protos += "ptp"
    v("ptp.v2.messageid") = msgId.toLong
    v("ptp.v2.versionptp") = ver.toLong
    v("ptp.v2.domainnumber") = (d(off + 4) & 0xff).toLong
    v("ptp.v2.flags") = u16(d, off + 6).toLong
    v("ptp.v2.clockidentity") = (u32(d, off + 20) << 32) | u32(d, off + 24)
    v("ptp.v2.sequenceid") = u16(d, off + 30).toLong
    s"${ptpMsgNames.getOrElse(msgId, f"Reserved (0x$msgId%x)")} Message"
  }

  private lazy val coapMethodNames: Map[Int, String] = Map(
    1 -> "GET", 2 -> "POST", 3 -> "PUT", 4 -> "DELETE")
  private lazy val coapTypeNames: Array[String] = Array("CON", "NON", "ACK", "RST")

  /** CoAP (RFC 7252, UDP 5683): version-1 fixed header — type, code
    * (class.detail), message id. */
  private def dissectCoap(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val b0 = u8(d, off)
    if ((b0 >> 6) != 1) return null // version 1
    val tkl = b0 & 0x0f
    if (tkl > 8) return null
    val tpe = (b0 >> 4) & 0x3
    val code = u8(d, off + 1)
    val mid = u16(d, off + 2)
    protos += "coap"
    v("coap.type") = tpe.toLong
    v("coap.code") = code.toLong
    v("coap.mid") = mid.toLong
    val codeName = coapMethodNames.getOrElse(code,
      if (code == 0) "Empty" else s"${code >> 5}.${"%02d".format(code & 0x1f)}")
    // proper option walk (RFC 7252 §3.1) tracking Content-Format (#12);
    // any malformed delta/length aborts the walk and the 0xFF scan below
    // still finds the payload
    var p = off + 4 + tkl
    val lim = off + len
    var optNum = 0
    var contentFormat = -1
    var walking = true
    var wp = p
    while (walking && wp < lim && u8(d, wp) != 0xff) {
      val ob = u8(d, wp)
      var delta = ob >> 4
      var olen = ob & 0x0f
      var h = wp + 1
      if (delta == 13) { if (h < lim) { delta = 13 + u8(d, h); h += 1 } else walking = false }
      else if (delta == 14) { if (h + 1 < lim) { delta = 269 + u16(d, h); h += 2 } else walking = false }
      else if (delta == 15) walking = false
      if (walking) {
        if (olen == 13) { if (h < lim) { olen = 13 + u8(d, h); h += 1 } else walking = false }
        else if (olen == 14) { if (h + 1 < lim) { olen = 269 + u16(d, h); h += 2 } else walking = false }
        else if (olen == 15) walking = false
      }
      if (walking && h + olen <= lim) {
        optNum += delta
        if (optNum == 12) { // Content-Format
          contentFormat = 0
          var k = 0
          while (k < olen) { contentFormat = (contentFormat << 8) | u8(d, h + k); k += 1 }
        }
        wp = h + olen
      } else walking = false
    }
    while (p < lim && u8(d, p) != 0xff) p += 1
    if (p + 1 < lim && u8(d, p) == 0xff) {
      // OMA LwM2M TLV content (formats 11542/11543): type byte — bits
      // 7-6 kind, bit 5 selects a 16-bit identifier, bits 4-3 length
      // width or bits 2-0 an inline length
      if (contentFormat == 11542 || contentFormat == 11543) {
        val tb = u8(d, p + 1)
        val wideId = (tb & 0x20) != 0
        if (p + (if (wideId) 3 else 2) < lim) {
          protos += "lwm2mtlv"
          val ident =
            if (wideId) u16(d, p + 2) else u8(d, p + 2)
          v("lwm2mtlv.identifier") = ident.toLong
          val lenBits = (tb >> 3) & 0x3
          val vOff = p + 2 + (if (wideId) 2 else 1)
          val vLen: Long =
            if (lenBits == 0) (tb & 0x7).toLong
            else if (lenBits == 1 && vOff < lim) u8(d, vOff).toLong
            else if (lenBits == 2 && vOff + 1 < lim) u16(d, vOff).toLong
            else -1L
          if (vLen >= 0) v("lwm2mtlv.length") = vLen
          return s"${coapTypeNames(tpe)} $codeName MID=$mid, LwM2M TLV"
        }
      }
      val ib = u8(d, p + 1)
      val major = ib >> 5
      protos += "cbor"
      v("cbor.type") = major.toLong
      if (major == 0 && (ib & 0x1f) < 24)
        v("cbor.type.uint") = (ib & 0x1f).toLong
      return s"${coapTypeNames(tpe)} $codeName MID=$mid, CBOR"
    }
    s"${coapTypeNames(tpe)} $codeName MID=$mid"
  }

  private lazy val smtpCommands = Set("HELO", "EHLO", "MAIL", "RCPT", "DATA",
    "RSET", "VRFY", "EXPN", "HELP", "NOOP", "QUIT", "AUTH", "STARTTLS",
    "BDAT")

  /** SMTP (RFC 5321, TCP 25/587): command/reply lines. Wireshark info
    * convention: "C: <line>" / "S: <line>". Message content (post-DATA)
    * is out of scope — only the first line of a segment is classified,
    * and non-command client lines on the mail ports are message payload
    * rendered as "C: DATA fragment". */
  private def dissectSmtp(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val text = new String(d, off, math.min(len, 2048), "ISO-8859-1")
    val le = text.indexOf("\r\n")
    if (le < 0) return null
    val line = text.substring(0, le)
    if (fromServer) {
      if (line.length < 3 || !line.take(3).forall(c => c >= '0' && c <= '9') ||
        (line.length > 3 && line(3) != ' ' && line(3) != '-')) return null
      protos += "smtp"
      v("smtp.response.code") = line.take(3).toLong
      if (line.length > 4) v("smtp.rsp.parameter") = line.substring(4)
      s"S: $line"
    } else {
      val sp1 = line.indexOf(' ')
      val cmd = (if (sp1 < 0) line else line.substring(0, sp1)).toUpperCase
      if (!smtpCommands.contains(cmd)) {
        // client bytes that are not a command are DATA payload; claim them
        // only when the conversation is already SMTP (port-gated anyway)
        protos += "smtp"
        return "C: DATA fragment"
      }
      protos += "smtp"
      v("smtp.req.command") = cmd
      if (sp1 >= 0 && sp1 + 1 < line.length) v("smtp.req.parameter") = line.substring(sp1 + 1)
      s"C: $line"
    }
  }

  /** POP3 (RFC 1939, TCP 110): "+OK"/"-ERR" replies, short command
    * requests ("C: ..." / "S: ..." Wireshark info convention). */
  private def dissectPop(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3) return null
    val text = new String(d, off, math.min(len, 1024), "ISO-8859-1")
    val le = text.indexOf("\r\n")
    if (le < 0) return null
    val line = text.substring(0, le)
    if (fromServer) {
      if (!line.startsWith("+OK") && !line.startsWith("-ERR")) return null
      protos += "pop"
      val sp1 = line.indexOf(' ')
      v("pop.response.indicator") = if (sp1 < 0) line else line.substring(0, sp1)
      if (sp1 >= 0 && sp1 + 1 < line.length) v("pop.response.description") = line.substring(sp1 + 1)
      s"S: $line"
    } else {
      val sp1 = line.indexOf(' ')
      val cmd = (if (sp1 < 0) line else line.substring(0, sp1)).toUpperCase
      if (cmd.length < 3 || cmd.length > 4 ||
        !cmd.forall(c => c >= 'A' && c <= 'Z')) return null
      protos += "pop"
      v("pop.request.command") = cmd
      if (sp1 >= 0 && sp1 + 1 < line.length) v("pop.request.parameter") = line.substring(sp1 + 1)
      s"C: $line"
    }
  }

  /** IMAP (RFC 3501, TCP 143): tagged request/response lines —
    * "a1 LOGIN …" / "a1 OK …" or untagged "* …" server data. */
  private def dissectImap(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val text = new String(d, off, math.min(len, 1024), "ISO-8859-1")
    val le = text.indexOf("\r\n")
    if (le < 0) return null
    val line = text.substring(0, le)
    val sp1 = line.indexOf(' ')
    if (sp1 <= 0 || sp1 + 1 >= line.length) return null
    val tag = line.substring(0, sp1)
    val tagOk = tag == "*" || tag == "+" ||
      tag.forall(c => c.isLetterOrDigit || c == '.') && tag.length <= 16
    if (!tagOk) return null
    protos += "imap"
    if (fromServer) {
      v("imap.response.tag") = tag
      s"Response: $line"
    } else {
      val rest = line.substring(sp1 + 1)
      val sp2 = rest.indexOf(' ')
      val cmd = (if (sp2 < 0) rest else rest.substring(0, sp2)).toUpperCase
      if (cmd.isEmpty || !cmd.forall(c => c >= 'A' && c <= 'Z')) return null
      v("imap.request.tag") = tag
      v("imap.request.command") = cmd
      s"Request: $line"
    }
  }

  private lazy val telnetCmdNames: Map[Int, String] = Map(
    251 -> "Will", 252 -> "Won't", 253 -> "Do", 254 -> "Don't")

  /** Telnet (TCP 23): IAC negotiation walk — the first command/option is
    * surfaced; data bytes render tshark's "Telnet Data ..." info. */
  private def dissectTelnet(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 1) return null
    protos += "telnet"
    if (len >= 3 && u8(d, off) == 255) {
      val cmd = u8(d, off + 1)
      telnetCmdNames.get(cmd).foreach { nm =>
        v("telnet.cmd") = s"$nm option ${u8(d, off + 2)}"
      }
    }
    // TN3270 (tier 57): in binary mode a 3270 data stream leads with its
    // command code and the record ends with IAC EOR (0xFF 0xEF)
    if (len >= 4 && u8(d, off) != 255 &&
      u8(d, off + len - 2) == 0xff && u8(d, off + len - 1) == 0xef) {
      val cc = u8(d, off)
      val known = Set(0x01, 0x05, 0x0d, 0x0f, 0x11, 0x6f, 0xf1, 0xf5, 0x7e, 0xf3)
      if (known.contains(cc)) {
        protos += "tn3270"
        v("tn3270.command_code") = cc.toLong
        return (cc match {
          case 0xf5 | 0x05 => "Erase/Write"
          case 0xf1 | 0x01 => "Write"
          case 0x6f | 0x0f => "Erase All Unprotected"
          case c => f"3270 command 0x$c%02x"
        })
      }
    }
    "Telnet Data ..."
  }

  private val h2Preface: Array[Byte] = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("ISO-8859-1")

  private def isH2Preface(d: Array[Byte], off: Int, len: Int): Boolean = {
    if (len < h2Preface.length) return false
    var i = 0
    while (i < h2Preface.length) { if (d(off + i) != h2Preface(i)) return false; i += 1 }
    true
  }

  /** True when [off, off+len) is a STRICT prefix of the client preface
    * (len < preface length, all bytes match). */
  private def isH2PrefacePrefix(d: Array[Byte], off: Int, len: Int): Boolean = {
    if (len >= h2Preface.length || len == 0) return false
    var i = 0
    while (i < len) { if (d(off + i) != h2Preface(i)) return false; i += 1 }
    true
  }

  /** Bytes consumed by the preface (when present) plus every COMPLETE h2
    * frame from `off`; -1 when the buffer doesn't start on a plausible
    * frame boundary (mid-frame continuation of an unseen run). */
  private def h2Consumed(d: Array[Byte], off: Int, len: Int, pref: Boolean): Int = {
    val end = off + len
    var i = off + (if (pref) h2Preface.length else 0)
    val first = i
    var lastComplete = i
    var stop = false
    while (!stop && i + 9 <= end) {
      val flen = ((d(i) & 0xff) << 16) | ((d(i + 1) & 0xff) << 8) | (d(i + 2) & 0xff)
      val ftype = d(i + 3) & 0xff
      if (ftype > 9) {
        if (lastComplete == first && !pref) return -1
        stop = true
      } else if (i + 9 + flen > end) stop = true // incomplete: tail carries
      else { i += 9 + flen; lastComplete = i }
    }
    lastComplete - off
  }

  /** Is the unconsumed tail a plausible partial frame (short header, or a
    * valid header whose payload hasn't fully arrived)? Garbage tails must
    * be dropped, not carried until MaxCarry. */
  private def h2TailPlausible(d: Array[Byte], at: Int, end: Int): Boolean = {
    val n = end - at
    if (n <= 0) return false
    if (n < 9) return true // header itself incomplete: can't judge, wait
    val ftype = d(at + 3) & 0xff
    val flen = ((d(at) & 0xff) << 16) | ((d(at + 1) & 0xff) << 8) | (d(at + 2) & 0xff)
    ftype <= 9 && at + 9 + flen > end
  }

  private lazy val http2FrameNames: Map[Int, String] = Map(
    0 -> "DATA", 1 -> "HEADERS", 2 -> "PRIORITY", 3 -> "RST_STREAM",
    4 -> "SETTINGS", 5 -> "PUSH_PROMISE", 6 -> "PING", 7 -> "GOAWAY",
    8 -> "WINDOW_UPDATE", 9 -> "CONTINUATION")

  /** Reason phrases for the h2 HEADERS info line (h2 carries only the
    * :status code; the phrase matches what tshark renders for the codes
    * the HPACK static table can express). */
  private lazy val httpStatusPhrases: Map[String, String] = Map(
    "200" -> "OK", "204" -> "No Content", "206" -> "Partial Content",
    "304" -> "Not Modified", "400" -> "Bad Request", "404" -> "Not Found",
    "500" -> "Internal Server Error")

  /** HPACK static table, RFC 7541 Appendix A (1-based; "" = no value). */
  private lazy val hpackStatic: Array[(String, String)] = Array(
    ("", ""),
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""), ("access-control-allow-origin", ""),
    ("age", ""), ("allow", ""), ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""), ("content-location", ""),
    ("content-range", ""), ("content-type", ""), ("cookie", ""), ("date", ""),
    ("etag", ""), ("expect", ""), ("expires", ""), ("from", ""), ("host", ""),
    ("if-match", ""), ("if-modified-since", ""), ("if-none-match", ""),
    ("if-range", ""), ("if-unmodified-since", ""), ("last-modified", ""),
    ("link", ""), ("location", ""), ("max-forwards", ""),
    ("proxy-authenticate", ""), ("proxy-authorization", ""), ("range", ""),
    ("referer", ""), ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""), ("via", ""),
    ("www-authenticate", ""))

  /** RFC 7541 Appendix B Huffman code table — (code, bit length) per
    * symbol 0–255 plus EOS (256). Public constants vendored verbatim;
    * codes are ≤30 bits so an Int holds them. */
  private lazy val hpackHuffLens: Array[Int] = Array(
    13, 23, 28, 28, 28, 28, 28, 28, 28, 24, 30, 28, 28, 30, 28, 28,
    28, 28, 28, 28, 28, 28, 30, 28, 28, 28, 28, 28, 28, 28, 28, 28,
     6, 10, 10, 12, 13,  6,  8, 11, 10, 10,  8, 11,  8,  6,  6,  6,
     5,  5,  5,  6,  6,  6,  6,  6,  6,  6,  7,  8, 15,  6, 12, 10,
    13,  6,  7,  7,  7,  7,  7,  7,  7,  7,  7,  7,  7,  7,  7,  7,
     7,  7,  7,  7,  7,  7,  7,  7,  8,  7,  8, 13, 19, 13, 14,  6,
    15,  5,  6,  5,  6,  5,  6,  6,  6,  5,  7,  7,  6,  6,  6,  5,
     6,  7,  6,  5,  5,  6,  7,  7,  7,  7,  7, 15, 11, 14, 13, 28,
    20, 22, 20, 20, 22, 22, 22, 23, 22, 23, 23, 23, 23, 23, 24, 23,
    24, 24, 22, 23, 24, 23, 23, 23, 23, 21, 22, 23, 22, 23, 23, 24,
    22, 21, 20, 22, 22, 23, 23, 21, 23, 22, 22, 24, 21, 22, 23, 23,
    21, 21, 22, 21, 23, 22, 23, 23, 20, 22, 22, 22, 23, 22, 22, 23,
    26, 26, 20, 19, 22, 23, 22, 25, 26, 26, 26, 27, 27, 26, 24, 25,
    19, 21, 26, 27, 27, 26, 27, 24, 21, 21, 26, 26, 28, 27, 27, 27,
    20, 24, 20, 21, 22, 21, 21, 23, 22, 22, 25, 25, 24, 24, 26, 23,
    26, 27, 26, 26, 27, 27, 27, 27, 27, 28, 27, 27, 27, 27, 27, 26,
    30)
  private lazy val hpackHuffCodes: Array[Int] = Array(
    0x1ff8, 0x7fffd8, 0xfffffe2, 0xfffffe3, 0xfffffe4, 0xfffffe5,
    0xfffffe6, 0xfffffe7, 0xfffffe8, 0xffffea, 0x3ffffffc, 0xfffffe9,
    0xfffffea, 0x3ffffffd, 0xfffffeb, 0xfffffec, 0xfffffed, 0xfffffee,
    0xfffffef, 0xffffff0, 0xffffff1, 0xffffff2, 0x3ffffffe, 0xffffff3,
    0xffffff4, 0xffffff5, 0xffffff6, 0xffffff7, 0xffffff8, 0xffffff9,
    0xffffffa, 0xffffffb,
    0x14, 0x3f8, 0x3f9, 0xffa, 0x1ff9, 0x15, 0xf8, 0x7fa,
    0x3fa, 0x3fb, 0xf9, 0x7fb, 0xfa, 0x16, 0x17, 0x18,
    0x0, 0x1, 0x2, 0x19, 0x1a, 0x1b, 0x1c, 0x1d,
    0x1e, 0x1f, 0x5c, 0xfb, 0x7ffc, 0x20, 0xffb, 0x3fc,
    0x1ffa, 0x21, 0x5d, 0x5e, 0x5f, 0x60, 0x61, 0x62,
    0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a,
    0x6b, 0x6c, 0x6d, 0x6e, 0x6f, 0x70, 0x71, 0x72,
    0xfc, 0x73, 0xfd, 0x1ffb, 0x7fff0, 0x1ffc, 0x3ffc, 0x22,
    0x7ffd, 0x3, 0x23, 0x4, 0x24, 0x5, 0x25, 0x26,
    0x27, 0x6, 0x74, 0x75, 0x28, 0x29, 0x2a, 0x7,
    0x2b, 0x76, 0x2c, 0x8, 0x9, 0x2d, 0x77, 0x78,
    0x79, 0x7a, 0x7b, 0x7ffe, 0x7fc, 0x3ffd, 0x1ffd, 0xffffffc,
    0xfffe6, 0x3fffd2, 0xfffe7, 0xfffe8, 0x3fffd3, 0x3fffd4, 0x3fffd5,
    0x7fffd9, 0x3fffd6, 0x7fffda, 0x7fffdb, 0x7fffdc, 0x7fffdd, 0x7fffde,
    0xffffeb, 0x7fffdf, 0xffffec, 0xffffed, 0x3fffd7, 0x7fffe0, 0xffffee,
    0x7fffe1, 0x7fffe2, 0x7fffe3, 0x7fffe4, 0x1fffdc, 0x3fffd8, 0x7fffe5,
    0x3fffd9, 0x7fffe6, 0x7fffe7, 0xffffef, 0x3fffda, 0x1fffdd, 0xfffe9,
    0x3fffdb, 0x3fffdc, 0x7fffe8, 0x7fffe9, 0x1fffde, 0x7fffea, 0x3fffdd,
    0x3fffde, 0xfffff0, 0x1fffdf, 0x3fffdf, 0x7fffeb, 0x7fffec, 0x1fffe0,
    0x1fffe1, 0x3fffe0, 0x1fffe2, 0x7fffed, 0x3fffe1, 0x7fffee, 0x7fffef,
    0xfffea, 0x3fffe2, 0x3fffe3, 0x3fffe4, 0x7ffff0, 0x3fffe5, 0x3fffe6,
    0x7ffff1, 0x3ffffe0, 0x3ffffe1, 0xfffeb, 0x7fff1, 0x3fffe7, 0x7ffff2,
    0x3fffe8, 0x1ffffec, 0x3ffffe2, 0x3ffffe3, 0x3ffffe4, 0x7ffffde,
    0x7ffffdf, 0x3ffffe5, 0xfffff1, 0x1ffffed, 0x7fff2, 0x1fffe3,
    0x3ffffe6, 0x7ffffe0, 0x7ffffe1, 0x3ffffe7, 0x7ffffe2, 0xfffff2,
    0x1fffe4, 0x1fffe5, 0x3ffffe8, 0x3ffffe9, 0xffffffd, 0x7ffffe3,
    0x7ffffe4, 0x7ffffe5, 0xfffec, 0xfffff3, 0xfffed, 0x1fffe6,
    0x3fffe9, 0x1fffe7, 0x1fffe8, 0x7ffff3, 0x3fffea, 0x3fffeb,
    0x1ffffee, 0x1ffffef, 0xfffff4, 0xfffff5, 0x3ffffea, 0x7ffff4,
    0x3ffffeb, 0x7ffffe6, 0x3ffffec, 0x3ffffed, 0x7ffffe7, 0x7ffffe8,
    0x7ffffe9, 0x7ffffea, 0x7ffffeb, 0xffffffe, 0x7ffffec, 0x7ffffed,
    0x7ffffee, 0x7ffffef, 0x7fffff0, 0x3ffffee,
    0x3fffffff)

  private[pcap] def hpackHuffCode(sym: Int): Int = hpackHuffCodes(sym)
  private[pcap] def hpackHuffLen(sym: Int): Int = hpackHuffLens(sym)

  /** Binary decode trie over the Appendix B codes, flat two-slots-per-node:
    * `trie(node*2+bit)` is a child node index, `-(symbol+1)` at a leaf, or
    * 0 where no code continues (invalid input). */
  private lazy val hpackHuffTrie: Array[Int] = {
    val buf = mutable.ArrayBuffer(0, 0)
    var sym = 0
    while (sym <= 256) {
      val code = hpackHuffCodes(sym)
      var b = hpackHuffLens(sym) - 1
      var node = 0
      while (b >= 0) {
        val slot = node * 2 + ((code >>> b) & 1)
        if (b == 0) buf(slot) = -(sym + 1)
        else {
          if (buf(slot) == 0) { buf(slot) = buf.length / 2; buf += 0; buf += 0 }
          node = buf(slot)
        }
        b -= 1
      }
      sym += 1
    }
    buf.toArray
  }

  /** Decode a Huffman-coded HPACK string literal (RFC 7541 §5.2). Null on
    * an invalid code, an embedded EOS, or padding that is not a ≤7-bit
    * all-ones EOS prefix — callers fall back to the opaque placeholder so
    * a bad block never yields wrong header values. Package-visible for the
    * RFC Appendix C test vectors. */
  private[pcap] def huffDecode(d: Array[Byte], off: Int, len: Int): String = {
    val trie = hpackHuffTrie
    val sb = new java.lang.StringBuilder(len + (len >> 1) + 4)
    var node = 0
    var pending = 0    // bits consumed since the last emitted symbol
    var padOnes = true // ... and all of them are 1s (an EOS prefix)
    var i = off
    val end = off + len
    while (i < end) {
      val by = u8(d, i)
      var b = 7
      while (b >= 0) {
        if (((by >>> b) & 1) == 0) padOnes = false
        val slot = trie(node * 2 + ((by >>> b) & 1))
        if (slot == 0) return null // no such code
        else if (slot < 0) {
          val symbol = -slot - 1
          if (symbol == 256) return null // EOS inside the stream is an error
          sb.append(symbol.toChar) // ISO-8859-1: octet == char
          node = 0; pending = 0; padOnes = true
        } else { node = slot; pending += 1 }
        b -= 1
      }
      i += 1
    }
    if (pending >= 8 || !padOnes) null else sb.toString
  }

  /** HPACK prefixed integer (RFC 7541 §5.1): (value, index after) or null
    * when truncated/absurd. */
  private def hpackInt(d: Array[Byte], at: Int, end: Int, prefixBits: Int): (Long, Int) = {
    val mask = (1 << prefixBits) - 1
    var v = (u8(d, at) & mask).toLong
    var i = at + 1
    if (v == mask) {
      var shift = 0
      var cont = true
      while (cont) {
        if (i >= end || shift > 28) return null
        val b = u8(d, i); i += 1
        v += (b & 0x7f).toLong << shift
        shift += 7
        cont = (b & 0x80) != 0
      }
    }
    (v, i)
  }

  /** Decode an HPACK header block using the static table, raw-literal
    * strings, Appendix B Huffman-coded strings (RFC 7541 §6), and — when
    * the owning conversation is known — the per-direction DYNAMIC table:
    * incremental-indexing literals insert at the front of the sending
    * direction's table (evicting from the back past `hpackMax`, §4.2),
    * indexed references >= 62 resolve against it, and table-size updates
    * resize it. A reference past the table's end (capture started
    * mid-stream) or a malformed Huffman coding yields an opaque
    * placeholder instead of a wrong value; placeholder strings still
    * occupy their table slot so later indices stay aligned. */
  private def decodeHpack(d: Array[Byte], start: Int, end: Int,
      conv: TcpConv = null, dir: Int = -1): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, String)]
    val tbl: mutable.ArrayBuffer[(String, String)] =
      if (conv == null || dir < 0) null
      else {
        if (conv.hpackTable(dir) == null)
          conv.hpackTable(dir) = mutable.ArrayBuffer.empty[(String, String)]
        conv.hpackTable(dir)
      }
    def entrySize(e: (String, String)): Int = e._1.length + e._2.length + 32
    def evict(): Unit =
      while (conv.hpackSize(dir) > conv.hpackMax(dir) && tbl.nonEmpty) {
        conv.hpackSize(dir) -= entrySize(tbl.remove(tbl.length - 1))
      }
    def insert(name: String, value: String): Unit = if (tbl != null) {
      tbl.insert(0, (name, value))
      conv.hpackSize(dir) += name.length + value.length + 32
      evict()
    }
    def dynAt(idx: Long): (String, String) = {
      val k = idx - hpackStatic.length // 0 = most recent insertion
      if (tbl != null && k >= 0 && k < tbl.length) tbl(k.toInt)
      else ("<dynamic>", "<dynamic>")
    }
    def str(at: Int): (String, Int) = {
      if (at >= end) return null
      val huff = (u8(d, at) & 0x80) != 0
      val li = hpackInt(d, at, end, 7)
      if (li == null) return null
      val (slen, sstart) = li
      if (slen > end - sstart) return null
      val s =
        if (huff) huffDecode(d, sstart, slen.toInt) match {
          case null => "<huffman>" // malformed coding: opaque, never wrong
          case dec  => dec
        }
        else new String(d, sstart, slen.toInt, "ISO-8859-1")
      (s, sstart + slen.toInt)
    }
    def nameAt(idx: Long): String =
      if (idx >= 1 && idx < hpackStatic.length) hpackStatic(idx.toInt)._1
      else dynAt(idx)._1
    var i = start
    var ok = true
    while (ok && i < end && out.length < 64) {
      val b = u8(d, i)
      if ((b & 0x80) != 0) { // indexed header field
        hpackInt(d, i, end, 7) match {
          case null => ok = false
          case (idx, ni) =>
            if (idx >= 1 && idx < hpackStatic.length) out += hpackStatic(idx.toInt)
            else out += dynAt(idx)
            i = ni
        }
      } else if ((b & 0xe0) == 0x20) { // dynamic table size update (§6.3)
        hpackInt(d, i, end, 5) match {
          case null => ok = false
          case (sz, ni) =>
            if (tbl != null && sz <= (1 << 20)) { // sane ceiling: 1 MiB
              conv.hpackMax(dir) = sz.toInt
              evict()
            }
            i = ni
        }
      } else { // literal: incremental (01), without (0000) or never (0001)
        val incremental = (b & 0xc0) == 0x40
        val prefix = if (incremental) 6 else 4
        hpackInt(d, i, end, prefix) match {
          case null => ok = false
          case (idx, ni) =>
            var p = ni
            val name =
              if (idx == 0) str(p) match {
                case null => ok = false; null
                case (s, np) => p = np; s
              }
              else nameAt(idx)
            if (ok) str(p) match {
              case null => ok = false
              case (value, np) =>
                p = np
                out += ((name, value))
                if (incremental) insert(name, value)
                i = p
            }
        }
      }
    }
    out.toSeq
  }

  /** HTTP/2 frame sniffing (RFC 9113 §4.1): 9-byte frame headers walked
    * across the segment, tshark-style "Magic, SETTINGS[0], HEADERS[1]"
    * info. HEADERS payloads fully inside the segment decode their HPACK
    * block against the static table ([[decodeHpack]]) — request/response
    * pseudo-headers surface as http2.headers.* and drive the info line;
    * a content-type of application/grpc marks the conversation so DATA
    * frames dissect the gRPC length-prefixed message framing. Frames
    * spanning segments are not reassembled; a continuation segment that
    * doesn't start on a frame boundary falls back to the plain TCP
    * rendering. */
  private def dissectHttp2(
      d: Array[Byte], pstart: Int, plen: Int, isPreface: Boolean,
      conv: TcpConv,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      dir: Int = -1): String = {
    val parts = mutable.ArrayBuffer.empty[String]
    var i = pstart
    val end = pstart + plen
    if (isPreface) { parts += "Magic"; i += h2Preface.length }
    var firstType = -1L
    var firstStream = -1L
    var firstLen = -1L
    var firstFlags = -1L
    var sawGrpc = false
    var ok = true
    // decode one complete HPACK header block: fields + info label
    def decodeBlock(b: Array[Byte], boff: Int, bend: Int,
        frameName: String, sid: Long): Option[String] = {
      val hdrs = decodeHpack(b, boff, bend, conv, dir)
      def hv(n: String) = hdrs.collectFirst { case (`n`, value) => value }
      hv(":method").foreach(v("http2.headers.method") = _)
      hv(":path").foreach(v("http2.headers.path") = _)
      hv(":scheme").foreach(v("http2.headers.scheme") = _)
      hv(":authority").foreach(v("http2.headers.authority") = _)
      hv(":status").foreach(v("http2.headers.status") = _)
      if (hv("content-type").exists(_.startsWith("application/grpc")) && conv != null)
        conv.grpc = true
      (hv(":method"), hv(":path"), hv(":status")) match {
        case (Some(m), Some(p), _) => Some(s"$frameName[$sid]: $m $p")
        case (_, _, Some(st)) =>
          val phrase = httpStatusPhrases.getOrElse(st, "")
          Some(s"$frameName[$sid]: $st${if (phrase.nonEmpty) " " + phrase else ""}")
        case _ => None
      }
    }
    while (ok && i + 9 <= end) {
      val flen = ((d(i) & 0xff) << 16) | ((d(i + 1) & 0xff) << 8) | (d(i + 2) & 0xff)
      val ftype = d(i + 3) & 0xff
      val fflags = d(i + 4) & 0xff
      val sid = u32(d, i + 5) & 0x7fffffffL
      if (ftype > 9) ok = false // not a frame boundary: stop, keep what parsed
      else {
        val pStart = i + 9
        val pEnd = math.min(end, pStart + flen)
        var label = s"${http2FrameNames(ftype)}[$sid]"
        if (ftype == 8 && pStart + 4 <= end) // WINDOW_UPDATE (§6.9)
          v("http2.window_update.window_size_increment") =
            u32(d, pStart) & 0x7fffffffL
        if (ftype == 1 && pStart + flen <= end) {
          // HEADERS fully in this segment: skip PADDED/PRIORITY prelude
          var h = pStart
          var hEnd = pEnd
          if ((fflags & 0x08) != 0 && h < hEnd) { hEnd -= u8(d, h); h += 1 } // padded
          if ((fflags & 0x20) != 0) { // priority: E/dep(4) + weight(1)
            if (h + 5 <= hEnd) {
              v("http2.exclusive") = (u8(d, h) & 0x80) != 0
              v("http2.weight") = u8(d, h + 4).toLong
            }
            h += 5
          }
          if (h <= hEnd) {
            if ((fflags & 0x04) != 0) // END_HEADERS: decode now
              decodeBlock(d, h, hEnd, "HEADERS", sid).foreach(label = _)
            else if (conv != null && dir >= 0 && hEnd - h <= MaxCarry) {
              // block continues in CONTINUATION frames: stash per direction
              conv.h2Pending(dir) = java.util.Arrays.copyOfRange(d, h, hEnd)
              conv.h2PendingSid(dir) = sid
            }
          }
        } else if (ftype == 9 && conv != null && dir >= 0 &&
            conv.h2Pending(dir) != null && sid == conv.h2PendingSid(dir) &&
            pStart + flen <= end) {
          // CONTINUATION (RFC 9113 §6.10): append this fragment to the
          // pending block; END_HEADERS decodes the concatenation
          val appended = conv.h2Pending(dir) ++
            java.util.Arrays.copyOfRange(d, pStart, pEnd)
          if (appended.length > MaxCarry) {
            conv.h2Pending(dir) = null; conv.h2PendingSid(dir) = -1L
          } else if ((fflags & 0x04) != 0) {
            conv.h2Pending(dir) = null; conv.h2PendingSid(dir) = -1L
            decodeBlock(appended, 0, appended.length, "CONTINUATION", sid)
              .foreach(label = _)
          } else conv.h2Pending(dir) = appended
        } else if (ftype == 0 && conv != null && conv.grpc &&
            pStart + 5 <= pEnd) {
          // gRPC message framing (PROTOCOL-HTTP2): compressed flag + BE32 len
          val cflag = u8(d, pStart)
          val mlen = u32(d, pStart + 1)
          if (cflag <= 1) {
            if (!sawGrpc) { protos += "grpc"; sawGrpc = true }
            v("grpc.compressed_flag") = cflag == 1
            v("grpc.message_length") = mlen
            label = s"DATA[$sid] (GRPC message, length=$mlen)"
            // an uncompressed message opening with tag 0x0A (field 1,
            // length-delimited) surfaces the protobuf content layer —
            // without a schema the field NUMBER stands in for the name,
            // as Wireshark renders schema-less protobuf
            val msg = pStart + 5
            if (cflag == 0 && mlen >= 2L && msg + 2 <= pEnd &&
              u8(d, msg) == 0x0A) {
              val sl = u8(d, msg + 1)
              if (sl > 0 && sl < 0x80 && msg + 2 + sl <= pEnd) {
                val sv = new String(d, msg + 2, sl, "UTF-8")
                if (sv.forall(c => c >= 0x20 && c < 0x7f)) {
                  protos += "protobuf"
                  v("protobuf.field.name") = "1"
                  v("protobuf.field.value.string") = sv
                }
              }
            }
          }
        }
        parts += label
        if (firstType < 0) {
          firstType = ftype; firstStream = sid; firstLen = flen.toLong
          firstFlags = fflags.toLong
        }
        i += 9 + flen
      }
    }
    if (parts.isEmpty) return null
    protos.insert(protos.length - (if (sawGrpc) 1 else 0), "http2")
    if (firstType >= 0) {
      v("http2.type") = firstType
      v("http2.streamid") = firstStream
      v("http2.length") = firstLen
      v("http2.flags") = firstFlags
    }
    parts.mkString(", ")
  }

  private def tlsContentName(ctype: Int): String = ctype match {
    case 20 => "Change Cipher Spec"
    case 21 => "Alert"
    case 23 => "Application Data"
    case t  => s"TLS record type=$t"
  }

  /** Walk a ClientHello (starting at the handshake header): emits the
    * offered cipher suites (comma-joined hex, capped at 64 like a sane
    * tshark -T fields multi-occurrence), server_name (0), ALPN (16), and
    * supported_versions (43) extensions. @return SNI for the info column. */
  private def parseClientHello(d: Array[Byte], hs: Int, end: Int, v: FieldVec): Option[String] = {
    try {
      var sni: Option[String] = None
      var i = hs + 4 // type(1) + length(3)
      if (i + 34 <= end) v("tls.handshake.random") = hexBytes(d, i + 2, 32)
      i += 2 + 32 // client_version + random
      if (i >= end) return None
      val sidLen = u8(d, i)
      v("tls.handshake.session_id_length") = sidLen.toLong
      if (sidLen > 0 && i + 1 + sidLen <= end)
        v("tls.handshake.session_id") = hexBytes(d, i + 1, sidLen)
      i += 1 + sidLen // session_id
      if (i + 2 > end) return None
      val csLen = u16(d, i); i += 2 // cipher_suites
      if (csLen >= 2 && i + 2 <= end) {
        val suites = mutable.ArrayBuffer.empty[String]
        var c = i
        val csEnd = math.min(end, i + csLen)
        while (c + 2 <= csEnd && suites.length < 64) {
          suites += f"0x${u16(d, c)}%04x"
          c += 2
        }
        if (suites.nonEmpty) v("tls.handshake.ciphersuite") = suites.mkString(",")
      }
      i += csLen
      if (i + 1 > end) return None
      val compLen = u8(d, i); i += 1 + compLen // compression_methods
      if (i + 2 > end) return None
      v("tls.handshake.extensions_length") = u16(d, i).toLong
      val extEnd = math.min(end, i + 2 + u16(d, i)); i += 2
      var firstExt = true
      while (i + 4 <= extEnd) {
        val extType = u16(d, i)
        val extLen = u16(d, i + 2)
        if (firstExt) { v("tls.handshake.extension.type") = extType.toLong; firstExt = false }
        if (extType == 51 && i + 4 + extLen <= extEnd && extLen >= 4)
          // key_share (CH): client_shares_len(2) then group(2) …
          v("tls.handshake.extensions_key_share_group") = u16(d, i + 6).toLong
        if (extType == 0 && i + 4 + extLen <= extEnd && extLen >= 5) {
          // server_name_list: list_len(2) name_type(1) name_len(2) name
          val nameLen = u16(d, i + 7)
          if (i + 9 + nameLen <= extEnd)
            sni = Some(new String(d, i + 9, nameLen, "ISO-8859-1"))
        } else if (extType == 16 && i + 4 + extLen <= extEnd && extLen >= 4) {
          // alpn: list_len(2) then (len(1) proto)* — comma-join like tshark
          val names = mutable.ArrayBuffer.empty[String]
          var j = i + 6
          val alpnEnd = i + 4 + extLen
          while (j < alpnEnd) {
            val l = u8(d, j)
            if (l == 0 || j + 1 + l > alpnEnd) j = alpnEnd
            else { names += new String(d, j + 1, l, "ISO-8859-1"); j += 1 + l }
          }
          if (names.nonEmpty) v("tls.handshake.extensions_alpn_str") = names.mkString(",")
        } else if (extType == 43 && i + 4 + extLen <= extEnd && extLen >= 3) {
          // supported_versions (CH): list_len(1) then 2-byte versions
          val vers = mutable.ArrayBuffer.empty[String]
          var j = i + 5
          val vEnd = math.min(i + 4 + extLen, i + 5 + u8(d, i + 4))
          while (j + 2 <= vEnd) { vers += f"0x${u16(d, j)}%04x"; j += 2 }
          if (vers.nonEmpty) v("tls.handshake.extensions.supported_version") = vers.mkString(",")
        }
        i += 4 + extLen
      }
      sni.foreach(n => v("tls.handshake.extensions_server_name") = n)
      sni
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Walk a ServerHello: the negotiated cipher suite and (TLS 1.3) the
    * selected supported_version extension — the fields that pin down what
    * the connection actually negotiated. */
  private def parseServerHello(d: Array[Byte], hs: Int, end: Int, v: FieldVec): Unit = {
    try {
      var i = hs + 4
      i += 2 + 32 // server_version + random
      if (i >= end) return
      val sidLen = u8(d, i); i += 1 + sidLen
      if (i + 2 > end) return
      v("tls.handshake.ciphersuite") = f"0x${u16(d, i)}%04x"
      i += 2
      if (i + 1 > end) return
      i += 1 // compression method
      if (i + 2 > end) return
      val extEnd = math.min(end, i + 2 + u16(d, i)); i += 2
      while (i + 4 <= extEnd) {
        val extType = u16(d, i)
        val extLen = u16(d, i + 2)
        if (extType == 43 && extLen == 2 && i + 6 <= extEnd)
          v("tls.handshake.extensions.supported_version") = f"0x${u16(d, i + 4)}%04x"
        i += 4 + extLen
      }
    } catch { case _: ArrayIndexOutOfBoundsException => }
  }

  /** ARP (RFC 826): opcode + sender/target addresses; Wireshark-style
    * "Who has x? Tell y" / "x is at mac" info. */
  private def dissectArp(d: Array[Byte], off: Int, v: FieldVec): String = {
    if (d.length < off + 28) return "ARP"
    val op = u16(d, off + 6)
    val senderMac = macStr(d, off + 8)
    val senderIp = ipv4Str(d, off + 14)
    val targetIp = ipv4Str(d, off + 24)
    v("arp.hw.type") = u16(d, off).toLong
    v("arp.proto.type") = u16(d, off + 2).toLong
    v("arp.hw.size") = u8(d, off + 4).toLong
    v("arp.proto.size") = u8(d, off + 5).toLong
    v("arp.opcode") = op.toLong
    v("arp.src.hw_mac") = senderMac
    v("arp.src.proto_ipv4") = senderIp
    v("arp.dst.hw_mac") = macStr(d, off + 18)
    v("arp.dst.proto_ipv4") = targetIp
    op match {
      case 1 => s"Who has $targetIp? Tell $senderIp"
      case 2 => s"$senderIp is at $senderMac"
      case _ => "ARP"
    }
  }

  /** ICMP: type/code + echo id/seq; "Echo (ping) request/reply" info. */
  private def dissectIcmp(d: Array[Byte], off: Int, v: FieldVec): String = {
    if (d.length < off + 4) return "ICMP"
    val tpe = u8(d, off)
    val code = u8(d, off + 1)
    v("icmp.type") = tpe.toLong
    v("icmp.code") = code.toLong
    v("icmp.checksum") = u16(d, off + 2).toLong
    if ((tpe == 8 || tpe == 0) && d.length >= off + 8) {
      v("icmp.ident") = u16(d, off + 4).toLong
      v("icmp.seq") = u16(d, off + 6).toLong
      val idHex = "%04x".format(u16(d, off + 4))
      if (tpe == 8) s"Echo (ping) request  id=0x$idHex, seq=${u16(d, off + 6)}"
      else s"Echo (ping) reply    id=0x$idHex, seq=${u16(d, off + 6)}"
    } else tpe match {
      case 3 =>
        // code 4 = fragmentation needed: next-hop MTU in bytes 6-7
        if (code == 4 && d.length >= off + 8)
          v("icmp.mtu") = u16(d, off + 6).toLong
        "Destination unreachable"
      case 5 =>
        if (d.length >= off + 8)
          v("icmp.redir_gw") = ipv4Str(d, off + 4)
        "Redirect"
      case 11 => "Time-to-live exceeded"
      case _  => s"ICMP type=$tpe code=$code"
    }
  }

  /** DNS over UDP/53 (RFC 1035): header counts, QR flag, first question
    * name/type; "Standard query [response] 0x…" info. Returns null when
    * the payload does not parse as DNS. */
  /** @param protoName layer name appended on success — "dns", or "mdns"
    *                   for the same wire format on UDP 5353 (tshark keeps
    *                   the dns.* field names for mDNS). */
  private def dissectDns(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      protoName: String = "dns"): String = {
    if (end - off < 12) return null
    val id = u16(d, off)
    val flags = u16(d, off + 2)
    val qd = u16(d, off + 4)
    val an = u16(d, off + 6)
    if (qd > 32 || an > 128) return null // implausible header: not DNS
    protos += protoName
    val isResponse = (flags & 0x8000) != 0
    v("dns.id") = id.toLong
    v("dns.flags.response") = isResponse
    v("dns.flags.opcode") = ((flags >> 11) & 0xf).toLong
    v("dns.flags.authoritative") = (flags & 0x0400) != 0
    v("dns.flags.truncated") = (flags & 0x0200) != 0
    v("dns.flags.recdesired") = (flags & 0x0100) != 0
    v("dns.flags.recavail") = (flags & 0x0080) != 0
    v("dns.flags.authenticated") = (flags & 0x0020) != 0
    v("dns.flags.rcode") = (flags & 0xf).toLong
    v("dns.count.queries") = qd.toLong
    v("dns.count.answers") = an.toLong
    v("dns.count.auth_rr") = u16(d, off + 8).toLong
    v("dns.count.add_rr") = u16(d, off + 10).toLong
    // first question: labels until the 0 terminator, then qtype
    var qname: String = null
    var qtype = -1
    // the answer rdata the info renders, kept here: a field write may be
    // dropped when the scan does not read that field
    var ansA: String = null
    var ansCname: String = null
    var svcPrio = -1L
    var svcTarget: String = null
    var svcAlpn: String = null
    if (qd > 0) {
      val sb = new StringBuilder
      var i = off + 12
      var ok = true
      var guard = 0
      while (ok && i < end && d(i) != 0 && guard < 128) {
        val len = u8(d, i)
        if ((len & 0xc0) != 0 || i + 1 + len > end) ok = false
        else {
          if (sb.nonEmpty) sb.append('.')
          sb.append(new String(d, i + 1, len, "ISO-8859-1"))
          i += 1 + len
        }
        guard += 1
      }
      if (ok && i + 4 < end) {
        qname = sb.toString
        qtype = u16(d, i + 1)
        v("dns.qry.name") = qname
        v("dns.qry.type") = qtype.toLong
        v("dns.qry.class") = u16(d, i + 3).toLong
        // first answer record (responses): name / type / ttl / A address
        if (isResponse && an > 0 && qd == 1) {
          val ansAt = i + 5 // past 0-terminator + qtype + qclass
          readDnsName(d, ansAt, off, end).foreach { case (rname, after) =>
            if (after + 10 <= end) {
              val rtype = u16(d, after)
              val ttl = u32(d, after + 4)
              val rdlen = u16(d, after + 8)
              v("dns.resp.name") = rname
              v("dns.resp.type") = rtype.toLong
              v("dns.resp.class") = u16(d, after + 2).toLong
              v("dns.resp.ttl") = ttl
              v("dns.resp.len") = rdlen.toLong
              if (rtype == 1 && rdlen == 4 && after + 14 <= end) {
                ansA = ipv4Str(d, after + 10)
                v("dns.a") = ansA
              } else if (rtype == 28 && rdlen == 16 && after + 26 <= end)
                v("dns.aaaa") = ipv6Str(d, after + 10)
              else if (rtype == 12 && after + 10 + rdlen <= end)
                readDnsName(d, after + 10, off, end)
                  .foreach { case (pn, _) => v("dns.ptr.domain_name") = pn }
              else if (rtype == 2 && after + 10 + rdlen <= end)
                readDnsName(d, after + 10, off, end)
                  .foreach { case (ns, _) => v("dns.ns") = ns }
              else if (rtype == 15 && after + 12 + (rdlen - 2) <= end && rdlen > 2)
                readDnsName(d, after + 12, off, end)
                  .foreach { case (mx, _) => v("dns.mx.mail_exchange") = mx }
              else if (rtype == 16 && rdlen >= 1 && after + 11 <= end) {
                // TXT: one or more <len><chars> strings; surface the first
                val tl = u8(d, after + 10)
                if (after + 11 + tl <= end)
                  v("dns.txt") = new String(d, after + 11, tl, "ISO-8859-1")
              }
              else if (rtype == 33 && rdlen > 6 && after + 16 <= end) {
                // SRV (RFC 2782): priority(2) weight(2) port(2) target
                v("dns.srv.port") = u16(d, after + 14).toLong
                readDnsName(d, after + 16, off, end)
                  .foreach { case (t, _) => v("dns.srv.target") = t }
              }
              else if (rtype == 6 && after + 10 + rdlen <= end)
                readDnsName(d, after + 10, off, end)
                  .foreach { case (mn, _) => v("dns.soa.mname") = mn }
              else if (rtype == 5 && after + 10 + rdlen <= end)
                readDnsName(d, after + 10, off, end)
                  .foreach { case (cn, _) => ansCname = cn; v("dns.cname") = cn }
              else if ((rtype == 64 || rtype == 65) && rdlen >= 3 &&
                  after + 10 + rdlen <= end) {
                // SVCB / HTTPS RR (RFC 9460): SvcPriority, TargetName,
                // SvcParams (alpn=1 as length-prefixed ids, port=3)
                val rd = after + 10
                val rdEnd = rd + rdlen
                svcPrio = u16(d, rd).toLong
                v("dns.svcb.svcpriority") = svcPrio
                readDnsName(d, rd + 2, off, rdEnd).foreach { case (tgt, afterT) =>
                  svcTarget = if (tgt.isEmpty) "." else tgt
                  v("dns.svcb.target") = svcTarget
                  var p = afterT
                  while (p + 4 <= rdEnd) {
                    val key = u16(d, p)
                    val plen = u16(d, p + 2)
                    val pv = p + 4
                    if (pv + plen <= rdEnd) {
                      if (key == 1) { // alpn: list of length-prefixed ids
                        val ids = mutable.ArrayBuffer.empty[String]
                        var a = pv
                        while (a < pv + plen) {
                          val l = u8(d, a)
                          if (a + 1 + l <= pv + plen)
                            ids += new String(d, a + 1, l, "ISO-8859-1")
                          a += 1 + l
                        }
                        svcAlpn = ids.mkString(",")
                        v("dns.svcb.svcparam.alpn") = svcAlpn
                      } else if (key == 3 && plen == 2)
                        v("dns.svcb.svcparam.port") = u16(d, pv).toLong
                    }
                    p = pv + plen
                  }
                }
              }
            }
          }
        }
      }
    }
    def nameOf(t: Int): String = t match {
      case 1 => "A"; case 2 => "NS"; case 5 => "CNAME"; case 6 => "SOA"
      case 12 => "PTR"; case 15 => "MX"; case 16 => "TXT"; case 28 => "AAAA"
      case 33 => "SRV"; case 64 => "SVCB"; case 65 => "HTTPS"
      case 252 => "AXFR"; case 255 => "ANY"
      case _ => if (t >= 0) t.toString else ""
    }
    val typeName = nameOf(qtype)
    val idHex = "%04x".format(id)
    val kind = if (isResponse) "Standard query response" else "Standard query"
    val base = if (qname != null) s"$kind 0x$idHex $typeName $qname" else s"$kind 0x$idHex"
    // tshark appends the answer rdata: "… A example.com A 93.184.216.34"
    if (ansA != null) s"$base A $ansA"
    else if (ansCname != null) s"$base CNAME $ansCname"
    else if (svcPrio >= 0) {
      val tgt = if (svcTarget == null) "" else s" $svcTarget"
      val alpn = if (svcAlpn == null) "" else s" alpn=$svcAlpn"
      s"$base $typeName $svcPrio$tgt$alpn"
    } else base
  }

  /** OBEX (IrDA/Bluetooth object exchange, fixture TCP 650): opcode +
    * packet length; CONNECT carries version/flags/MTU. */
  private def dissectObex(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3 || u16(d, off + 1) != len) return null
    val op = u8(d, off)
    protos += "obex"
    v("obex.opcode") = op.toLong
    v("obex.pkt_len") = len.toLong
    op match {
      case 0x80 => "OBEX Connect"
      case 0x81 => "OBEX Disconnect"
      case 0x02 | 0x82 => "OBEX Put"
      case 0x03 | 0x83 => "OBEX Get"
      case 0xA0 => "OBEX Success"
      case o => f"OBEX 0x$o%02x"
    }
  }

  // ---- tier 47: the IoT/media chains (6LoWPAN under ZEP, ZCL above
  // APS, CBOR in CoAP payloads, H.264 on RTP PT 96) plus Ceph messenger,
  // uTP, WTP, USB/IP, Hazelcast, DLM3, and D-Bus stubs ----

  /** Ceph messenger v1 (TCP 6789): MSG tag 0x07 + the 53-byte message
    * header — the type surfaces. */
  private def dissectCeph(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 1 + 53 || u8(d, off) != 0x07) return null
    protos += "ceph"
    val t = u8(d, off + 17) | (u8(d, off + 18) << 8) // LE type after seq+tid
    v("ceph.type") = t.toLong
    val name = t match {
      case 0x0010 => "mon_command"; case 0x0004 => "mon_map"
      case 0x002a => "osd_op"; case x => f"type 0x$x%04x"
    }
    s"Ceph MSG $name"
  }

  /** uTorrent Transport Protocol (UDP 6881, after the bencode gate
    * declines): version-1 type/ver byte + connection id. */
  private def dissectBtUtp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20) return null
    val b0 = u8(d, off)
    if ((b0 & 0x0f) != 1 || (b0 >> 4) > 4) return null
    protos += "bt-utp"
    val t = b0 >> 4
    v("bt-utp.type") = t.toLong
    v("bt-utp.connection_id") = u16(d, off + 2).toLong
    val name = t match {
      case 0 => "ST_DATA"; case 1 => "ST_FIN"; case 2 => "ST_STATE"
      case 3 => "ST_RESET"; case _ => "ST_SYN"
    }
    s"uTP $name"
  }

  /** WTP (WAP-224, UDP 9201): PDU type + transaction id. */
  private def dissectWtp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val pt = (u8(d, off) >> 3) & 0xf
    if (pt < 1 || pt > 7) return null
    protos += "wtp"
    v("wtp.pdu_type") = pt.toLong
    v("wtp.tid") = u16(d, off + 1).toLong
    pt match {
      case 1 => "WTP Invoke"; case 2 => "WTP Result"; case 3 => "WTP Ack"
      case 4 => "WTP Abort"; case x => s"WTP PDU $x"
    }
  }

  /** USB/IP (TCP 3240): the OP_REQ/OP_REP header — version 0x0111 +
    * command code. */
  private def dissectUsbip(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    if (u16(d, off) != 0x0111) {
      // post-handshake URB traffic: 48-byte big-endian header, command
      // 1-4 (CMD_SUBMIT/RET_SUBMIT/CMD_UNLINK/RET_UNLINK), then seqnum
      val cmd32 = u32(d, off)
      if (len < 20 || cmd32 < 1 || cmd32 > 4) return null
      protos += "usbip"
      v("usbip.command") = cmd32
      v("usbip.seqnum") = u32(d, off + 4)
      return cmd32 match {
        case 1 => "CMD_SUBMIT"; case 2 => "RET_SUBMIT"
        case 3 => "CMD_UNLINK"; case _ => "RET_UNLINK"
      }
    }
    val cmd = u16(d, off + 2)
    protos += "usbip"
    v("usbip.command") = cmd.toLong
    cmd match {
      case 0x8005 => "OP_REQ_DEVLIST"
      case 0x0005 => "OP_REP_DEVLIST"
      case 0x8003 => "OP_REQ_IMPORT"
      case c => f"USB/IP 0x$c%04x"
    }
  }

  /** Hazelcast client message (TCP 5701): little-endian frame length,
    * begin+end header flags, operation id. */
  private def dissectHazelcast(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 11) return null
    def le32(p: Int): Long = (u8(d, p) | (u8(d, p + 1) << 8) |
      (u8(d, p + 2) << 16) | ((u8(d, p + 3).toLong) << 24)) & 0xffffffffL
    if (le32(off) != len.toLong) return null
    val hdr = u8(d, off + 4)
    if ((hdr & 0xc0) != 0xc0) return null // begin+end fragment flags
    protos += "hazelcast"
    v("hazelcast.headers") = hdr.toLong
    val op = u8(d, off + 5) | (u8(d, off + 6) << 8)
    v("hazelcast.operation") = op.toLong
    op match {
      case 0x0002 => "Hazelcast Authentication"
      case 0x0100 => "Hazelcast Map Put"
      case o => f"Hazelcast op 0x$o%04x"
    }
  }

  /** DLM3 (Linux distributed lock manager, TCP 21064): little-endian
    * version header + command. */
  private def dissectDlm3(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    val ver = (u8(d, off) | (u8(d, off + 1) << 8) | (u8(d, off + 2) << 16) |
      ((u8(d, off + 3).toLong) << 24)) & 0xffffffffL
    if (ver != 0x00030001L) return null
    protos += "dlm3"
    v("dlm3.h.version") = ver
    val cmd = u8(d, off + 14)
    v("dlm3.h.cmd") = cmd.toLong
    cmd match {
      case 1 => "DLM3 Message"
      case 2 => "DLM3 RCOM"
      case c => s"DLM3 cmd $c"
    }
  }

  /** D-Bus wire format (fixture TCP 7272 — real deployments negotiate
    * the transport): endianness tag, message type, flags, version 1,
    * serial. */
  private def dissectDbus(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    val e = u8(d, off)
    if (e != 'l' && e != 'B') return null
    val t = u8(d, off + 1)
    if (t < 1 || t > 4 || u8(d, off + 3) != 1) return null
    protos += "dbus"
    v("dbus.type") = t.toLong
    v("dbus.flags") = u8(d, off + 2).toLong
    val serial =
      if (e == 'l') (u8(d, off + 8) | (u8(d, off + 9) << 8) |
        (u8(d, off + 10) << 16) | ((u8(d, off + 11).toLong) << 24)) & 0xffffffffL
      else u32(d, off + 8)
    v("dbus.serial") = serial
    t match {
      case 1 => "Method Call"; case 2 => "Method Return"
      case 3 => "Error"; case _ => "Signal"
    }
  }

  // ---- tier 46: layers chained out of existing dissectors (SCCP via
  // M3UA, UDS via DoIP, RTP events, 802.3ah OAM via slow protocols, the
  // smb2:gssapi:spnego:ntlmssp session-setup chain) plus ADB, LISP
  // control, M2UA/SUA, NLM, GlusterFS, Elasticsearch, Skinny, ZRTP ----

  /** Android Debug Bridge (TCP 5555, after the ZMTP gate declines): the
    * 24-byte message header gated on magic = command ^ 0xFFFFFFFF. */
  private def dissectAdb(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 24) return null
    def le32(p: Int): Long = (u8(d, p) | (u8(d, p + 1) << 8) |
      (u8(d, p + 2) << 16) | ((u8(d, p + 3).toLong) << 24)) & 0xffffffffL
    val cmd = le32(off)
    if ((cmd ^ 0xffffffffL) != le32(off + 20)) return null
    protos += "adb"
    val fourcc = new String(Array(d(off), d(off + 1), d(off + 2), d(off + 3)),
      "ISO-8859-1")
    v("adb.command") = fourcc
    v("adb.arg0") = le32(off + 4)
    v("adb.arg1") = le32(off + 8)
    v("adb.data_length") = le32(off + 12)
    fourcc match {
      case "CNXN" => "ADB Connect"
      case "AUTH" => "ADB Auth"
      case "OPEN" => "ADB Open"
      case "WRTE" => "ADB Write"
      case "OKAY" => "ADB Okay"
      case "CLSE" => "ADB Close"
      case c => s"ADB $c"
    }
  }

  /** LISP control plane (RFC 6830, UDP 4342): message type nibble. */
  private def dissectLispControl(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val t = u8(d, off) >> 4
    if (t < 1 || t > 8) return null
    protos += "lisp"
    v("lisp.type") = t.toLong
    t match {
      case 1 => "Map-Request"; case 2 => "Map-Reply"; case 3 => "Map-Register"
      case 4 => "Map-Notify"; case 8 => "Encapsulated Control Message"
      case x => s"LISP type $x"
    }
  }

  /** M2UA (RFC 3331, SCTP port 2904): version-1 class/type header. */
  private def dissectM2ua(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 8 || u8(d, off) != 1) return null
    protos += "m2ua"
    val cls = u8(d, off + 2)
    val t = u8(d, off + 3)
    v("m2ua.message_class") = cls.toLong
    v("m2ua.message_type") = t.toLong
    if (cls == 6 && t == 1) "M2UA DATA"
    else s"M2UA class $cls type $t"
  }

  /** SUA (RFC 3868, SCTP port 14001): version-1 header + message
    * length. */
  private def dissectSua(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 8 || u8(d, off) != 1) return null
    protos += "sua"
    val t = u8(d, off + 3)
    v("sua.message_type") = t.toLong
    v("sua.message_length") = u32(d, off + 4)
    if (u8(d, off + 2) == 7 && t == 1) "SUA CLDT"
    else s"SUA type $t"
  }

  /** NLM TEST call (ONC RPC program 100021, fixture port 4045): the
    * netobj cookie argument. */
  private def dissectNlm(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 48 || u32(d, off + 4) != 0L || u32(d, off + 8) != 2L) return null
    if (u32(d, off + 12) != 100021L) return null
    val proc = u32(d, off + 20)
    protos += "nlm"
    val args = off + 40
    val cl = u32(d, args).toInt
    if (cl > 0 && cl <= 16 && args + 4 + cl <= off + len)
      v("nlm.cookie") = (0 until cl).map(i => hex2(u8(d, args + 4 + i))).mkString
    val name = proc match {
      case 1L => "TEST"; case 2L => "LOCK"; case 4L => "UNLOCK"
      case p => s"Proc $p"
    }
    s"NLM $name Call"
  }

  /** GlusterFS FOP call (ONC RPC program 1298437, TCP 24007 with the
    * record mark): procedure number + the 16-byte GFID argument. */
  private def dissectGlusterfs(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 52 || (u8(d, off) & 0x80) == 0) return null
    val p = off + 4
    if (u32(d, p + 4) != 0L || u32(d, p + 8) != 2L) return null
    if (u32(d, p + 12) != 1298437L) return null
    val proc = u32(d, p + 20)
    protos += "glusterfs"
    v("glusterfs.proc") = proc
    val args = p + 40
    if (args + 16 <= off + len)
      v("glusterfs.gfid") = (0 until 16).map(i => hex2(u8(d, args + i))).mkString
    val name = proc match {
      case 27L => "LOOKUP"; case 1L => "STAT"; case 11L => "OPEN"
      case 12L => "READ"; case 13L => "WRITE"; case x => s"FOP $x"
    }
    s"GlusterFS $name Call"
  }

  /** Elasticsearch binary transport (TCP 9300): the 'ES' token, internal
    * version, and the request's action name. */
  private def dissectElasticsearch(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 22 || d(off) != 'E' || d(off + 1) != 'S') return null
    if (u32(d, off + 2) != (len - 6).toLong) return null
    protos += "elasticsearch"
    v("elasticsearch.internal.header") = 0x4553L
    v("elasticsearch.version") = u32(d, off + 15)
    // fixture layout: status(1) version(4) context(2 zero) then a
    // length-prefixed action string
    val al = u8(d, off + 21)
    if (al > 0 && al < 0x80 && off + 22 + al <= off + len) {
      val action = new String(d, off + 22, al, "ISO-8859-1")
      v("elasticsearch.action") = action
      s"ES Request $action"
    } else "ES Message"
  }

  /** Skinny / SCCP client control (TCP 2000): little-endian length,
    * header version, message id. */
  private def dissectSkinny(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    def le32(p: Int): Long = (u8(d, p) | (u8(d, p + 1) << 8) |
      (u8(d, p + 2) << 16) | ((u8(d, p + 3).toLong) << 24)) & 0xffffffffL
    val dlen = le32(off)
    if (dlen < 4L || dlen != (len - 8).toLong || le32(off + 4) != 0L) return null
    protos += "skinny"
    val mid = le32(off + 8)
    v("skinny.data_length") = dlen
    v("skinny.messageid") = mid
    mid match {
      case 0x0001L => "RegisterMessage"
      case 0x0081L => "RegisterAckMessage"
      case 0x0085L => "SetRingerMessage"
      case m => f"Skinny 0x$m%04x"
    }
  }

  /** ZRTP (RFC 6189, on the RTP media path): version-0 RTP-like header
    * gated on the 0x5A525450 magic cookie; the message type and Hello
    * version surface. */
  private def dissectZrtp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 24 || u8(d, off) != 0x10) return null
    if (u32(d, off + 4) != 0x5A525450L) return null
    protos += "zrtp"
    // message: preamble 0x505A, length, 8-char type
    if (u16(d, off + 12) != 0x505A) return "ZRTP"
    val mtype = new String(d, off + 16, 8, "ISO-8859-1").trim
    v("zrtp.messagetype") = mtype
    if (mtype == "Hello" && len >= 28)
      v("zrtp.version") = new String(d, off + 24, 4, "ISO-8859-1")
    s"ZRTP $mtype"
  }

  // ---- tier 45: the RAN ASN.1 control-plane family over SCTP (with the
  // NAS payloads inside S1AP/NGAP), X.509 certificate layers, SNA and
  // NetBIOS LLC classics, and SCTE-35 / GQUIC / ASTERIX / CIGI / DHCPFO /
  // T.38 stubs ----

  /** Shared aligned-PER header for the xxAP RAN protocols: PDU choice,
    * procedureCode, criticality, short-form value length — then the
    * protocol-IE walk (count, then id(2)/criticality(1)/length(1)/value)
    * so the NAS-PDU IE surfaces the NAS layer inside S1AP (id 26, EPS
    * NAS) and NGAP (id 38, 5GS NAS). */
  private def dissectRanAp(
      name: String, d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 4 || u8(d, off) > 2) return null
    val pc = u8(d, off + 1)
    protos += name
    v(s"$name.procedureCode") = pc.toLong
    // value: criticality(1) + length(1, short form) + SEQUENCE preamble(1)
    // + IE count(2) + IEs
    val vlen = u8(d, off + 3)
    if (off + 4 + vlen > end || vlen < 3) return s"$name procedureCode $pc"
    var p = off + 7
    var n = u16(d, off + 5)
    while (n > 0 && p + 4 <= end) {
      val ieId = u16(d, p)
      val ieLen = u8(d, p + 3)
      val ieVal = p + 4
      if (ieVal + ieLen > end) return s"$name procedureCode $pc"
      val nasIe = (name == "s1ap" && ieId == 26) || (name == "ngap" && ieId == 38)
      if (nasIe && ieLen >= 3) {
        // OCTET STRING: length byte then the NAS message
        val nas = ieVal + 1
        val nlen = u8(d, ieVal)
        if (nas + nlen <= end && nlen >= 2) {
          if (name == "s1ap" && (u8(d, nas) & 0x0f) == 7) {
            protos += "nas_eps"
            v("nas_eps.nas_msg_emm_type") = u8(d, nas + 1).toLong
          } else if (name == "ngap" && u8(d, nas) == 0x7e) {
            protos += "nas_5gs"
            v("nas_5gs.epd") = 0x7eL
            v("nas_5gs.security_header_type") = (u8(d, nas + 1) & 0x0f).toLong
          }
        }
      }
      p = ieVal + ieLen
      n -= 1
    }
    s"$name procedureCode $pc"
  }

  /** SNA FID2 transmission header over LLC DSAP/SSAP 0x04. */
  private def dissectSna(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 6) return null
    val fid = (u8(d, off) >> 4) & 0xf
    if (fid != 2 && fid != 4) return null
    protos += "sna"
    v("sna.th.fid") = fid.toLong
    if (fid == 2) v("sna.th.daf") = hex2(u8(d, off + 2))
    s"SNA FID$fid"
  }

  /** NetBIOS Frames protocol over LLC DSAP/SSAP 0xF0: length, the
    * 0xEFFF delimiter, command. */
  private def dissectNetbios(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 5) return null
    if (u8(d, off + 2) != 0xEF || u8(d, off + 3) != 0xFF) return null
    protos += "netbios"
    val cmd = u8(d, off + 4)
    v("netbios.command") = cmd.toLong
    cmd match {
      case 0x0A => "Name Query"
      case 0x0E => "Name Recognized"
      case 0x08 => "Datagram"
      case 0x19 => "Session Initialize"
      case c => f"NetBIOS command 0x$c%02x"
    }
  }

  /** Legacy Google QUIC (UDP 443, version bit set in the public flags):
    * the Q0xx version string and the short packet number. */
  private def dissectGquic(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 14) return null
    val flags = u8(d, off)
    if ((flags & 0x01) == 0 || (flags & 0x08) == 0) return null
    if (d(off + 9) != 'Q' || d(off + 10) < '0' || d(off + 10) > '9') return null
    protos += "gquic"
    val ver = new String(d, off + 9, 4, "ISO-8859-1")
    v("gquic.version") = ver
    v("gquic.packet_number") = u8(d, off + 13).toLong
    s"GQUIC $ver"
  }

  /** ASTERIX radar exchange (UDP 8600): category + data-block length. */
  private def dissectAsterix(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4 || u16(d, off + 1) != len) return null
    protos += "asterix"
    val cat = u8(d, off)
    v("asterix.category") = cat.toLong
    v("asterix.length") = len.toLong
    f"ASTERIX Cat $cat%03d"
  }

  /** CIGI v3 (UDP 8004): packet id, size, version. */
  private def dissectCigi(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u8(d, off + 1) > len) return null
    val ver = u8(d, off + 2)
    if (ver < 2 || ver > 4) return null
    protos += "cigi"
    val id = u8(d, off)
    v("cigi.packet_id") = id.toLong
    v("cigi.version") = ver.toLong
    id match {
      case 1 => "CIGI IG Control"
      case 101 => "CIGI Start of Frame"
      case x => s"CIGI packet $x"
    }
  }

  /** DHCP failover (RFC draft, TCP 647): message length + type. */
  private def dissectDhcpfo(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || u16(d, off) != len) return null
    val t = u8(d, off + 2)
    if (t < 1 || t > 10) return null
    protos += "dhcpfo"
    v("dhcpfo.length") = len.toLong
    v("dhcpfo.type") = t.toLong
    t match {
      case 1 => "POOLREQ"; case 2 => "POOLRESP"; case 3 => "BNDUPD"
      case 4 => "BNDACK"; case 7 => "CONNECT"; case x => s"DHCPFO type $x"
    }
  }

  /** T.38 fax over UDPTL (fixture port 6004): sequence number and the
    * primary IFP's T.30 indicator. */
  private def dissectT38(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    val ifpLen = u8(d, off + 2)
    if (ifpLen < 1 || off + 3 + ifpLen > off + len) return null
    val ifp0 = u8(d, off + 3)
    if ((ifp0 & 0x80) != 0) return null // indicator form only
    protos += "t38"
    v("t38.seq_number") = u16(d, off).toLong
    val ind = (ifp0 >> 3) & 0x0f
    v("t38.t30_indicator") = ind.toLong
    val name = ind match {
      case 0 => "no-signal"; case 1 => "cng"; case 2 => "ced"
      case 3 => "v21-preamble"; case x => s"indicator $x"
    }
    s"UDPTL seq ${u16(d, off)}, $name"
  }

  // ---- tier 44: the PPPoE-session/PPP/auth chain, Q.931 call signaling
  // over TPKT, the ONC-RPC mount/ypserv siblings, and eight more app
  // stubs (AODV, DLEP, AIM, DRDA, HSMS, MELSEC, GVSP, WSP) ----

  /** PPPoE session stage (ethertype 0x8864): the v1/t1 header, then the
    * PPP protocol field and — for 0xC223/0xC023 — the CHAP or PAP
    * authentication layer. */
  private def dissectPppoeSession(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 8 || u8(d, off) != 0x11 || u8(d, off + 1) != 0)
      return null
    protos += "pppoes"
    v("pppoe.version") = 1L
    v("pppoe.type") = 1L
    v("pppoe.code") = 0L
    v("pppoe.session_id") = u16(d, off + 2).toLong
    v("pppoe.payload_length") = u16(d, off + 4).toLong
    protos += "ppp"
    val proto = u16(d, off + 6)
    v("ppp.protocol") = proto.toLong
    val p = off + 8
    proto match {
      case 0xc223 if d.length >= p + 4 =>
        protos += "chap"
        val code = u8(d, p)
        v("chap.code") = code.toLong
        v("chap.identifier") = u8(d, p + 1).toLong
        code match {
          case 1 => "CHAP Challenge"; case 2 => "CHAP Response"
          case 3 => "CHAP Success"; case 4 => "CHAP Failure"
          case c => s"CHAP code $c"
        }
      case 0xc023 if d.length >= p + 4 =>
        protos += "pap"
        val code = u8(d, p)
        v("pap.code") = code.toLong
        // Authenticate-Request: peer-id length + peer-id after the 4-byte
        // code/id/length header
        if (code == 1 && d.length > p + 4) {
          val idLen = u8(d, p + 4)
          if (d.length >= p + 5 + idLen)
            v("pap.peer_id") = new String(d, p + 5, idLen, "ISO-8859-1")
        }
        code match {
          case 1 => "PAP Authenticate-Request"
          case 2 => "PAP Authenticate-Ack"
          case 3 => "PAP Authenticate-Nak"
          case c => s"PAP code $c"
        }
      case 0x0021 => "PPP IPv4"
      case 0x0003 | 0x0005 if d.length >= p + 2 =>
        // RFC 3241 assigns PPP protocol 0x0003 (small-CID) / 0x0005
        // (large-CID) to RObust Header Compression. Claim the RFC 3095
        // context-initialization shapes — IR (1111110D, §5.2.3) and
        // IR-DYN (11111000) — whose profile octet directly follows the
        // packet-type octet; an optional Add-CID octet (1110xxxx,
        // §5.2.2) may prefix them. Other ROHC packet types carry no
        // profile and are claimed as the bare layer.
        protos += "rohc"
        var q = p
        if ((u8(d, q) & 0xf0) == 0xe0 && d.length > q + 2) q += 1
        val t = u8(d, q)
        if ((t & 0xfe) == 0xfc && d.length > q + 1) {
          val prof = u8(d, q + 1)
          v("rohc.profile") = prof.toLong
          s"ROHC IR (profile $prof)"
        } else if (t == 0xf8 && d.length > q + 1) {
          val prof = u8(d, q + 1)
          v("rohc.profile") = prof.toLong
          s"ROHC IR-DYN (profile $prof)"
        } else "ROHC"
      case x => f"PPP protocol 0x$x%04x"
    }
  }

  /** Q.931 call signaling over TPKT (TCP 1720 — the H.225 carrier):
    * protocol discriminator 0x08, call reference, message type. */
  private def dissectQ931(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 9 || u8(d, off) != 3 || u8(d, off + 1) != 0) return null
    if (u16(d, off + 2) != len) return null
    val q = off + 4
    if (u8(d, q) != 0x08) return null
    val crl = u8(d, q + 1)
    if (crl > 4 || q + 2 + crl + 1 > off + len) return null
    protos += "tpkt"
    v("tpkt.version") = 3L
    v("tpkt.length") = len.toLong
    protos += "q931"
    v("q931.protocol_discriminator") = 0x08L
    v("q931.call_ref_len") = crl.toLong
    v("q931.call_ref") =
      (0 until crl).map(i => hex2(u8(d, q + 2 + i))).mkString
    val mt = u8(d, q + 2 + crl)
    v("q931.message_type") = mt.toLong
    mt match {
      case 0x05 => "SETUP"; case 0x02 => "CALL PROCEEDING"
      case 0x07 => "CONNECT"; case 0x45 => "DISCONNECT"
      case 0x5a => "RELEASE COMPLETE"; case 0x01 => "ALERTING"
      case m => f"Q.931 0x$m%02x"
    }
  }

  /** mountd MNT call (ONC RPC, program 100005): the export-path string
    * argument. In production the port comes from the portmapper; the
    * fixture uses the conventional 635. */
  private def dissectMount(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 48 || u32(d, off + 4) != 0L || u32(d, off + 8) != 2L) return null
    if (u32(d, off + 12) != 100005L) return null
    val proc = u32(d, off + 20)
    protos += "mount"
    val args = off + 40
    val plen = u32(d, args).toInt
    if (plen > 0 && plen <= 255 && args + 4 + plen <= off + len) {
      val path = new String(d, args + 4, plen, "ISO-8859-1")
      v("mount.path") = path
      if (proc == 1L) return s"MNT Call $path"
      if (proc == 3L) return s"UMNT Call $path"
    }
    s"MOUNT proc $proc Call"
  }

  /** ypserv MATCH call (ONC RPC, program 100004): domain and map name
    * arguments. */
  private def dissectYpserv(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 48 || u32(d, off + 4) != 0L || u32(d, off + 8) != 2L) return null
    if (u32(d, off + 12) != 100004L) return null
    val proc = u32(d, off + 20)
    protos += "ypserv"
    var p = off + 40
    def xdrStr(): String = {
      if (p + 4 > off + len) return null
      val n = u32(d, p).toInt
      if (n < 0 || n > 255 || p + 4 + n > off + len) return null
      val s = new String(d, p + 4, n, "ISO-8859-1")
      p += 4 + ((n + 3) & ~3)
      s
    }
    val domain = xdrStr()
    if (domain != null) {
      v("ypserv.domain") = domain
      val map = xdrStr()
      if (map != null) {
        v("ypserv.map") = map
        if (proc == 3L) return s"YPPROC_MATCH $map"
      }
    }
    s"YPSERV proc $proc Call"
  }

  /** AODV (RFC 3561, UDP 654): message type + hop count. */
  private def dissectAodv(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val t = u8(d, off)
    if (t < 1 || t > 4) return null
    protos += "aodv"
    v("aodv.type") = t.toLong
    if (t == 1 || t == 2) v("aodv.hopcount") = u8(d, off + 3).toLong
    t match {
      case 1 => "Route Request"; case 2 => "Route Reply"
      case 3 => "Route Error"; case _ => "Route Reply Ack"
    }
  }

  /** DLEP (RFC 8175, UDP 854): the "DLEP" discovery magic + signal
    * type. */
  private def dissectDlep(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || d(off) != 'D' || d(off + 1) != 'L' || d(off + 2) != 'E' ||
      d(off + 3) != 'P') return null
    protos += "dlep"
    val t = u16(d, off + 4)
    v("dlep.signal.type") = t.toLong
    t match {
      case 1 => "Peer Discovery Signal"
      case 2 => "Peer Offer Signal"
      case x => s"DLEP signal $x"
    }
  }

  /** DLEP session MESSAGES (RFC 8175 §11.3+, TCP 854): type + length
    * header, no magic — the session runs over the TCP side of the same
    * port the UDP discovery signals use. */
  private def dissectDlepMessage(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val mt = u16(d, off)
    val ml = u16(d, off + 2)
    if (mt < 1 || mt > 33 || 4 + ml > len) return null
    protos += "dlep"
    v("dlep.message.type") = mt.toLong
    mt match {
      case 1 => "Session Initialization Message"
      case 2 => "Session Initialization Response Message"
      case 7 => "Destination Up Message"
      case m => s"DLEP message $m"
    }
  }

  /** AIM/OSCAR FLAP (TCP 5190): channel, sequence, and the SNAC family
    * on channel 2. */
  private def dissectAim(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6 || u8(d, off) != 0x2A) return null
    val ch = u8(d, off + 1)
    if (ch < 1 || ch > 5) return null
    if (u16(d, off + 4) != len - 6) return null
    protos += "aim"
    v("aim.channel") = ch.toLong
    v("aim.seqno") = u16(d, off + 2).toLong
    if (ch == 2 && len >= 10) {
      val fam = u16(d, off + 6)
      v("aim.fnac.family") = fam.toLong
      f"FLAP SNAC, family 0x$fam%04x"
    } else s"FLAP channel $ch"
  }

  /** DRDA DDM (TCP 446): length, 0xD0 magic, code point. */
  private def dissectDrda(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 10 || u8(d, off + 2) != 0xD0) return null
    if (u16(d, off) != len) return null
    protos += "drda"
    v("drda.ddm.length") = len.toLong
    val cp = u16(d, off + 8)
    v("drda.ddm.codepoint") = cp.toLong
    cp match {
      case 0x1041 => "EXCSAT"; case 0x106D => "ACCSEC"; case 0x106E => "SECCHK"
      case 0x2001 => "ACCRDB"; case c => f"DDM 0x$c%04x"
    }
  }

  /** SEMI HSMS (TCP 5000): length-prefixed header — session id,
    * presentation/session types. */
  private def dissectHsms(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 14 || u32(d, off) != (len - 4).toLong) return null
    val ptype = u8(d, off + 8)
    val stype = u8(d, off + 9)
    if (ptype != 0 || stype > 10) return null
    protos += "hsms"
    v("hsms.sessionid") = u16(d, off + 4).toLong
    v("hsms.ptype") = 0L
    v("hsms.stype") = stype.toLong
    stype match {
      case 0 => "Data Message"; case 1 => "Select.req"; case 2 => "Select.rsp"
      case 5 => "Linktest.req"; case 6 => "Linktest.rsp"
      case 9 => "Separate.req"; case s => s"HSMS stype $s"
    }
  }

  /** Mitsubishi MELSEC 3E frame (UDP 5007): 0x5000 subheader,
    * little-endian command. */
  private def dissectMelsec(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 15 || u8(d, off) != 0x50 || u8(d, off + 1) != 0) return null
    protos += "melsec"
    v("melsec.subheader") = 0x5000L
    val cmd = u8(d, off + 11) | (u8(d, off + 12) << 8)
    v("melsec.command") = cmd.toLong
    cmd match {
      case 0x0401 => "Batch Read (0x0401)"
      case 0x1401 => "Batch Write (0x1401)"
      case c => f"MELSEC command 0x$c%04x"
    }
  }

  /** GVSP leader packet (GigE Vision streaming, UDP 20202): status,
    * block id, payload type. */
  private def dissectGvsp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || u8(d, off + 4) != 0x01) return null // leader format
    protos += "gvsp"
    v("gvsp.status") = u16(d, off).toLong
    val bid = u16(d, off + 2)
    v("gvsp.blockid16") = bid.toLong
    v("gvsp.payloadtype") = u16(d, off + 10).toLong
    s"Leader, block $bid"
  }

  /** Connectionless WSP (WAP, UDP 9200): TID, PDU type, Get URI. */
  private def dissectWsp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val t = u8(d, off + 1)
    if (t != 0x01 && t != 0x40 && t != 0x60 && t != 0x04) return null
    protos += "wsp"
    v("wsp.pdu_type") = t.toLong
    t match {
      case 0x40 =>
        val ulen = u8(d, off + 2)
        if (off + 3 + ulen <= off + len && ulen > 0) {
          val uri = new String(d, off + 3, ulen, "ISO-8859-1")
          s"WSP Get $uri"
        } else "WSP Get"
      case 0x01 => "WSP Connect"
      case 0x60 => "WSP Post"
      case _ =>
        v("wsp.status") = u8(d, off + 2).toLong
        "WSP Reply"
    }
  }

  // ---- tier 43: the ZigBee stack under ZEP, the SS7 stack over SCTP,
  // and twelve more app-layer stubs (ICAP, NCP, GLBP, Synergy, UDT,
  // kpasswd, CUPS browsing, iSNS, NVMe/TCP, DLSw, HIP, NDMP) ----

  /** IEEE 802.15.4 data frame (carried by ZEP type-1 packets): FCF,
    * 16-bit addressing with PAN-id compression, then the ZigBee NWK and
    * APS layers — the full sensor-network stack walk. */
  private def dissectWpan(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 9) return null
    val fcf = u8(d, off) | (u8(d, off + 1) << 8) // little-endian
    val ftype = fcf & 0x7
    if (ftype != 1) return null // data frames only here
    protos += "wpan"
    v("wpan.frame_type") = ftype.toLong
    val dst = u8(d, off + 5) | (u8(d, off + 6) << 8)
    val src = u8(d, off + 7) | (u8(d, off + 8) << 8)
    v("wpan.dst16") = dst.toLong
    v("wpan.src16") = src.toLong
    val nwk = off + 9
    // 6LoWPAN IPHC (RFC 6282): dispatch pattern 011xxxxx — the Thread/
    // IoT sibling of the ZigBee NWK stack
    if (end - nwk >= 3 && (u8(d, nwk) & 0xe0) == 0x60) {
      protos += "6lowpan"
      v("6lowpan.pattern") = ((u8(d, nwk) >> 5) & 0x7).toLong
      // NHC UDP (11110xxx) with inline 16-bit ports
      if (end - nwk >= 7 && (u8(d, nwk + 2) & 0xf8) == 0xf0 &&
        (u8(d, nwk + 2) & 0x03) == 0) {
        val sport = u8(d, nwk + 3) << 8 | u8(d, nwk + 4)
        v("6lowpan.udp.src") = sport.toLong
        return s"6LoWPAN IPHC, UDP src $sport"
      }
      return "6LoWPAN IPHC"
    }
    if (end - nwk >= 8) {
      val nfcf = u8(d, nwk) | (u8(d, nwk + 1) << 8)
      protos += "zbee_nwk"
      v("zbee_nwk.frame_type") = (nfcf & 0x3).toLong
      v("zbee_nwk.dst") = (u8(d, nwk + 2) | (u8(d, nwk + 3) << 8)).toLong
      v("zbee_nwk.src") = (u8(d, nwk + 4) | (u8(d, nwk + 5) << 8)).toLong
      val aps = nwk + 8
      if ((nfcf & 0x3) == 0 && end - aps >= 8) {
        protos += "zbee_aps"
        v("zbee_aps.type") = (u8(d, aps) & 0x3).toLong
        v("zbee_aps.counter") = u8(d, aps + 7).toLong
        val cluster = u8(d, aps + 2) | (u8(d, aps + 3) << 8)
        // a ZCL frame rides profile-wide APS data: fcf, tsn, command id
        if (end - aps >= 8 + 3) {
          protos += "zbee_zcl"
          val tsn = u8(d, aps + 9)
          val cmd = u8(d, aps + 10)
          v("zbee_zcl.cmd.tsn") = tsn.toLong
          v("zbee_zcl.cmd.id") = cmd.toLong
          val name = cmd match {
            case 0x00 => "Read Attributes"
            case 0x01 => "Read Attributes Response"
            case 0x06 => "Configure Reporting"
            case 0x0a => "Report Attributes"
            case c => f"ZCL 0x$c%02x"
          }
          return s"ZCL: $name, Seq: $tsn"
        }
        return f"ZigBee APS Data, Dst Endpt: ${u8(d, aps + 1)}, Cluster: 0x$cluster%04x"
      }
      f"ZigBee NWK Data, Dst: 0x$dst%04x, Src: 0x$src%04x"
    } else f"802.15.4 Data, Dst: 0x$dst%04x, Src: 0x$src%04x"
  }

  /** M3UA payload-data message (RFC 4666, SCTP port 2905): version/
    * class/type header, then the protocol-data parameter's MTP3 routing
    * label and — for service indicator 5 — the ISUP message. */
  private def dissectM3ua(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 8 || u8(d, off) != 1) return null
    val cls = u8(d, off + 2)
    val t = u8(d, off + 3)
    protos += "m3ua"
    v("m3ua.message_class") = cls.toLong
    v("m3ua.message_type") = t.toLong
    if (cls != 1 || t != 1) return s"M3UA class $cls type $t"
    // parameters: tag(2) len(2); protocol data = 0x0210
    var p = off + 8
    while (p + 4 <= end) {
      val tag = u16(d, p)
      val plen = u16(d, p + 2)
      if (plen < 4 || p + plen > end) return "M3UA DATA"
      if (tag == 0x0210 && plen >= 4 + 12) {
        protos += "mtp3"
        v("mtp3.opc") = u32(d, p + 4)
        v("mtp3.dpc") = u32(d, p + 8)
        val si = u8(d, p + 12)
        v("mtp3.service_indicator") = si.toLong
        // SI 3 = SCCP: the message type byte opens the SCCP header
        if (si == 3 && p + 17 <= end) {
          protos += "sccp"
          val sccp = p + 16
          val mt = u8(d, sccp)
          v("sccp.message_type") = mt.toLong
          // UDT: the third pointer locates the data part — a TCAP Begin
          // (0x62) surfaces the transaction layer with its origin TID
          if (mt == 0x09 && sccp + 5 <= end) {
            val dptr = sccp + 4 + u8(d, sccp + 4)
            val tc = dptr + 1
            if (tc + 8 <= end && u8(d, tc) == 0x62 && u8(d, tc + 2) == 0x48) {
              val tl = u8(d, tc + 3)
              if (tl > 0 && tl <= 4 && tc + 4 + tl <= end) {
                protos += "tcap"
                v("tcap.tid") =
                  (0 until tl).map(i => hex2(u8(d, tc + 4 + i))).mkString
                return "TCAP Begin"
              }
            }
          }
          val name = mt match {
            case 0x09 => "UDT"; case 0x11 => "XUDT"; case 0x01 => "CR"
            case 0x02 => "CC"; case m => f"SCCP 0x$m%02x"
          }
          return s"SCCP ($name)"
        }
        val isup = p + 16
        if (si == 5 && isup + 3 <= end) {
          protos += "isup"
          val cic = u8(d, isup) | (u8(d, isup + 1) << 8)
          v("isup.cic") = cic.toLong
          val mt = u8(d, isup + 2)
          v("isup.message_type") = mt.toLong
          val name = mt match {
            case 1 => "IAM"; case 6 => "ACM"; case 9 => "ANM"
            case 12 => "REL"; case 16 => "RLC"; case m => s"ISUP $m"
          }
          return s"$name (CIC $cic)"
        }
        return "M3UA DATA"
      }
      p += (plen + 3) & ~3
    }
    "M3UA DATA"
  }

  /** ICAP (RFC 3507, TCP 1344): first-line method / status parse. */
  private def dissectIcap(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val line = asciiLine(d, off, len)
    if (line == null || !line.contains("ICAP/1.0")) return null
    protos += "icap"
    v("icap.response") = fromServer
    if (!fromServer) {
      val meth = line.takeWhile(_ != ' ')
      if (meth != "REQMOD" && meth != "RESPMOD" && meth != "OPTIONS") return null
      v("icap.reqtype") = meth
      line.stripSuffix(" ICAP/1.0")
    } else line
  }

  /** NetWare Core Protocol request header (TCP 524): the 0xNNNN type
    * signature, sequence, function. */
  private def dissectNcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 7) return null
    val t = u16(d, off)
    if (t != 0x1111 && t != 0x2222 && t != 0x3333 && t != 0x5555 &&
      t != 0x7777 && t != 0x9999) return null
    protos += "ncp"
    v("ncp.type") = t.toLong
    v("ncp.seq") = u8(d, off + 2).toLong
    if (t == 0x2222) v("ncp.func") = u8(d, off + 6).toLong
    t match {
      case 0x1111 => "Create a service connection"
      case 0x2222 => s"Service request, function ${u8(d, off + 6)}"
      case 0x3333 => "Service reply"
      case 0x5555 => "Destroy service connection"
      case _ => f"NCP type 0x$t%04x"
    }
  }

  /** GLBP (Cisco, UDP 3222): version, group, first TLV type. */
  private def dissectGlbp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || u8(d, off) != 1) return null
    protos += "glbp"
    v("glbp.group") = u16(d, off + 2).toLong
    val t = u8(d, off + 12)
    v("glbp.type") = t.toLong
    t match {
      case 1 => "GLBP Hello"
      case 2 => "GLBP Request/Response"
      case 3 => "GLBP Auth"
      case x => s"GLBP TLV $x"
    }
  }

  /** Synergy (TCP 24800): length-prefixed packets whose code is the
    * leading ASCII tag ("Synergy" for the version handshake). */
  private def dissectSynergy(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val plen = u32(d, off)
    if (plen < 4L || plen != (len - 4).toLong) return null
    var n = 0
    while (n < math.min(plen, 7L).toInt &&
      { val c = u8(d, off + 4 + n); c >= 0x20 && c <= 0x7e }) n += 1
    if (n < 4) return null
    val code = new String(d, off + 4, n, "ISO-8859-1")
    protos += "synergy"
    v("synergy.packet_type") = code
    if (code == "Synergy" && plen >= 11) {
      val maj = u16(d, off + 11)
      val min = u16(d, off + 13)
      s"Synergy Handshake $maj.$min"
    } else s"Synergy $code"
  }

  /** UDT (UDP): control packets flag bit 15; handshake surfaces the
    * type, data packets the sequence number. */
  private def dissectUdt(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    val w0 = u32(d, off)
    protos += "udt"
    if ((w0 & 0x80000000L) != 0) {
      val t = ((w0 >> 16) & 0x7fff).toInt
      v("udt.type") = t.toLong
      t match {
        case 0 => "UDT Handshake"
        case 1 => "UDT Keep-alive"
        case 2 => "UDT ACK"
        case 3 => "UDT NAK"
        case 5 => "UDT Shutdown"
        case x => s"UDT control $x"
      }
    } else {
      v("udt.seqno") = w0
      s"UDT DATA seqno $w0"
    }
  }

  /** Kerberos kpasswd (RFC 3244, UDP 464): message length, protocol
    * version. */
  private def dissectKpasswd(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6 || u16(d, off) != len) return null
    val ver = u16(d, off + 2)
    if (ver != 1 && ver != 0xff80) return null
    protos += "kpasswd"
    v("kpasswd.message_len") = len.toLong
    v("kpasswd.version") = ver.toLong
    if (ver == 1) "KPASSWD Request v1" else "KPASSWD Set-Password Request"
  }

  /** CUPS browsing (UDP 631): "ptype state uri" text datagram. */
  private def dissectCups(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val line = asciiLine(d, off, len)
    if (line == null) return null
    val parts = line.split(" ", 3)
    if (parts.length < 3 || !parts(2).startsWith("ipp://")) return null
    try {
      protos += "cups"
      v("cups.ptype") = java.lang.Long.parseLong(parts(0), 16)
      v("cups.state") = java.lang.Long.parseLong(parts(1))
      s"CUPS Browse: ${parts(2).takeWhile(_ != ' ')}"
    } catch { case _: NumberFormatException => protos.remove(protos.length - 1); null }
  }

  /** iSNS (RFC 4171, TCP 3205): version, function id, flags. */
  private def dissectIsns(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || u16(d, off) != 1) return null
    val fn = u16(d, off + 2)
    protos += "isns"
    v("isns.functionid") = fn.toLong
    v("isns.flags") = u16(d, off + 6).toLong
    fn match {
      case 0x0001 => "DevAttrReg"
      case 0x0002 => "DevAttrQry"
      case 0x0003 => "DevGetNext"
      case 0x8001 => "DevAttrRegRsp"
      case f => f"iSNS function 0x$f%04x"
    }
  }

  /** NVMe/TCP (TCP 4420): PDU common header — type, header length, PDU
    * length (little-endian). */
  private def dissectNvmeTcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val t = u8(d, off)
    if (t > 9) return null
    val hlen = u8(d, off + 2)
    val plen = (u8(d, off + 4) | (u8(d, off + 5) << 8) |
      (u8(d, off + 6) << 16) | (u8(d, off + 7) << 24)).toLong & 0xffffffffL
    if (plen != len.toLong || hlen > len) return null
    protos += "nvme-tcp"
    v("nvme-tcp.type") = t.toLong
    v("nvme-tcp.hlen") = hlen.toLong
    v("nvme-tcp.plen") = plen
    t match {
      case 0 => "ICReq"; case 1 => "ICResp"; case 4 => "CapsuleCommand"
      case 5 => "CapsuleResponse"; case x => s"NVMe/TCP PDU $x"
    }
  }

  /** DLSw (RFC 1795, TCP 2065): version 1 header + message type. */
  private def dissectDlsw(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16 || u8(d, off) != 0x31 || u8(d, off + 1) != 72) return null
    protos += "dlsw"
    v("dlsw.version") = 0x31L
    val t = u8(d, off + 14)
    v("dlsw.type") = t.toLong
    t match {
      case 0x01 => "CANUREACH"
      case 0x02 => "ICANREACH"
      case 0x03 => "REACH_ACK"
      case 0x04 => "DGRMFRAME"
      case 0x1f => "CAP_EXCHANGE"
      case x => f"DLSw 0x$x%02x"
    }
  }

  /** HIP (RFC 7401, IP protocol 139): packet type, version, controls. */
  private def dissectHip(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 8 || u8(d, off) != 59) return null // next header: none
    val t = u8(d, off + 2) & 0x7f
    if (t < 1 || t > 20) return null
    protos += "hip"
    v("hip.packet_type") = t.toLong
    v("hip.version") = (u8(d, off + 3) >> 4).toLong
    v("hip.controls") = u16(d, off + 6).toLong
    val name = t match {
      case 1 => "I1"; case 2 => "R1"; case 3 => "I2"; case 4 => "R2"
      case 16 => "UPDATE"; case 17 => "NOTIFY"; case 18 => "CLOSE"
      case x => s"type $x"
    }
    s"HIP $name"
  }

  /** NDMP (TCP 10000, after the hpfeeds gate declines): XDR record mark,
    * then the message header — CONNECT_OPEN carries the version. */
  private def dissectNdmp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 28 || (u8(d, off) & 0x80) == 0) return null
    val rlen = u32(d, off) & 0x7fffffffL
    if (rlen != (len - 4).toLong) return null
    val msg = u32(d, off + 16)
    protos += "ndmp"
    v("ndmp.msg") = msg
    if (msg == 0x900L && len >= 32) v("ndmp.version") = u32(d, off + 28)
    val name = msg match {
      case 0x900L => "CONNECT_OPEN"
      case 0x902L => "CONNECT_CLOSE"
      case 0x100L => "CONFIG_GET_HOST_INFO"
      case m => f"NDMP 0x$m%x"
    }
    val isReply = u32(d, off + 12) != 0L
    s"$name ${if (isReply) "Reply" else "Request"}"
  }

  // ---- tier 42: ONC-RPC portmap, streaming/ORB/P2P app layers, realtime
  // L2 ethertypes (AVTP/LLTD/eCPRI/CFM/batman-adv), and simulation/
  // telephony UDP ports — sixteen more vendored stubs populate natively --

  /** Portmap/rpcbind V2 GETPORT call (ONC RPC, UDP 111): the RPC call
    * header gated on program 100000, then the GETPORT argument block. */
  private def dissectPortmap(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 56 || u32(d, off + 4) != 0L || u32(d, off + 8) != 2L) return null
    if (u32(d, off + 12) != 100000L) return null
    val proc = u32(d, off + 20)
    protos += "portmap"
    v("portmap.procedure_v2") = proc
    // cred flavor/len + verf flavor/len = 16 zero bytes, then args
    val args = off + 40
    val prog = u32(d, args)
    v("portmap.prog") = prog
    v("portmap.port") = u32(d, args + 12)
    val procName = proc match {
      case 3L => "GETPORT"; case 4L => "DUMP"; case 1L => "SET"
      case 2L => "UNSET"; case p => s"Proc $p"
    }
    val progName = prog match {
      case 100003L => "NFS"; case 100005L => "MOUNT"; case 100021L => "NLM"
      case p => s"Program $p"
    }
    s"V2 $procName Call $progName($prog)"
  }

  /** RTMP chunk basic+message header (TCP 1935, fmt-0): chunk stream id,
    * body size, AMF type. */
  private def dissectRtmpt(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    val b0 = u8(d, off)
    if ((b0 >> 6) != 0) return null // fmt 0 only
    val csid = b0 & 0x3f
    if (csid < 3) return null
    val bodySize = u24(d, off + 4)
    val typeId = u8(d, off + 7)
    if (bodySize != len - 12) return null
    protos += "rtmpt"
    v("rtmpt.header.csid") = csid.toLong
    v("rtmpt.header.bodysize") = bodySize.toLong
    typeId match {
      case 0x14 => "RTMP Command (AMF0)"
      case 0x12 => "RTMP Data (AMF0)"
      case 0x08 => "RTMP Audio Data"
      case 0x09 => "RTMP Video Data"
      case t => f"RTMP type 0x$t%02x"
    }
  }

  /** CORBA GIOP (TCP 2809): "GIOP" magic, version, flags, message type. */
  private def dissectGiop(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || d(off) != 'G' || d(off + 1) != 'I' ||
      d(off + 2) != 'O' || d(off + 3) != 'P') return null
    val t = u8(d, off + 7)
    if (t > 7) return null
    protos += "giop"
    v("giop.flags") = u8(d, off + 6).toLong
    v("giop.type") = t.toLong
    val le = (u8(d, off + 6) & 1) != 0
    v("giop.len") =
      if (le) (u8(d, off + 8) | (u8(d, off + 9) << 8) | (u8(d, off + 10) << 16) |
        (u8(d, off + 11) << 24)).toLong & 0xffffffffL
      else u32(d, off + 8)
    t match {
      case 0 => "GIOP Request"; case 1 => "GIOP Reply"
      case 2 => "GIOP CancelRequest"; case 3 => "GIOP LocateRequest"
      case 4 => "GIOP LocateReply"; case 5 => "GIOP CloseConnection"
      case _ => "GIOP Fragment"
    }
  }

  /** IAX2 full frame (RFC 5456, UDP 4569): source/destination call
    * numbers, timestamp, frame type + subclass. */
  private def dissectIax2(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12 || (u16(d, off) & 0x8000) == 0) return null
    val ftype = u8(d, off + 10)
    if (ftype < 1 || ftype > 10) return null
    protos += "iax2"
    v("iax2.src_call") = (u16(d, off) & 0x7fff).toLong
    v("iax2.dst_call") = (u16(d, off + 2) & 0x7fff).toLong
    v("iax2.timestamp") = u32(d, off + 4)
    val sub = u8(d, off + 11)
    if (ftype == 6) {
      val name = sub match {
        case 1 => "NEW"; case 2 => "PING"; case 3 => "PONG"; case 4 => "ACK"
        case 6 => "ACCEPT"; case 7 => "REJECT"; case 8 => "HANGUP"
        case s => s"IAX subclass $s"
      }
      s"IAX, $name"
    } else s"IAX2 frame type $ftype"
  }

  /** XDMCP (UDP 177): version-1 header; the Manage opcode carries the
    * session id. */
  private def dissectXdmcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6 || u16(d, off) != 1) return null
    val op = u16(d, off + 2)
    if (op < 1 || op > 14) return null
    if (u16(d, off + 4) != len - 6) return null
    protos += "xdmcp"
    v("xdmcp.opcode") = op.toLong
    if (op == 12 && len >= 10) v("xdmcp.session_id") = u32(d, off + 6)
    op match {
      case 1 => "BroadcastQuery"; case 2 => "Query"; case 3 => "IndirectQuery"
      case 5 => "Willing"; case 7 => "Request"; case 8 => "Accept"
      case 12 => "Manage"; case o => s"Opcode $o"
    }
  }

  /** Art-Net (UDP 6454): the "Art-Net\0" cookie, little-endian opcode,
    * big-endian protocol version. */
  private def dissectArtnet(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    if (new String(d, off, 7, "ISO-8859-1") != "Art-Net" || d(off + 7) != 0)
      return null
    protos += "artnet"
    val op = u8(d, off + 8) | (u8(d, off + 9) << 8)
    v("artnet.opcode") = op.toLong
    v("artnet.proto_ver") = u16(d, off + 10).toLong
    op match {
      case 0x2000 => "ArtPoll"; case 0x2100 => "ArtPollReply"
      case 0x5000 => "ArtDMX"; case o => f"ArtNet op 0x$o%04x"
    }
  }

  /** DIS (IEEE 1278.1, UDP 3000): PDU header — protocol version,
    * exercise, PDU type. */
  private def dissectDis(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    val ver = u8(d, off)
    if (ver < 1 || ver > 7) return null
    val t = u8(d, off + 2)
    if (t < 1 || t > 72) return null
    protos += "dis"
    v("dis.proto_ver") = ver.toLong
    v("dis.exer_id") = u8(d, off + 1).toLong
    v("dis.pdu_type") = t.toLong
    val name = t match {
      case 1 => "Entity State"; case 2 => "Fire"; case 3 => "Detonation"
      case x => s"PDU type $x"
    }
    s"$name PDU"
  }

  /** AFS RX protocol (UDP 7000): epoch, connection id, packet type. */
  private def dissectRx(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 28) return null
    val t = u8(d, off + 20)
    if (t < 1 || t > 13) return null
    protos += "rx"
    v("rx.epoch") = u32(d, off)
    v("rx.cid") = u32(d, off + 4)
    v("rx.type") = t.toLong
    val name = t match {
      case 1 => "DATA"; case 2 => "ACK"; case 3 => "BUSY"; case 4 => "ABORT"
      case 5 => "ACKALL"; case 6 => "CHALLENGE"; case 7 => "RESPONSE"
      case x => s"Type $x"
    }
    s"RX $name"
  }

  /** Gnutella binary descriptor (TCP 6346): 16-byte GUID, type, TTL,
    * hops, little-endian payload length. */
  private def dissectGnutella(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 23) return null
    val t = u8(d, off + 16)
    if (t != 0x00 && t != 0x01 && t != 0x40 && t != 0x80 && t != 0x81)
      return null
    val plen = u8(d, off + 19) | (u8(d, off + 20) << 8) |
      (u8(d, off + 21) << 16) | (u8(d, off + 22) << 24)
    if (plen != len - 23) return null
    protos += "gnutella"
    v("gnutella.header.ttl") = u8(d, off + 17).toLong
    v("gnutella.header.hops") = u8(d, off + 18).toLong
    t match {
      case 0x00 => "Gnutella Ping"
      case 0x01 => "Gnutella Pong"
      case 0x40 => "Gnutella Push"
      case 0x80 => "Gnutella Query"
      case _ => "Gnutella QueryHit"
    }
  }

  /** eDonkey (TCP 4662): 0xE3 marker, little-endian size, message
    * opcode. */
  private def dissectEdonkey(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6 || u8(d, off) != 0xE3) return null
    val size = (u8(d, off + 1) | (u8(d, off + 2) << 8) |
      (u8(d, off + 3) << 16) | (u8(d, off + 4) << 24)).toLong
    if (size != (len - 5).toLong) return null
    val op = u8(d, off + 5)
    protos += "edonkey"
    v("edonkey.protocol") = 0xE3L
    v("edonkey.message.type") = op.toLong
    op match {
      case 0x01 => "eDonkey Hello"
      case 0x4c => "eDonkey Hello Answer"
      case 0x16 => "eDonkey Search"
      case o => f"eDonkey op 0x$o%02x"
    }
  }

  /** IEEE 1722 AVTP (ethertype 0x22F0): the subtype byte. */
  private def dissectIeee1722(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 12) return null
    protos += "ieee1722"
    val st = u8(d, off)
    v("ieee1722.subtype") = st.toLong
    val name = st match {
      case 0x00 => "61883/IIDC"; case 0x02 => "AAF"; case 0x03 => "CVF"
      case 0x04 => "CRF"; case 0x22 => "NTSCF"; case s => f"Subtype 0x$s%02x"
    }
    s"AVTP $name"
  }

  /** LLTD (ethertype 0x88D9): version, service type, function. */
  private def dissectLltd(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 4 || u8(d, off) != 1) return null
    protos += "lltd"
    v("lltd.version") = 1L
    val fn = u8(d, off + 3)
    v("lltd.function") = fn.toLong
    fn match {
      case 0 => "LLTD Discover"; case 1 => "LLTD Hello"
      case 8 => "LLTD QueryLargeTlv"; case f => s"LLTD function $f"
    }
  }

  /** eCPRI (ethertype 0xAEFE): revision, message type, payload size. */
  private def dissectEcpri(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 4) return null
    val rev = u8(d, off) >> 4
    if (rev < 1 || rev > 2) return null
    protos += "ecpri"
    v("ecpri.revision") = rev.toLong
    val t = u8(d, off + 1)
    v("ecpri.type") = t.toLong
    v("ecpri.size") = u16(d, off + 2).toLong
    val name = t match {
      case 0 => "IQ Data"; case 1 => "Bit Sequence"; case 2 => "Real-Time Control Data"
      case 5 => "One-Way Delay Measurement"; case x => s"Type $x"
    }
    s"eCPRI $name"
  }

  /** 802.1ag CFM (ethertype 0x8902): MD level + opcode. */
  private def dissectCfm(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 4) return null
    val op = u8(d, off + 1)
    protos += "cfm"
    v("cfm.opcode") = op.toLong
    op match {
      case 1 => "CFM CCM"; case 3 => "CFM LBM"; case 2 => "CFM LBR"
      case 5 => "CFM LTM"; case 4 => "CFM LTR"; case o => s"CFM opcode $o"
    }
  }

  /** B.A.T.M.A.N. Advanced (ethertype 0x4305): packet type + the IV OGM
    * version/TTL. */
  private def dissectBatadv(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 4) return null
    val t = u8(d, off)
    protos += "batadv"
    v("batadv.packet_type") = t.toLong
    v("batadv.iv_ogm.version") = u8(d, off + 1).toLong
    if (t == 0x00) {
      v("batadv.iv_ogm.ttl") = u8(d, off + 2).toLong
      "B.A.T.M.A.N. IV OGM"
    } else f"B.A.T.M.A.N. type 0x$t%02x"
  }

  /** RakNet offline message (UDP 19132): message id gated on the 16-byte
    * offline-message magic. */
  private def dissectRaknet(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 25) return null
    val id = u8(d, off)
    // offline magic at its id-specific offset (ping: after id + 8-byte time)
    val magicOff = if (id == 0x01 || id == 0x02) off + 9 else off + 1
    if (magicOff + 16 > off + len) return null
    val magic = Array(0x00, 0xff, 0xff, 0x00, 0xfe, 0xfe, 0xfe, 0xfe,
      0xfd, 0xfd, 0xfd, 0xfd, 0x12, 0x34, 0x56, 0x78)
    var i = 0
    while (i < 16) {
      if (u8(d, magicOff + i) != magic(i)) return null
      i += 1
    }
    protos += "raknet"
    v("raknet.message.id") = id.toLong
    id match {
      case 0x01 | 0x02 => "Unconnected Ping"
      case 0x1c => "Unconnected Pong"
      case 0x05 => "Open Connection Request 1"
      case 0x06 => "Open Connection Reply 1"
      case x => f"RakNet 0x$x%02x"
    }
  }

  // ---- tier 41: RFC-86x inetd classics, r-commands, X.25-over-TCP,
  // policy/AgentX/PCE control planes, NSH service chaining, PGM, and
  // transport-stream/monitoring stubs — twenty more vendored field sets
  // made to populate natively ----

  /** RFC 868 Time (UDP 37): the server reply's 4-byte seconds since
    * 1900. */
  private def dissectTime(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (!fromServer || len != 4) return null
    protos += "time"
    val t = u32(d, off)
    v("time.time") = t
    s"TIME Response, $t seconds since 1900"
  }

  /** RFC 867 Daytime (TCP 13): free-text timestamp line from the
    * server. */
  private def dissectDaytime(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (!fromServer || len < 8) return null
    val line = asciiLine(d, off, len)
    if (line == null) return null
    protos += "daytime"
    v("daytime.string") = line
    s"DAYTIME Response: $line"
  }

  /** RFC 864 Chargen (UDP 19): printable filler payload. */
  private def dissectChargen(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val line = asciiLine(d, off, len)
    if (line == null || line.length < 8) return null
    protos += "chargen"
    v("chargen.data") = line
    "Chargen"
  }

  /** RFC 862 Echo (UDP 7): direction-flagged opaque payload. */
  private def dissectEcho(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 1) return null
    protos += "echo"
    val n = math.min(len, 16)
    v("echo.data") = (0 until n).map(i => hex2(u8(d, off + i))).mkString
    v("echo.request") = !fromServer
    v("echo.response") = fromServer
    if (fromServer) "ECHO Response" else "ECHO Request"
  }

  /** LPD (RFC 1179, TCP 515): the one-byte control command + queue name
    * on the request path; single ACK octet back. */
  private def dissectLpd(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (fromServer && len == 1 && u8(d, off) <= 1) {
      protos += "lpd"
      v("lpd.response") = true
      return if (u8(d, off) == 0) "LPD ACK" else "LPD NAK"
    }
    if (fromServer || len < 3) return null
    val cmd = u8(d, off)
    if (cmd < 1 || cmd > 5 || d(off + len - 1) != '\n') return null
    protos += "lpd"
    v("lpd.command") = cmd.toLong
    v("lpd.response") = false
    cmd match {
      case 1 => "LPD print waiting jobs"
      case 2 => "LPD receive job"
      case 3 => "LPD queue state (short)"
      case 4 => "LPD queue state (long)"
      case _ => "LPD remove jobs"
    }
  }

  /** rexec (TCP 512): NUL-separated stderr-port, user, password,
    * command. */
  private def dissectRexec(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val parts = nulParts(d, off, len, 4)
    if (parts == null || parts.length < 4) return null
    protos += "rexec"
    v("rexec.username") = parts(1)
    v("rexec.command") = parts(3)
    s"Exec: ${parts(3)}"
  }

  /** rlogin (TCP 513): the connection-open block — empty terminator,
    * client user, server user, terminal/speed. */
  private def dissectRlogin(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6 || d(off) != 0) return null
    val parts = nulParts(d, off + 1, len - 1, 3)
    if (parts == null || parts.length < 3) return null
    protos += "rlogin"
    v("rlogin.user_info") = s"${parts(0)}/${parts(1)}"
    s"Rlogin: ${parts(0)} -> ${parts(1)}"
  }

  /** rsh (TCP 514): NUL-separated stderr-port, client user, server
    * user, command. */
  private def dissectRsh(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    val parts = nulParts(d, off, len, 4)
    if (parts == null || parts.length < 4) return null
    protos += "rsh"
    v("rsh.client_username") = parts(1)
    v("rsh.command") = parts(3)
    s"Shell: ${parts(3)}"
  }

  /** XOT (RFC 1613, TCP 1998): version-0 header, then the X.25 packet —
    * logical channel and packet type surface. */
  private def dissectXot(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 7 || u16(d, off) != 0) return null
    val xlen = u16(d, off + 2)
    if (xlen < 3 || xlen > len - 4) return null
    protos += "xot"
    v("xot.version") = 0L
    v("xot.length") = xlen.toLong
    protos += "x25"
    val lcn = u16(d, off + 4) & 0x0fff
    val t = u8(d, off + 6)
    v("x25.lcn") = lcn.toLong
    v("x25.type") = t.toLong
    t match {
      case 0x0b => s"Call Req. VC:$lcn"
      case 0x0f => s"Call Conf. VC:$lcn"
      case 0x13 => s"Clear Req. VC:$lcn"
      case x if (x & 0x01) == 0 => s"Data VC:$lcn"
      case x => f"X.25 type 0x$x%02x VC:$lcn"
    }
  }

  /** PCP (RFC 6887, UDP 5351, version 2 — NAT-PMP's successor on the
    * same port): opcode + the response result code. */
  private def dissectPcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u8(d, off) != 2) return null
    val r = u8(d, off + 1)
    protos += "pcp"
    v("pcp.version") = 2L
    v("pcp.opcode") = (r & 0x7f).toLong
    val isResp = (r & 0x80) != 0
    if (isResp) v("pcp.result_code") = u8(d, off + 3).toLong
    val opName = (r & 0x7f) match {
      case 0 => "ANNOUNCE"; case 1 => "MAP"; case 2 => "PEER"
      case o => s"Opcode $o"
    }
    s"$opName ${if (isResp) "Response" else "Request"}"
  }

  /** PCEP (RFC 5440, TCP 4189): common header — version, message type. */
  private def dissectPcep(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4 || (u8(d, off) >> 5) != 1) return null
    val t = u8(d, off + 1)
    if (t < 1 || t > 10) return null
    if (u16(d, off + 2) > len) return null
    protos += "pcep"
    v("pcep.version") = 1L
    v("pcep.msg") = t.toLong
    t match {
      case 1 => "Open"; case 2 => "Keepalive"; case 3 => "Path Computation Request"
      case 4 => "Path Computation Reply"; case 5 => "Notification"
      case 6 => "Error"; case 7 => "Close"; case x => s"Message $x"
    }
  }

  /** COPS (RFC 2748, TCP 3288): version/flags, op code, client type,
    * message length. */
  private def dissectCops(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || (u8(d, off) >> 4) != 1) return null
    val op = u8(d, off + 1)
    if (op < 1 || op > 10) return null
    if (u32(d, off + 4) > len.toLong) return null
    protos += "cops"
    v("cops.op_code") = op.toLong
    v("cops.client_type") = u16(d, off + 2).toLong
    v("cops.msg_len") = u32(d, off + 4)
    op match {
      case 1 => "Request (REQ)"; case 2 => "Decision (DEC)"
      case 3 => "Report State (RPT)"; case 6 => "Client-Open (OPN)"
      case 7 => "Client-Accept (CAT)"; case o => s"Op Code $o"
    }
  }

  /** SNMP AgentX (RFC 2741, TCP 705): version-1 PDU header. */
  private def dissectAgentx(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20 || u8(d, off) != 1) return null
    val t = u8(d, off + 1)
    if (t < 1 || t > 18) return null
    protos += "agentx"
    v("agentx.version") = 1L
    v("agentx.type") = t.toLong
    v("agentx.flags") = u8(d, off + 2).toLong
    val name = t match {
      case 1 => "Open"; case 2 => "Close"; case 3 => "Register"
      case 4 => "Unregister"; case 5 => "Get"; case 6 => "GetNext"
      case 7 => "GetBulk"; case 12 => "Notify"; case 14 => "Response"
      case x => s"Type $x"
    }
    s"$name-PDU"
  }

  /** rpcap (the libpcap remote protocol, TCP 2002): version-0 header. */
  private def dissectRpcap(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u8(d, off) != 0) return null
    val t = u8(d, off + 1)
    if (t < 1 || t > 18) return null
    if (u32(d, off + 4) > (len - 8).toLong) return null
    protos += "rpcap"
    v("rpcap.version") = 0L
    v("rpcap.type") = t.toLong
    t match {
      case 1 => "Error"; case 2 => "Find all interfaces request"
      case 3 => "Open request"; case 4 => "Start capture request"
      case x => s"Message type $x"
    }
  }

  /** NSH (RFC 8300, via VXLAN-GPE next-protocol 4): base + service-path
    * headers, then the inner packet by NSH next-protocol. */
  private def dissectNsh(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 8) return null
    protos += "nsh"
    val hlen = (u8(d, off + 1) & 0x3f) * 4
    val nextProto = u8(d, off + 3)
    val sp = u32(d, off + 4)
    v("nsh.spi") = sp >> 8
    v("nsh.si") = (sp & 0xff)
    if (hlen < 8 || off + hlen >= d.length) return "NSH"
    val wasNested = v.nested
    v.nested = true
    val inner =
      try nextProto match {
        case 1 => dissectIpv4(d, off + hlen, v, protos, tracker, wanted)
        case 2 => dissectIpv6(d, off + hlen, v, protos, tracker, wanted)
        case 3 => dissectEthFrom(d, off + hlen, v, protos, tracker, wanted)
        case _ => null
      } finally v.nested = wasNested
    if (inner != null) inner else "NSH"
  }

  /** PGM (RFC 3208, IP protocol 113): common header — packet type and
    * TSDU length. */
  private def dissectPgm(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 16) return null
    val t = u8(d, off + 4)
    protos += "pgm"
    v("pgm.type") = t.toLong
    v("pgm.tsdu_length") = u16(d, off + 14).toLong
    val name = t match {
      case 0x00 => "SPM"; case 0x04 => "ODATA"; case 0x05 => "RDATA"
      case 0x08 => "NAK"; case 0x09 => "NNAK"; case 0x0a => "NCF"
      case x => f"Type 0x$x%02x"
    }
    s"PGM $name"
  }

  /** Cisco Auto-RP (UDP 496): version/type byte. */
  private def dissectAutoRp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8) return null
    val vt = u8(d, off)
    if ((vt >> 4) != 1) return null
    protos += "auto_rp"
    v("auto_rp.version") = 1L
    v("auto_rp.type") = (vt & 0x0f).toLong
    (vt & 0x0f) match {
      case 1 => "RP announcement"
      case 2 => "RP mapping"
      case t => s"Auto-RP type $t"
    }
  }

  /** Classic STUN (RFC 3489) — same port as RFC 5389 STUN but no magic
    * cookie; binding message types. */
  private def dissectClassicStun(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 20 || (u8(d, off) & 0xc0) != 0) return null
    val tpe = u16(d, off)
    if (tpe < 1 || tpe > 0x0112) return null
    val mlen = u16(d, off + 2)
    if (mlen + 20 != len) return null
    protos += "classicstun"
    v("classicstun.type") = tpe.toLong
    v("classicstun.length") = mlen.toLong
    tpe match {
      case 0x0001 => "Message: Binding Request"
      case 0x0101 => "Message: Binding Response"
      case 0x0111 => "Message: Binding Error Response"
      case t => f"Message: 0x$t%04x"
    }
  }

  /** MPEG-2 Transport Stream (UDP 1234): 188-byte packets gated on the
    * 0x47 sync byte; PID, PUSI, continuity counter of the first packet. */
  private def dissectMp2t(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 188 || len % 188 != 0 || u8(d, off) != 0x47) return null
    if (len >= 376 && u8(d, off + 188) != 0x47) return null
    protos += "mp2t"
    val w = u16(d, off + 1)
    val pid = w & 0x1fff
    v("mp2t.pid") = pid.toLong
    v("mp2t.pusi") = (w & 0x4000) != 0
    v("mp2t.cc") = (u8(d, off + 3) & 0x0f).toLong
    // SCTE-35 splice-info section (table id 0xFC) behind the PUSI pointer
    if ((w & 0x4000) != 0 && (u8(d, off + 3) >> 4) == 1) {
      val sec = off + 5 + u8(d, off + 4)
      if (sec + 14 <= off + len && u8(d, sec) == 0xFC) {
        protos += "scte35"
        v("scte35.protocol_version") = u8(d, sec + 3).toLong
        val cmdType = u8(d, sec + 13)
        v("scte35.splice_command_type") = cmdType.toLong
        val name = cmdType match {
          case 0x05 => "Splice Insert"
          case 0x06 => "Time Signal"
          case 0x00 => "Splice Null"
          case c => f"Command 0x$c%02x"
        }
        return s"SCTE-35 $name"
      }
    }
    f"MPEG-TS, ${len / 188} packets, PID 0x$pid%04x"
  }

  /** First printable ASCII line (CR/LF-terminated or whole payload). */
  private def asciiLine(d: Array[Byte], off: Int, len: Int): String = {
    var i = off
    val lim = off + math.min(len, 256)
    while (i < lim && d(i) != '\r' && d(i) != '\n') {
      val c = d(i) & 0xff
      if (c < 0x20 || c > 0x7e) return null
      i += 1
    }
    if (i == off) null else new String(d, off, i - off, "ISO-8859-1")
  }

  /** Up to `max` NUL-separated printable fields covering the payload
    * (the r-command connection-open convention); null when malformed. */
  private def nulParts(d: Array[Byte], off: Int, len: Int, max: Int): Array[String] = {
    val out = new Array[String](max)
    var n = 0
    var start = off
    var i = off
    val lim = off + len
    while (i < lim && n < max) {
      val c = d(i) & 0xff
      if (c == 0) {
        out(n) = new String(d, start, i - start, "ISO-8859-1")
        n += 1
        start = i + 1
      } else if (c < 0x20 || c > 0x7e) return null
      i += 1
    }
    if (n < max) null else out
  }

  // ---- tier 40: Cisco SNAP control family, AppleTalk/IPX classics, and
  // monitoring/P2P app ports — twelve more glossary-only stubs made to
  // populate natively ----

  /** UDLD (Cisco, SNAP PID 0x0111): version/opcode byte, then the TLV
    * list — Device ID (type 1) surfaces. */
  private def dissectUdld(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 4) return null
    val vo = u8(d, off)
    protos += "udld"
    v("udld.version") = ((vo >> 5) & 0x7).toLong
    val op = vo & 0x1f
    v("udld.opcode") = op.toLong
    var p = off + 4
    while (p + 4 <= end) {
      val t = u16(d, p); val l = u16(d, p + 2)
      if (l < 4 || p + l > end) return "UDLD"
      if (t == 1 && l > 4)
        v("udld.device_id") = new String(d, p + 4, l - 4, "ISO-8859-1")
      p += l
    }
    val name = op match {
      case 1 => "Probe"; case 2 => "Echo"; case 3 => "Flush"; case o => s"Opcode $o"
    }
    s"UDLD $name"
  }

  /** DTP (Cisco trunk negotiation, SNAP PID 0x2004): version + TLVs —
    * the VTP domain (type 1) surfaces. */
  private def dissectDtp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 5) return null
    protos += "dtp"
    v("dtp.version") = u8(d, off).toLong
    var p = off + 1
    while (p + 4 <= end) {
      val t = u16(d, p); val l = u16(d, p + 2)
      if (l < 4 || p + l > end) return "Dynamic Trunk Protocol"
      if (t == 1 && l > 4)
        v("dtp.domain") = new String(d, p + 4, l - 4, "ISO-8859-1")
          .takeWhile(_ != 0.toChar)
      p += l
    }
    "Dynamic Trunk Protocol"
  }

  /** VTP (Cisco VLAN trunking, SNAP PID 0x2003): version, message code,
    * management domain. */
  private def dissectVtp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 4) return null
    val code = u8(d, off + 1)
    if (code < 1 || code > 4) return null
    protos += "vtp"
    v("vtp.version") = u8(d, off).toLong
    v("vtp.code") = code.toLong
    val mdLen = u8(d, off + 3)
    if (mdLen > 0 && mdLen <= 32 && off + 4 + mdLen <= end)
      v("vtp.md") = new String(d, off + 4, mdLen, "ISO-8859-1")
    code match {
      case 1 => "Summary Advertisement"
      case 2 => "Subset Advertisement"
      case 3 => "Advertisement Request"
      case _ => "Join/Prune Message"
    }
  }

  /** PAgP (Cisco port aggregation, SNAP PID 0x0104): version + flags. */
  private def dissectPagp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 2) return null
    protos += "pagp"
    v("pagp.version") = u8(d, off).toLong
    v("pagp.flags") = u8(d, off + 1).toLong
    "PAgP Information"
  }

  /** AppleTalk ARP (ethertype 0x80F3): the ARP layout with AppleTalk
    * protocol addresses. */
  private def dissectAarp(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 8) return null
    protos += "aarp"
    v("aarp.hard.type") = u16(d, off).toLong
    v("aarp.proto.type") = u16(d, off + 2).toLong
    val fn = u16(d, off + 6)
    v("aarp.function") = fn.toLong
    fn match {
      case 1 => "AppleTalk ARP request"
      case 2 => "AppleTalk ARP reply"
      case 3 => "AppleTalk ARP probe"
      case f => s"AppleTalk ARP function $f"
    }
  }

  /** AppleTalk DDP long header (ethertype 0x809B): nets, nodes, sockets,
    * DDP type. */
  private def dissectDdp(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 13) return null
    protos += "ddp"
    v("ddp.dst.net") = u16(d, off + 4).toLong
    v("ddp.src.net") = u16(d, off + 6).toLong
    val t = u8(d, off + 12)
    v("ddp.type") = t.toLong
    val name = t match {
      case 1 => "RTMP"; case 2 => "NBP"; case 3 => "ATP"; case 4 => "AEP"
      case 5 => "RTMP Request"; case 6 => "ZIP"; case 7 => "ADSP"
      case x => s"DDP type $x"
    }
    s"AppleTalk $name"
  }

  /** Novell IPX (ethertype 0x8137): checksum, length, packet type. */
  private def dissectIpx(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 30 || u16(d, off) != 0xffff) return null
    protos += "ipx"
    v("ipx.checksum") = 0xffffL
    v("ipx.len") = u16(d, off + 2).toLong
    val t = u8(d, off + 5)
    v("ipx.packet_type") = t.toLong
    val name = t match {
      case 0 => "Unknown"; case 1 => "RIP"; case 4 => "SAP"; case 5 => "SPX"
      case 17 => "NCP"; case x => s"Type $x"
    }
    s"IPX $name"
  }

  /** BitTorrent peer wire protocol (TCP 6881): the 0x13-prefixed
    * handshake (info hash surfaces) and the first length-prefixed
    * message after it. */
  private def dissectBittorrent(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 68 || u8(d, off) != 0x13) return null
    if (new String(d, off + 1, 19, "ISO-8859-1") != "BitTorrent protocol")
      return null
    protos += "bittorrent"
    val hash = (0 until 20).map(i => hex2(u8(d, off + 28 + i))).mkString
    v("bittorrent.info_hash") = hash
    var info = "Handshake"
    if (len >= 68 + 5) {
      val mlen = u32(d, off + 68)
      val mtype = u8(d, off + 72)
      if (mlen >= 1L && mlen <= 64L) {
        v("bittorrent.msg.length") = mlen
        v("bittorrent.msg.type") = mtype.toLong
        val mname = mtype match {
          case 0 => "Choke"; case 1 => "Unchoke"; case 2 => "Interested"
          case 3 => "Not Interested"; case 4 => "Have"; case 5 => "Bitfield"
          case 6 => "Request"; case 7 => "Piece"; case t => s"Msg $t"
        }
        info = s"Handshake, $mname"
      }
    }
    info
  }

  /** ZigBee Encapsulation Protocol (UDP 17754): "EX" magic, version,
    * type, 802.15.4 channel. */
  private def dissectZep(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5 || d(off) != 'E' || d(off + 1) != 'X') return null
    protos += "zep"
    v("zep.version") = u8(d, off + 2).toLong
    val t = u8(d, off + 3)
    v("zep.type") = t.toLong
    val ch = u8(d, off + 4)
    v("zep.channel_id") = ch.toLong
    // v2 data packets carry a full 802.15.4 frame after the 32-byte
    // header — walk the ZigBee stack (wpan → zbee_nwk → zbee_aps)
    if (t == 1 && len > 32) {
      val inner = dissectWpan(d, off + 32, off + len, v, protos)
      if (inner != null) return inner
    }
    val name = t match { case 1 => "Data"; case 2 => "ACK"; case x => s"Type $x" }
    s"ZEP $name, Channel $ch"
  }

  /** collectd network protocol (UDP 25826): typed parts — host string
    * (0x0000) and the first gauge value (part 0x0006, little-endian
    * double per the published format). */
  private def dissectCollectd(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4 || u16(d, off) != 0x0000) return null
    val lim = off + len
    var p = off
    var host: String = null
    var nVals = 0
    protos += "collectd"
    while (p + 4 <= lim) {
      val t = u16(d, p); val l = u16(d, p + 2)
      if (l < 4 || p + l > lim) return if (host != null) s"Host=$host" else "collectd"
      if (t == 0x0000 && l > 5)
        host = new String(d, p + 4, l - 5, "ISO-8859-1") // null-terminated
      if (t == 0x0006 && l >= 4 + 2 + 1 + 8) {
        v("collectd.type") = 0x0006L
        val n = u16(d, p + 4)
        nVals += n
        if (n >= 1 && u8(d, p + 6) == 1) { // gauge: LE double
          var bits = 0L
          var i = 0
          while (i < 8) { bits |= (u8(d, p + 6 + n + i).toLong << (8 * i)); i += 1 }
          v("collectd.val.value") = java.lang.Double.longBitsToDouble(bits)
        }
      }
      p += l
    }
    if (host != null) v("collectd.host") = host
    s"Host=${if (host != null) host else "?"}, $nVals value${if (nVals == 1) "" else "s"}"
  }

  /** GSMTAP (UDP 4729): version, payload type, ARFCN (low 14 bits). */
  private def dissectGsmtap(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16 || u8(d, off) != 2) return null
    protos += "gsmtap"
    v("gsmtap.version") = 2L
    v("gsmtap.type") = u8(d, off + 2).toLong
    val arfcn = u16(d, off + 4) & 0x3fff
    v("gsmtap.arfcn") = arfcn.toLong
    s"GSMTAP ARFCN $arfcn"
  }

  /** whois (RFC 3912, TCP 43): one query line to the server, free-text
    * answer back. */
  private def dissectWhois(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 3) return null
    var i = off
    val lim = off + math.min(len, 512)
    while (i < lim && d(i) != '\r' && d(i) != '\n') {
      val c = d(i) & 0xff
      if (c < 0x20 || c > 0x7e) return null
      i += 1
    }
    if (i == off || i >= off + len) return null
    val line = new String(d, off, i - off, "ISO-8859-1")
    protos += "whois"
    if (fromServer) { v("whois.answer") = line; s"Answer: $line" }
    else { v("whois.query") = line; s"Query: $line" }
  }

  // ---- tier 39: fieldbus / L2-security / storage ethertypes + app ports
  // (all ten protocols were glossary-only before this tier — the tranche
  // goal is making their vendored fields POPULATE natively) ----

  /** EtherCAT (ETG.1000, ethertype 0x88A4, little-endian): the frame
    * header (length/type, layer `ecatf` as Wireshark splits it) and the
    * first datagram's cmd/idx/adp/ado plus its trailing working counter. */
  private def dissectEcat(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 14) return null
    val fh = u8(d, off) | (u8(d, off + 1) << 8)
    if ((fh >> 12) != 1) return null // type 1 = EtherCAT command datagrams
    protos += "ecatf"
    v("ecatf.length") = (fh & 0x7ff).toLong
    v("ecatf.type") = (fh >> 12).toLong
    protos += "ecat"
    val p = off + 2
    val cmd = u8(d, p)
    val adp = u8(d, p + 2) | (u8(d, p + 3) << 8)
    val ado = u8(d, p + 4) | (u8(d, p + 5) << 8)
    val dlen = (u8(d, p + 6) | (u8(d, p + 7) << 8)) & 0x7ff
    v("ecat.cmd") = cmd.toLong
    v("ecat.idx") = u8(d, p + 1).toLong
    v("ecat.adp") = adp.toLong
    v("ecat.ado") = ado.toLong
    var wkc = -1
    if (p + 10 + dlen + 2 <= d.length) {
      wkc = u8(d, p + 10 + dlen) | (u8(d, p + 11 + dlen) << 8)
      v("ecat.cnt") = wkc.toLong
    }
    val name = cmd match {
      case 0 => "NOP"; case 1 => "APRD"; case 2 => "APWR"; case 3 => "APRW"
      case 4 => "FPRD"; case 5 => "FPWR"; case 6 => "FPRW"; case 7 => "BRD"
      case 8 => "BWR"; case 9 => "BRW"; case 10 => "LRD"; case 11 => "LWR"
      case 12 => "LRW"; case 13 => "ARMW"; case c => s"Cmd $c"
    }
    f"'$name': Len: $dlen, Adp 0x$adp%x, Ado 0x$ado%x" +
      (if (wkc >= 0) s", Wc $wkc" else "")
  }

  /** TIPC v2 (ethertype 0x88CA): the first header word — version, user,
    * header size, message size. */
  private def dissectTipc(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 4) return null
    val w0 = u32(d, off)
    val ver = ((w0 >> 29) & 0x7).toInt
    if (ver != 2) return null
    protos += "tipc"
    val usr = ((w0 >> 25) & 0xf).toInt
    v("tipc.ver") = ver.toLong
    v("tipc.usr") = usr.toLong
    v("tipc.hdr_size") = (((w0 >> 21) & 0xf) * 4).toLong
    v("tipc.msg_size") = w0 & 0x1ffff
    val name = usr match {
      case 0 | 1 | 2 | 3 => "Payload"
      case 5 => "Broadcast Protocol"
      case 6 => "Message Bundler"
      case 7 => "Link Protocol"
      case 8 => "Connection Manager"
      case 9 => "Route Distributor"
      case 10 => "Changeover Protocol"
      case 11 => "Name Distributor"
      case 12 => "Message Fragmenter"
      case 13 => "Link Configuration"
      case u => s"User $u"
    }
    s"TIPC $name"
  }

  /** IEC 61850-9-2 Sampled Values (ethertype 0x88BA): APPID/length header
    * then a short-form BER walk of savPdu → noASDU → first ASDU's svID /
    * smpCnt / smpSynch. */
  private def dissectSv(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 10 || u8(d, off + 8) != 0x60) return null
    protos += "sv"
    val appid = u16(d, off)
    v("sv.appid") = appid.toLong
    // savPdu(0x60) > noASDU(0x80) > seqOfASDU(0xA2) > ASDU(0x30) >
    // svID(0x80) smpCnt(0x82) confRev(0x83) smpSynch(0x85); all short-form
    var p = off + 10
    var noAsdu = -1L
    var svId: String = null
    var smpCnt = -1L
    var smpSynch = -1L
    while (p + 2 <= d.length) {
      val tag = u8(d, p)
      val tl = u8(d, p + 1)
      if (p + 2 + tl > d.length) return f"Sampled Values, APPID: 0x$appid%04x"
      tag match {
        case 0x80 if noAsdu < 0 && tl == 1 =>
          noAsdu = u8(d, p + 2).toLong
          v("sv.noasdu") = noAsdu
          p += 2 + tl
        case 0xA2 | 0x30 => p += 2 // descend into constructed tags
        case 0x80 if svId == null =>
          svId = new String(d, p + 2, tl, "ISO-8859-1")
          v("sv.svID") = svId
          p += 2 + tl
        case 0x82 if tl == 2 =>
          smpCnt = u16(d, p + 2).toLong
          v("sv.smpCnt") = smpCnt
          p += 2 + tl
        case 0x85 if tl == 1 =>
          smpSynch = u8(d, p + 2).toLong
          v("sv.smpSynch") = smpSynch
          p += 2 + tl
        case _ => p += 2 + tl
      }
    }
    if (svId != null) s"SV svID: $svId, smpCnt: $smpCnt"
    else f"Sampled Values, APPID: 0x$appid%04x"
  }

  /** MACsec / 802.1AE SecTAG (ethertype 0x88E5): TCI/AN, short length,
    * packet number, and the SCI when the SC bit is set. The payload is
    * ciphertext by design — no inner walk. */
  private def dissectMacsec(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 6) return null
    val tci = u8(d, off)
    if ((tci & 0x80) != 0) return null // V bit must be 0
    protos += "macsec"
    v("macsec.an") = (tci & 0x03).toLong
    v("macsec.sl") = (u8(d, off + 1) & 0x3f).toLong
    v("macsec.packet_number") = u32(d, off + 2)
    if ((tci & 0x20) != 0 && d.length >= off + 14) { // SC bit → 8-byte SCI
      val sci = (u32(d, off + 6) << 32) | u32(d, off + 10)
      v("macsec.sci") = sci
    }
    "MACsec frame"
  }

  /** FCoE (T11 FC-BB-5, ethertype 0x8906): version + SOF, then the
    * encapsulated Fibre Channel frame header; ELS command names surface
    * (FLOGI/PLOGI/...) when the FC type is Extended Link Services. */
  private def dissectFcoe(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 14 + 24) return null
    protos += "fcoe"
    v("fcoe.ver") = (u8(d, off) >> 4).toLong
    v("fcoe.sof") = u8(d, off + 13).toLong
    val fc = off + 14
    protos += "fc"
    val rctl = u8(d, fc)
    def addr(o: Int) = s"${hex2(u8(d, o))}.${hex2(u8(d, o + 1))}.${hex2(u8(d, o + 2))}"
    v("fc.r_ctl") = rctl.toLong
    v("fc.d_id") = addr(fc + 1)
    v("fc.s_id") = addr(fc + 5)
    val ftype = u8(d, fc + 8)
    v("fc.type") = ftype.toLong
    v("fc.ox_id") = u16(d, fc + 16).toLong
    if (ftype == 0x01 && d.length > fc + 24) { // Extended Link Services
      u8(d, fc + 24) match {
        case 0x03 => "PLOGI"
        case 0x04 => "FLOGI"
        case 0x05 => "LOGO"
        case 0x20 => "PRLI"
        case 0x62 => "FDISC"
        case c => f"ELS 0x$c%02x"
      }
    } else f"FC type 0x$ftype%02x"
  }

  /** Apache Thrift strict framed binary protocol (TCP 9090): frame
    * length, 0x8001 version word, message type, method name, sequence
    * id. */
  private def dissectThrift(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16 || u16(d, off + 4) != 0x8001 || u8(d, off + 6) != 0) return null
    val flen = u32(d, off)
    if (flen < 12L || flen > (len - 4).toLong) return null
    val mtype = u8(d, off + 7)
    if (mtype < 1 || mtype > 4) return null
    val nameLen = u32(d, off + 8).toInt
    if (nameLen <= 0 || nameLen > 256 || off + 12 + nameLen + 4 > off + len) return null
    val name = new String(d, off + 12, nameLen, "ISO-8859-1")
    if (!name.forall(c => c >= 0x20 && c <= 0x7e)) return null
    protos += "thrift"
    v("thrift.type") = mtype.toLong
    v("thrift.method") = name
    v("thrift.seq_id") = u32(d, off + 12 + nameLen)
    val tn = mtype match {
      case 1 => "CALL"; case 2 => "REPLY"; case 3 => "EXCEPTION"; case _ => "ONEWAY"
    }
    s"$tn $name"
  }

  /** HART-IP (HCF_SPEC-085, UDP/TCP 5094): the 8-byte session header —
    * version, message type, message id, status, sequence number. */
  private def dissectHartIp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u8(d, off) != 1) return null
    val mtype = u8(d, off + 1)
    val mid = u8(d, off + 2)
    if (mtype > 3 || mid > 3) return null
    protos += "hart_ip"
    v("hart_ip.version") = 1L
    v("hart_ip.message_type") = mtype.toLong
    v("hart_ip.message_id") = mid.toLong
    v("hart_ip.status") = u8(d, off + 3).toLong
    v("hart_ip.sequence_number") = u16(d, off + 4).toLong
    val idName = mid match {
      case 0 => "Session Initiate"; case 1 => "Session Close"
      case 2 => "Keep Alive"; case _ => "Token-Passing PDU"
    }
    val tName = mtype match {
      case 0 => "Request"; case 1 => "Response"; case 2 => "Publish"
      case _ => "NAK"
    }
    s"$idName $tName"
  }

  /** RMCP (ASF RMCP / IPMI-over-LAN, UDP 623): the 4-byte RMCP header,
    * then — for class IPMI — the v1.5 session header and the IPMI
    * message's netFn/cmd (populating the vendored ipmi fields). */
  private def dissectRmcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4 || u8(d, off) != 0x06 || u8(d, off + 1) != 0) return null
    val cls = u8(d, off + 3)
    protos += "rmcp"
    v("rmcp.version") = 6L
    v("rmcp.sequence") = u8(d, off + 2).toLong
    v("rmcp.class") = cls.toLong
    if ((cls & 0x7f) == 0x07 && len >= 4 + 10 + 6) {
      // IPMI v1.5 session: authType(1) seq(4) sessId(4) msgLen(1), then
      // rsAddr(1) netFn/rsLUN(1) csum(1) rqAddr(1) rqSeq(1) cmd(1)
      val s0 = off + 4
      val m0 = s0 + 10
      protos += "ipmi"
      val netfn = u8(d, m0 + 1) >> 2
      val cmd = u8(d, m0 + 5)
      v("ipmi.netfn") = netfn.toLong
      v("ipmi.cmd") = cmd.toLong
      // responses (odd NetFn) lead their data with the completion code
      if ((netfn & 1) == 1 && m0 + 6 < off + len)
        v("ipmi.ccode") = u8(d, m0 + 6).toLong
      val cmdName =
        if (netfn == 6 && cmd == 1) "Get Device ID"
        else if (netfn == 6 && cmd == 0x38) "Get Channel Auth Capabilities"
        else f"NetFn 0x$netfn%x Cmd 0x$cmd%02x"
      val dir = if ((netfn & 1) == 0) "Req" else "Rsp"
      s"$dir, $cmdName"
    } else if (cls == 0x06) "RMCP: ASF"
    else f"RMCP: Class 0x$cls%02x"
  }

  // ---- tier 38: routing / tunnel control planes + classic app layers ----

  /** IS-IS (ISO 10589) over LLC DSAP/SSAP 0xFE: the 8-byte common header
    * gated on the 0x83 protocol discriminator, then the LAN Hello body
    * (PDU types 15/16) — circuit type, source system-id, holding timer,
    * priority. Wireshark registers the hello as its own protocol layer
    * (`isis.hello`), mirrored here. */
  private def dissectIsis(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end - off < 8 || u8(d, off) != 0x83) return null
    val hlen = u8(d, off + 1)
    val pduType = u8(d, off + 4) & 0x1f
    protos += "isis"
    v("isis.irpd") = 0x83L
    v("isis.len") = hlen.toLong
    v("isis.version") = u8(d, off + 2).toLong
    v("isis.sysid_length") = u8(d, off + 3).toLong
    v("isis.type") = pduType.toLong
    v("isis.max_area_adr") = u8(d, off + 7).toLong
    if ((pduType == 15 || pduType == 16) && hlen >= 27 && end - off >= 20) {
      protos += "isis.hello"
      val hexId = (0 until 6).map(i => hex2(u8(d, off + 9 + i))).mkString
      val sysId = s"${hexId.substring(0, 4)}.${hexId.substring(4, 8)}." +
        hexId.substring(8, 12)
      v("isis.hello.circuit_type") = (u8(d, off + 8) & 0x03).toLong
      v("isis.hello.source_id") = sysId
      v("isis.hello.holding_timer") = u16(d, off + 15).toLong
      v("isis.hello.priority") = (u8(d, off + 19) & 0x7f).toLong
      val lvl = if (pduType == 15) "L1" else "L2"
      s"$lvl HELLO, System-ID: $sysId"
    } else s"IS-IS PDU type $pduType"
  }

  /** LDP (RFC 5036) discovery hello over UDP 646: version-1 PDU header
    * (LSR id + label space), first message type/id. */
  private def dissectLdp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 18 || u16(d, off) != 1) return null
    val pduLen = u16(d, off + 2)
    if (pduLen + 4 > len) return null
    protos += "ldp"
    v("ldp.hdr.version") = 1L
    v("ldp.hdr.pdu_len") = pduLen.toLong
    v("ldp.hdr.ldpid.lsr") = ipv4Str(d, off + 4)
    val msgType = u16(d, off + 10) & 0x7fff
    v("ldp.msg.type") = msgType.toLong
    v("ldp.msg.id") = u32(d, off + 14)
    msgType match {
      case 0x001 => "Notification Message"
      case 0x100 => "Hello Message"
      case 0x200 => "Initialization Message"
      case 0x201 => "KeepAlive Message"
      case 0x300 => "Address Message"
      case 0x400 => "Label Mapping Message"
      case t => f"Message Type 0x$t%03x"
    }
  }

  /** CAPWAP control (RFC 5415, UDP 5246): preamble version/type 0, the
    * HLEN/RID/WBID header word, then the control-message header (message
    * type, sequence number). */
  private def dissectCapwap(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16 || u8(d, off) != 0) return null
    val hlen = (u8(d, off + 1) >> 3) * 4
    if (hlen < 8 || hlen + 8 > len) return null
    protos += "capwap"
    v("capwap.preamble.version") = 0L
    v("capwap.preamble.type") = 0L
    v("capwap.header.length") = hlen.toLong
    v("capwap.header.wbid") = ((u8(d, off + 2) >> 1) & 0x1f).toLong
    val msgType = u32(d, off + hlen)
    v("capwap.control.message_type") = msgType
    v("capwap.control.sequence_number") = u8(d, off + hlen + 4).toLong
    val name = msgType match {
      case 1 => "Discovery Request"
      case 2 => "Discovery Response"
      case 3 => "Join Request"
      case 4 => "Join Response"
      case 5 => "Configuration Status Request"
      case 6 => "Configuration Status Response"
      case 12 => "Echo Request"
      case 13 => "Echo Response"
      case t => s"Message Type $t"
    }
    s"CAPWAP-Control - $name"
  }

  /** NNTP (RFC 3977, TCP 119): CRLF-terminated printable command /
    * 3-digit response line — the finger/gopher first-line convention. */
  private def dissectNntp(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 5) return null
    var i = off
    val lim = off + math.min(len, 256)
    while (i < lim && d(i) != '\r') {
      val c = d(i) & 0xff
      if (c < 0x20 || c > 0x7e) return null
      i += 1
    }
    if (i + 1 >= off + len || d(i) != '\r' || d(i + 1) != '\n') return null
    val line = new String(d, off, i - off, "ISO-8859-1")
    protos += "nntp"
    if (fromServer && line.length >= 3 && line.take(3).forall(_.isDigit)) {
      v("nntp.response") = line
      s"Response: $line"
    } else {
      v("nntp.request") = line
      s"Request: $line"
    }
  }

  /** AppleShare DSI session header (TCP 548) + the AFP command byte when
    * the DSI command is Command(2): the flags/command/request-id/
    * error-or-offset/length layout of the published DSI spec. */
  private def dissectDsi(
      d: Array[Byte], off: Int, len: Int, fromServer: Boolean,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 16) return null
    val flags = u8(d, off)
    val cmd = u8(d, off + 1)
    if (flags > 1 || cmd < 1 || cmd > 8) return null
    val totalLen = u32(d, off + 8)
    if (totalLen != (len - 16).toLong) return null
    protos += "dsi"
    v("dsi.flags") = flags.toLong
    v("dsi.command") = cmd.toLong
    v("dsi.requestid") = u16(d, off + 2).toLong
    v("dsi.code") = u32(d, off + 4)
    v("dsi.length") = totalLen
    val dsiName = cmd match {
      case 1 => "CloseSession"
      case 2 => "Command"
      case 3 => "GetStatus"
      case 4 => "OpenSession"
      case 5 => "Tickle"
      case 6 => "Write"
      case 7 => "WriteContinue"
      case 8 => "Attention"
    }
    if (cmd == 2 && flags == 0 && len >= 17) {
      val afpCmd = u8(d, off + 16)
      protos += "afp"
      v("afp.command") = afpCmd.toLong
      val afpName = afpCmd match {
        case 15 => "FPGetSrvrInfo"
        case 16 => "FPGetSrvrParms"
        case 18 => "FPLogin"
        case 20 => "FPLogout"
        case 24 => "FPOpenVol"
        case c => s"AFP command $c"
      }
      s"$afpName ${if (fromServer) "reply" else "request"}"
    } else s"DSI $dsiName ${if (flags == 0) "request" else "reply"}"
  }

  /** BMP (RFC 7854, TCP): version-3 common header — length and message
    * type. */
  private def dissectBmp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 6 || u8(d, off) != 3) return null
    val mlen = u32(d, off + 1)
    if (mlen < 6L || mlen > len.toLong) return null
    val t = u8(d, off + 5)
    if (t > 6) return null
    protos += "bmp"
    v("bmp.version") = 3L
    v("bmp.length") = mlen
    v("bmp.type") = t.toLong
    t match {
      case 0 => "Route Monitoring"
      case 1 => "Statistics Report"
      case 2 => "Peer Down Notification"
      case 3 => "Peer Up Notification"
      case 4 => "Initiation Message"
      case 5 => "Termination Message"
      case 6 => "Route Mirroring"
    }
  }

  /** NBD (TCP 10809) request header: the 0x25609513 magic, command type,
    * 64-bit handle, offset, length. */
  private def dissectNbd(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 28 || u32(d, off) != 0x25609513L) return null
    val t = u16(d, off + 6)
    protos += "nbd"
    v("nbd.magic") = 0x25609513L
    v("nbd.type") = t.toLong
    v("nbd.handle") = (u32(d, off + 8) << 32) | u32(d, off + 12)
    v("nbd.from") = (u32(d, off + 16) << 32) | u32(d, off + 20)
    v("nbd.len") = u32(d, off + 24)
    val name = t match {
      case 0 => "Read"
      case 1 => "Write"
      case 2 => "Disconnect"
      case 3 => "Flush"
      case 4 => "Trim"
      case x => s"Command $x"
    }
    s"$name Request"
  }

  // --- Bluetooth host stack (tier 51) ------------------------------------
  // Wire formats from the public Bluetooth Core Specification: H4 UART
  // transport (Vol 4 Part A), HCI command/event/ACL packets (Vol 4 Part E
  // §5.4), L2CAP (Vol 3 Part A), ATT (Vol 3 Part F §3.4), SDP (Vol 3
  // Part B §4), RFCOMM (the ETSI TS 07.10 subset). Matches the reference's
  // dynamic-schema promise for the bt* glossary protocols
  // (reference src/wireduck_extension.cpp:53-78).

  private def btDirPrefix(dir: Int): String =
    if (dir == 0) "Sent " else if (dir == 1) "Rcvd " else ""

  private lazy val hciCmdNames: Map[Int, String] = Map(
    0x0401 -> "Inquiry", 0x0405 -> "Create Connection",
    0x0406 -> "Disconnect", 0x0409 -> "Accept Connection Request",
    0x0C03 -> "Reset", 0x0C13 -> "Change Local Name",
    0x0C14 -> "Read Local Name", 0x1001 -> "Read Local Version Information",
    0x1003 -> "Read Local Supported Features", 0x1009 -> "Read BD ADDR",
    0x2006 -> "LE Set Advertising Parameters", 0x200A -> "LE Set Advertising Enable",
    0x200B -> "LE Set Scan Parameters", 0x200C -> "LE Set Scan Enable")

  private lazy val hciEvtNames: Map[Int, String] = Map(
    0x03 -> "Connect Complete", 0x05 -> "Disconnect Complete",
    0x0E -> "Command Complete", 0x0F -> "Command Status",
    0x13 -> "Number of Completed Packets", 0x3E -> "LE Meta")

  private lazy val btPsmNames: Map[Int, String] = Map(
    0x0001 -> "SDP", 0x0003 -> "RFCOMM", 0x0005 -> "TCS-BIN",
    0x000F -> "BNEP", 0x0011 -> "HID Control", 0x0013 -> "HID Interrupt",
    0x0017 -> "AVCTP", 0x0019 -> "AVDTP", 0x001F -> "ATT")

  private lazy val gattUuidNames: Map[Int, String] = Map(
    0x1800 -> "Generic Access Profile", 0x1801 -> "Generic Attribute Profile",
    0x2800 -> "GATT Primary Service Declaration",
    0x2801 -> "GATT Secondary Service Declaration",
    0x2803 -> "GATT Characteristic Declaration")

  /** HCI H4 packet at `off` (after any transport pseudo-header). `dir` is
    * 0 sent / 1 rcvd / -1 unknown; for linktype 187 (no direction word)
    * commands can only travel host→controller and events the reverse, so
    * the direction is inferred from the H4 type the way tshark does. */
  private def dissectHciH4(
      d: Array[Byte], off: Int, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    if (d.length < off + 1) return null
    protos += "hci_h4"
    val h4t = u8(d, off)
    v("hci_h4.type") = h4t.toLong
    def le16(o: Int): Int = u8(d, o) | (u8(d, o + 1) << 8)
    h4t match {
      case 1 => // HCI Command
        if (d.length < off + 4) return "HCI Command (truncated)"
        protos += "bthci_cmd"
        val opcode = le16(off + 1)
        v("bthci_cmd.opcode") = opcode.toLong
        v("bthci_cmd.opcode.ogf") = (opcode >> 10).toLong
        v("bthci_cmd.opcode.ocf") = (opcode & 0x3ff).toLong
        v("bthci_cmd.param_length") = u8(d, off + 3).toLong
        btDirPrefix(if (dir < 0) 0 else dir) +
          hciCmdNames.getOrElse(opcode, f"Unknown (0x$opcode%04x)")
      case 4 => // HCI Event
        if (d.length < off + 3) return "HCI Event (truncated)"
        protos += "bthci_evt"
        val code = u8(d, off + 1)
        v("bthci_evt.code") = code.toLong
        v("bthci_evt.param_length") = u8(d, off + 2).toLong
        var name = hciEvtNames.getOrElse(code, f"Unknown (0x$code%02x)")
        if (code == 0x0e && d.length >= off + 6) { // Command Complete
          v("bthci_evt.num_command_packets") = u8(d, off + 3).toLong
          val op = le16(off + 4)
          v("bthci_evt.opcode") = op.toLong
          if (d.length >= off + 7) v("bthci_evt.status") = u8(d, off + 6).toLong
          name += s" (${hciCmdNames.getOrElse(op, f"Unknown (0x$op%04x)")})"
        }
        btDirPrefix(if (dir < 0) 1 else dir) + name
      case 2 => // ACL data
        if (d.length < off + 5) return "HCI ACL (truncated)"
        protos += "bthci_acl"
        val hf = le16(off + 1)
        v("bthci_acl.chandle") = (hf & 0xfff).toLong
        v("bthci_acl.pb_flag") = ((hf >> 12) & 3).toLong
        v("bthci_acl.bc_flag") = ((hf >> 14) & 3).toLong
        v("bthci_acl.length") = le16(off + 3).toLong
        val s = dissectBtL2cap(d, off + 5, dir, v, protos, tracker)
        if (s != null) s else btDirPrefix(dir) + "ACL Data"
      case 3 => "SCO Data"
      case other => f"Unknown H4 packet type 0x$other%02x"
    }
  }

  /** L2CAP basic frame: LE length + channel. CID 0x0001 is the signaling
    * channel — Connection Request/Response pairs register dynamic
    * CID→PSM in the tracker so later data frames dissect their service
    * (SDP, RFCOMM), the same conversation-state pattern the TCP/SDP/RTP
    * paths use. CID 0x0004 is the fixed ATT channel. */
  private def dissectBtL2cap(
      d: Array[Byte], off: Int, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    if (d.length < off + 4) return null
    protos += "btl2cap"
    def le16(o: Int): Int = u8(d, o) | (u8(d, o + 1) << 8)
    val len = le16(off)
    val cid = le16(off + 2)
    v("btl2cap.length") = len.toLong
    v("btl2cap.cid") = cid.toLong
    val p = off + 4
    cid match {
      case 1 => // signaling
        if (d.length < p + 4) return "L2CAP Signaling (truncated)"
        val code = u8(d, p)
        val id = u8(d, p + 1)
        v("btl2cap.cmd_code") = code.toLong
        code match {
          case 2 if d.length >= p + 8 => // Connection Request
            val psm = le16(p + 4)
            val scid = le16(p + 6)
            v("btl2cap.psm") = psm.toLong
            v("btl2cap.scid") = scid.toLong
            if (tracker.btPendingL2cap.size < 256) tracker.btPendingL2cap(id) = psm
            btDirPrefix(dir) + f"Connection Request (${
              btPsmNames.getOrElse(psm, f"0x$psm%04x")}, SCID: 0x$scid%04x)"
          case 3 if d.length >= p + 10 => // Connection Response
            val dcid = le16(p + 4)
            val scid = le16(p + 6)
            val result = le16(p + 8)
            v("btl2cap.dcid") = dcid.toLong
            v("btl2cap.scid") = scid.toLong
            tracker.btPendingL2cap.remove(id).foreach { psm =>
              tracker.btRegisterCid(dcid, psm)
              tracker.btRegisterCid(scid, psm)
            }
            val res = if (result == 0) "Success" else f"Result 0x$result%04x"
            btDirPrefix(dir) +
              f"Connection Response - $res (SCID: 0x$scid%04x, DCID: 0x$dcid%04x)"
          case other =>
            btDirPrefix(dir) + f"Command 0x$other%02x"
        }
      case 4 => // fixed ATT channel
        val s = dissectBtAtt(d, p, dir, v, protos)
        if (s != null) s else "L2CAP"
      case c if c >= 0x40 =>
        tracker.btCidPsm.get(c) match {
          case Some(1) =>
            val s = dissectBtSdp(d, p, dir, v, protos); if (s != null) s else "L2CAP"
          case Some(3) =>
            val s = dissectBtRfcomm(d, p, dir, v, protos); if (s != null) s else "L2CAP"
          case _ => btDirPrefix(dir) + "Connection oriented channel"
        }
      case _ => "L2CAP"
    }
  }

  /** ATT PDU: the GATT discovery/read subset with handle and UUID16
    * fields; other opcodes keep their opcode field and a generic info. */
  private def dissectBtAtt(
      d: Array[Byte], off: Int, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 1) return null
    protos += "btatt"
    def le16(o: Int): Int = u8(d, o) | (u8(d, o + 1) << 8)
    val opcode = u8(d, off)
    v("btatt.opcode") = opcode.toLong
    opcode match {
      case 0x10 if d.length >= off + 7 => // Read By Group Type Request
        val start = le16(off + 1); val end = le16(off + 3); val uuid = le16(off + 5)
        v("btatt.starting_handle") = start.toLong
        v("btatt.ending_handle") = end.toLong
        v("btatt.uuid16") = uuid.toLong
        btDirPrefix(dir) + f"Read By Group Type Request, ${
          gattUuidNames.getOrElse(uuid, f"UUID 0x$uuid%04x")}, Handles: 0x$start%04x..0x$end%04x"
      case 0x11 if d.length >= off + 2 => // Read By Group Type Response
        val elen = u8(d, off + 1)
        if (elen >= 6 && d.length >= off + 8) { // first entry: handle range + uuid16
          v("btatt.starting_handle") = le16(off + 2).toLong
          v("btatt.ending_handle") = le16(off + 4).toLong
          v("btatt.uuid16") = le16(off + 6).toLong
        }
        btDirPrefix(dir) + s"Read By Group Type Response, Attribute List Length: $elen"
      case 0x08 if d.length >= off + 7 => // Read By Type Request
        v("btatt.starting_handle") = le16(off + 1).toLong
        v("btatt.ending_handle") = le16(off + 3).toLong
        v("btatt.uuid16") = le16(off + 5).toLong
        btDirPrefix(dir) + "Read By Type Request"
      case 0x0a if d.length >= off + 3 => // Read Request
        val h = le16(off + 1)
        v("btatt.handle") = h.toLong
        btDirPrefix(dir) + f"Read Request, Handle: 0x$h%04x"
      case 0x0b => btDirPrefix(dir) + "Read Response"
      case 0x12 if d.length >= off + 3 => // Write Request
        val h = le16(off + 1)
        v("btatt.handle") = h.toLong
        btDirPrefix(dir) + f"Write Request, Handle: 0x$h%04x"
      case 0x13 => btDirPrefix(dir) + "Write Response"
      case 0x1b if d.length >= off + 3 => // Handle Value Notification
        val h = le16(off + 1)
        v("btatt.handle") = h.toLong
        btDirPrefix(dir) + f"Handle Value Notification, Handle: 0x$h%04x"
      case other => btDirPrefix(dir) + f"Opcode 0x$other%02x"
    }
  }

  private lazy val btSdpPduNames: Map[Int, String] = Map(
    0x01 -> "Error Response",
    0x02 -> "Service Search Request", 0x03 -> "Service Search Response",
    0x04 -> "Service Attribute Request", 0x05 -> "Service Attribute Response",
    0x06 -> "Service Search Attribute Request",
    0x07 -> "Service Search Attribute Response")

  /** SDP PDU header: id, BIG-endian transaction id and parameter length
    * (SDP is the one big-endian layer in the Bluetooth host stack). */
  private def dissectBtSdp(
      d: Array[Byte], off: Int, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 5) return null
    protos += "btsdp"
    val pdu = u8(d, off)
    v("btsdp.pdu") = pdu.toLong
    v("btsdp.tid") = u16(d, off + 1).toLong
    v("btsdp.len") = u16(d, off + 3).toLong
    btDirPrefix(dir) + btSdpPduNames.getOrElse(pdu, f"PDU 0x$pdu%02x")
  }

  private lazy val btRfcommTypeNames: Map[Int, String] = Map(
    0x2f -> "SABM", 0x63 -> "UA", 0x0f -> "DM", 0x43 -> "DISC", 0xef -> "UIH")

  /** RFCOMM (TS 07.10 basic option): address (EA|C/R|DLCI), control with
    * the poll/final bit masked out of the frame type, EA-coded length.
    * The user channel is the DLCI's upper 5 bits. */
  private def dissectBtRfcomm(
      d: Array[Byte], off: Int, dir: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 3) return null
    protos += "btrfcomm"
    val addr = u8(d, off)
    val dlci = addr >> 2
    val ctrl = u8(d, off + 1)
    val ftype = ctrl & 0xef // poll/final bit masked
    val lenField = u8(d, off + 2)
    // two-byte EA-coded length needs a 4th octet — treat a frame that
    // ends right after the length byte as truncated (length low bits only)
    val plen = if ((lenField & 1) == 1) lenField >> 1
      else if (d.length > off + 3) (lenField >> 1) | (u8(d, off + 3) << 7)
      else lenField >> 1
    v("btrfcomm.dlci") = dlci.toLong
    v("btrfcomm.channel") = (dlci >> 1).toLong
    v("btrfcomm.cr") = ((addr >> 1) & 1).toLong
    v("btrfcomm.frame_type") = ftype.toLong
    v("btrfcomm.len") = plen.toLong
    btDirPrefix(dir) +
      btRfcommTypeNames.getOrElse(ftype, f"Frame 0x$ftype%02x") +
      s" Channel=${dlci >> 1}"
  }

  private lazy val btleAdvPduNames: Map[Int, String] = Map(
    0 -> "ADV_IND", 1 -> "ADV_DIRECT_IND", 2 -> "ADV_NONCONN_IND",
    3 -> "SCAN_REQ", 4 -> "SCAN_RSP", 5 -> "CONNECT_IND", 6 -> "ADV_SCAN_IND")

  /** Bluetooth LE link layer, linktype 251: over-the-air packet starting
    * at the access address (4 bytes LE), then the 2-byte PDU header and
    * payload; the trailing 3-byte CRC is excluded by the header length.
    * The fixed advertising access address 0x8E89BED6 selects the
    * advertising-channel PDU format; anything else is a data-channel PDU
    * whose LLID 1/2 payloads carry L2CAP (→ ATT on CID 4). A Mesh
    * Message AD structure (type 0x2A) inside advertising data yields the
    * btmesh network-PDU envelope (IVI/NID — the rest is encrypted). */
  private def dissectBtle(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker): String = {
    if (d.length < off + 6) return null
    protos += "btle"
    def le32(o: Int): Long = (u8(d, o) | (u8(d, o + 1) << 8) | (u8(d, o + 2) << 16) |
      ((u8(d, o + 3) & 0xffL) << 24)) & 0xffffffffL
    val aa = le32(off)
    v("btle.access_address") = aa
    val h0 = u8(d, off + 4)
    val plen = u8(d, off + 5)
    v("btle.length") = plen.toLong
    val p = off + 6
    def revMac(o: Int): String =
      f"${u8(d, o + 5)}%02x:${u8(d, o + 4)}%02x:${u8(d, o + 3)}%02x:${
        u8(d, o + 2)}%02x:${u8(d, o + 1)}%02x:${u8(d, o)}%02x"
    if (aa == 0x8e89bed6L) { // advertising channel
      val ptype = h0 & 0xf
      v("btle.advertising_header.pdu_type") = ptype.toLong
      val name = btleAdvPduNames.getOrElse(ptype, f"Advertising PDU 0x$ptype%1x")
      if (ptype == 3 && d.length >= p + 12) { // SCAN_REQ: ScanA + AdvA
        v("btle.advertising_address") = revMac(p + 6)
      } else if (d.length >= p + 6) {
        v("btle.advertising_address") = revMac(p)
        // AD structures follow AdvA for the advertising/scan-response PDUs
        if (ptype == 0 || ptype == 2 || ptype == 4 || ptype == 6) {
          var i = p + 6
          val end = math.min(p + plen, d.length)
          while (i + 2 <= end) {
            val alen = u8(d, i)
            if (alen == 0 || i + 1 + alen > end) i = end
            else {
              if (u8(d, i + 1) == 0x2a && alen >= 2) { // Mesh Message
                protos += "btmesh"
                val b0 = u8(d, i + 2)
                v("btmesh.ivi") = ((b0 >> 7) & 1).toLong
                v("btmesh.nid") = (b0 & 0x7f).toLong
              }
              i += 1 + alen
            }
          }
          if (protos.last == "btmesh") return s"$name (Mesh Message)"
        }
      }
      name
    } else { // data channel
      val llid = h0 & 3
      v("btle.data_header.llid") = llid.toLong
      if ((llid == 1 || llid == 2) && plen >= 4 && d.length >= p + 4) {
        val s = dissectBtL2cap(d, p, -1, v, protos, tracker)
        if (s != null) return s
      }
      llid match {
        case 3 => "Control PDU"
        case 1 => "L2CAP Fragment"
        case _ => if (plen == 0) "Empty PDU" else "Data PDU"
      }
    }
  }

  // --- tier 52: the automotive buses -------------------------------------

  /** SocketCAN (linktype 227): big-endian CAN ID word with EFF/RTR/ERR in
    * the top three bits, then DLC + 3 pad bytes + data. 29-bit extended
    * IDs carry SAE J1939 (priority / PGN / addresses straight out of the
    * ID — the j1939-over-CAN heuristic tshark also applies); 11-bit IDs
    * whose function code and DLC match a CANopen predefined-connection
    * pattern layer canopen on top (tshark needs decode-as for this — the
    * canopen layer therefore stays OUT of the tshark-diff asserted set). */
  private def dissectCan(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 8) return null
    protos += "can"
    val idWord = u32(d, off)
    val eff = (idWord & 0x80000000L) != 0
    val rtr = (idWord & 0x40000000L) != 0
    val id = if (eff) idWord & 0x1fffffffL else idWord & 0x7ffL
    val dlc = u8(d, off + 4)
    v("can.id") = id
    v("can.len") = dlc.toLong
    val base = if (rtr) f"RTR: 0x$id%08x" else f"${if (eff) "XTD" else "STD"}: 0x$id%08x"
    if (eff && !rtr) { // SAE J1939: the 29-bit ID IS the protocol header
      protos += "j1939"
      val pri = ((id >> 26) & 7).toInt
      val pf = ((id >> 16) & 0xff).toInt
      // PDU1 (PF<240): PS is a destination address, PGN masks it out;
      // PDU2: PS is a group extension and part of the PGN
      val pgn = if (pf < 240) (id >> 8) & 0x3ff00L else (id >> 8) & 0x3ffffL
      v("j1939.priority") = pri.toLong
      v("j1939.pgn") = pgn
      v("j1939.src_addr") = id & 0xffL
      if (pf < 240) v("j1939.dst_addr") = (id >> 8) & 0xffL
      return s"PGN: $pgn"
    }
    if (!eff && !rtr) {
      val fc = (id >> 7).toInt
      // predefined connection set, gated on the DLC each service uses
      val isCanopen = fc match {
        case 0x0 => dlc == 2 // NMT
        case 0x1 => dlc == 0 || dlc == 8 // SYNC / EMCY
        case 0xb | 0xc => dlc == 8 // SDO tx/rx
        case 0xe => dlc == 1 // heartbeat
        case _ => false
      }
      if (isCanopen) {
        protos += "canopen"
        v("canopen.function_code") = fc.toLong
        v("canopen.cob_id") = id
        val what = fc match {
          case 0x0 => "NMT"
          case 0x1 => if (dlc == 0) "SYNC" else "EMCY"
          case 0xb => "SDO tx"
          case 0xc => "SDO rx"
          case 0xe => "Heartbeat"
          case _ => f"FC 0x$fc%x"
        }
        return s"$what, COB-ID: 0x" + f"$id%03x"
      }
    }
    base
  }

  /** FlexRay (linktype 210): one measurement byte (bit 0 channel A/B,
    * bits 2-1 type: 1 frame / 2 symbol) then the 5-byte FlexRay frame
    * header — indicator bits + 11-bit frame ID, 7-bit payload length in
    * 16-bit words, 11-bit header CRC, 6-bit cycle count (FlexRay
    * Communications System Protocol Specification §4.2; the pcap
    * encapsulation follows the Wireshark wiki's FlexRay format). */
  private def dissectFlexray(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 1) return null
    protos += "flexray"
    val mb = u8(d, off)
    val channel = if ((mb & 1) == 0) "A" else "B"
    v("flexray.ch") = (mb & 1).toLong
    ((mb >> 1) & 3) match {
      case 2 => // symbol
        "Symbol"
      case _ =>
        if (d.length < off + 6) return "FlexRay (truncated)"
        val fid = ((u8(d, off + 1) & 0x07) << 8) | u8(d, off + 2)
        val cc = u8(d, off + 5) & 0x3f
        v("flexray.fid") = fid.toLong
        v("flexray.cc") = cc.toLong
        s"ID: $fid, CC: $cc, CH: $channel"
    }
  }

  /** IEC 61850 GOOSE (ethertype 0x88B8): APPID / length / two reserved
    * words, then the BER-coded IECGoosePdu (tag 0x61) whose context-tagged
    * members carry the publisher state — gocbRef [0], timeAllowedtoLive
    * [1], stNum [5], sqNum [6]. Same short-form TLV walk as the sibling
    * Sampled Values dissector (ethertype 0x88BA). */
  private def dissectGoose(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 10 || u8(d, off + 8) != 0x61) return null
    protos += "goose"
    v("goose.appid") = u16(d, off).toLong
    var p = off + 10
    var gocb: String = null
    var stNum = -1L
    var sqNum = -1L
    def berUint(at: Int, tl: Int): Long = {
      var x = 0L; var i = at
      while (i < at + tl) { x = (x << 8) | u8(d, i); i += 1 }
      x
    }
    while (p + 2 <= d.length) {
      val tag = u8(d, p)
      val tl = u8(d, p + 1)
      if (p + 2 + tl > d.length) return "GOOSE"
      tag match {
        case 0x80 if gocb == null =>
          gocb = new String(d, p + 2, tl, "ISO-8859-1")
          v("goose.gocbRef") = gocb
        case 0x81 => v("goose.timeAllowedtoLive") = berUint(p + 2, tl)
        case 0x85 => stNum = berUint(p + 2, tl); v("goose.stNum") = stNum
        case 0x86 => sqNum = berUint(p + 2, tl); v("goose.sqNum") = sqNum
        case _ =>
      }
      p += 2 + tl
    }
    if (gocb != null) s"GOOSE: $gocb, stNum: $stNum, sqNum: $sqNum" else "GOOSE"
  }

  // --- tier 55: deepening pass helpers -----------------------------------

  /** MIKEY (RFC 3830, UDP/TCP 2269): common header — version 1, data
    * type (0 = pre-shared initiator, 1 = PSK verification, 2/3 =
    * public-key, 4/5 = Diffie-Hellman). */
  private def dissectMikey(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 10 || u8(d, off) != 1) return null
    val dt = u8(d, off + 1)
    if (dt > 10) return null
    protos += "mikey"
    v("mikey.version") = 1L
    v("mikey.type") = dt.toLong
    dt match {
      case 0 => "Initiator's pre-shared key message"
      case 1 => "Verification message of a pre-shared key message"
      case 4 => "Initiator's DH exchange message"
      case t => s"MIKEY type $t"
    }
  }

  /** MAC-LTE framed (the public packet-mac-lte.h UDP framing, after the
    * "mac-lte" magic): radioType, direction, rntiType, then optional
    * tag-value pairs — 0x02 RNTI(2), 0x03 UEID(2), 0x04 frame/subframe
    * (sfn<<4|sf, 2 bytes) — until the payload tag 0x01. */
  private def dissectMacLte(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (end < off + 4) return null
    protos += "mac-lte"
    var p = off + 3 // radioType, direction, rntiType
    var rnti = -1L
    var sfn = -1L
    var done = false
    while (!done && p < end) {
      u8(d, p) match {
        case 0x02 if p + 3 <= end =>
          rnti = u16(d, p + 1).toLong
          v("mac-lte.rnti") = rnti
          p += 3
        case 0x03 if p + 3 <= end => p += 3 // ueid
        case 0x04 if p + 3 <= end =>
          sfn = (u16(d, p + 1) >> 4).toLong
          v("mac-lte.sfn") = sfn
          p += 3
        case 0x01 => done = true // MAC PDU payload starts
        case _ => done = true
      }
    }
    if (rnti >= 0) s"MAC-LTE RNTI=$rnti" + (if (sfn >= 0) s" SFN=$sfn" else "")
    else "MAC-LTE"
  }

  /** PROFINET IO over connectionless DCE/RPC (the PNIO-CM endpoint, UDP
    * 34964): the C706 §12.5 CL packet header is 80 bytes (version 4,
    * ptype, flags, drep, three UUIDs, boot/if/seq, opnum...); the body is
    * the NDR args envelope (20 bytes: ArgsMaximum, ArgsLength, array
    * maximum/offset/actual counts) followed by PNIO's BIG-endian block
    * list — ARBlockReq (0x0101) carries the ARUUID at block offset 8,
    * IOCRBlockReq (0x0102) carries the API of its first related-API
    * entry at block offset 46 (IEC 61158-6-10 §5.2.5). */
  private def dissectPnioCm(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 80 || u8(d, off) != 4) return null
    val ptype = u8(d, off + 1)
    if (ptype > 2) return null // request/ping/response
    protos += "dcerpc"
    v("dcerpc.ver") = 4L
    v("dcerpc.pkt_type") = ptype.toLong
    // CL opnum is little-endian under the usual 0x10 drep
    val le = (u8(d, off + 4) & 0x10) != 0
    val opnum = if (le) u8(d, off + 68) | (u8(d, off + 69) << 8) else u16(d, off + 68)
    v("dcerpc.opnum") = opnum.toLong
    protos += "pn_io"
    var p = off + 80 + 20 // CL header + NDR args envelope
    var ar: String = null
    var api = -1L
    while (p + 6 <= off + len) {
      val bt = u16(d, p)
      val blen = u16(d, p + 2) + 4 // BlockLength counts from the version field
      if (bt == 0x0101 && p + 24 <= off + len && ar == null) {
        ar = (0 until 16).map(i => hex2(u8(d, p + 8 + i))).mkString
          .replaceAll("(.{8})(.{4})(.{4})(.{4})(.{12})", "$1-$2-$3-$4-$5")
        v("pn_io.ar_uuid") = ar
      }
      if (bt == 0x0102 && p + 50 <= off + len && api < 0) {
        api = u32(d, p + 46)
        v("pn_io.api") = api
      }
      if (blen <= 4) p = off + len else p += blen
    }
    if (ar != null) s"Connect request, ARUUID $ar" else "PNIO-CM"
  }

  /** MMS (ISO 9506) on the full OSI stack over TPKT/COTP (TCP 102,
    * behind the S7 check): the established-session shape — GIVE TOKENS +
    * DATA TRANSFER SPDUs (01 00 01 00), the ISO 8823 fully-encoded-data
    * shell (APPLICATION 1 → PDV-list → presentation-context INTEGER →
    * single-ASN1-type [0]), then the MMS confirmed-RequestPDU whose
    * first INTEGER is the invokeID. Only this canonical in-session
    * layout is claimed; association setup (CR/CC with ACSE) stays the
    * tshark dissector's territory. */
  private def dissectMms(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 24 || u8(d, off) != 3 || u8(d, off + 1) != 0) return null
    if (u16(d, off + 2) != len) return null
    // COTP DT
    if (u8(d, off + 4) != 2 || u8(d, off + 5) != 0xf0) return null
    val p = off + 7
    // session: GIVE TOKENS (type 1, len 0) + DATA TRANSFER (type 1, len 0)
    if (u8(d, p) != 0x01 || u8(d, p + 1) != 0x00 ||
      u8(d, p + 2) != 0x01 || u8(d, p + 3) != 0x00) return null
    var q = p + 4
    if (u8(d, q) != 0x61) return null // fully-encoded-data
    protos += "tpkt"
    v("tpkt.version") = 3L
    v("tpkt.length") = len.toLong
    protos += "cotp"
    v("cotp.li") = 2L
    v("cotp.type") = 0x0fL
    protos += "ses"
    protos += "pres"
    q += 2
    if (q + 2 <= off + len && u8(d, q) == 0x30) q += 2 // PDV-list
    if (q + 3 <= off + len && u8(d, q) == 0x02) q += 2 + u8(d, q + 1) // pres ctx id
    if (q + 2 > off + len || u8(d, q) != 0xa0) return "OSI session data"
    q += 2 // single-ASN1-type [0]
    if (q + 4 <= off + len && u8(d, q) == 0xa0 && u8(d, q + 2) == 0x02) {
      // confirmed-RequestPDU { invokeID INTEGER, service... }
      protos += "mms"
      val il = u8(d, q + 3)
      if (il >= 1 && il <= 4 && q + 4 + il <= off + len) {
        var x = 0L
        var k = 0
        while (k < il) { x = (x << 8) | u8(d, q + 4 + k); k += 1 }
        v("mms.invokeID") = x
        return s"Confirmed-Request (invokeID $x)"
      }
      return "Confirmed-Request"
    }
    "OSI presentation data"
  }

  private lazy val h225RasNames: Map[Int, String] = Map(
    0 -> "gatekeeperRequest", 1 -> "gatekeeperConfirm", 2 -> "gatekeeperReject",
    3 -> "registrationRequest", 4 -> "registrationConfirm",
    5 -> "registrationReject", 9 -> "admissionRequest",
    10 -> "admissionConfirm", 11 -> "admissionReject",
    15 -> "disengageRequest", 18 -> "infoRequestResponse")

  /** H.225.0 RAS (UDP 1719, X.691 ALIGNED PER). The bit math claimed
    * here, from the X.691 rules applied to the H.225v1 root types:
    * RasMessage is an extensible 25-alternative CHOICE → extension bit +
    * 5 index bits. GatekeeperRequest's root has 4 OPTIONAL members and
    * GatekeeperConfirm's has 2, so after their sequence preambles (ext
    * bit + option bitmap) the cursor sits at 11 resp. 9 bits — and the
    * next field, requestSeqNum (INTEGER 1..65535, a 2-octet ALIGNED
    * constrained integer, value−1 on the wire), starts at byte 2 for
    * BOTH. Other choices (different preamble widths) only claim the
    * message name. Extension-bit messages are not claimed at all. */
  private def dissectH225Ras(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4) return null
    val b0 = u8(d, off)
    if ((b0 & 0x80) != 0) return null // extended choice: not claimed
    val choice = (b0 >> 2) & 0x1f
    if (!h225RasNames.contains(choice)) return null
    protos += "h225"
    v("h225.rasMessage") = choice.toLong
    if (choice <= 1) {
      val seq = u16(d, off + 2) + 1
      v("h225.requestSeqNum") = seq.toLong
    }
    // DisengageRequest (choice 15): its root has exactly ONE OPTIONAL
    // member (nonStandardData), so the claimable no-extension
    // all-options-absent shape fixes byte0 at 0x3C (ext 0, index 01111,
    // seq-ext 0, option 0 — 8 preamble bits exactly). requestSeqNum
    // (INTEGER 1..65535, 2-octet ALIGNED, value−1) then sits at bytes
    // 1-2; a 1-character endpointIdentifier (BMPString SIZE(1..128):
    // 7-bit length determinant 0 + 1 pad bit, i.e. byte3 == 0x00, then
    // the octet-aligned BMP char at 4-5) leaves conferenceID — the GUID,
    // OCTET STRING SIZE(16), octet-aligned with no length determinant —
    // at bytes 6..21, callReferenceValue at 22-23. Only that shape is
    // claimed (the same X.691 discipline as the GRQ/GCF walk above).
    if (choice == 15 && b0 == 0x3c && len >= 24 && u8(d, off + 3) == 0) {
      v("h225.requestSeqNum") = (u16(d, off + 1) + 1).toLong
      val guid = (0 until 16).map(i => hex2(u8(d, off + 6 + i))).mkString
        .replaceAll("(.{8})(.{4})(.{4})(.{4})(.{12})", "$1-$2-$3-$4-$5")
      v("h225.guid") = guid
      return s"RAS: disengageRequest ($guid)"
    }
    s"RAS: ${h225RasNames(choice)}"
  }

  /** H.245 (TPKT-framed; the port is signaled in the H.225 Setup — the
    * fixture pins 1721): an openLogicalChannel request in ALIGNED PER.
    * MultimediaSystemControlMessage CHOICE(4 alternatives, ext bit + 2
    * index bits) → request; RequestMessage CHOICE (ext + 4 bits) →
    * openLogicalChannel(3); the OLC root has 2 OPTIONAL members (ext +
    * 2 option bits) — exactly 8 + 3 bits, so forwardLogicalChannelNumber
    * (INTEGER 1..65535, 2-octet aligned, value−1) sits at bytes 2-3.
    * Only the no-extension all-options-absent shape (byte0 0x03, byte1
    * 0x00) is claimed. */
  private def dissectH245(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 8 || u8(d, off) != 3 || u8(d, off + 1) != 0) return null
    if (u16(d, off + 2) != len) return null
    val p = off + 4
    protos += "tpkt"
    v("tpkt.version") = 3L
    v("tpkt.length") = len.toLong
    if (u8(d, p) == 0x03 && u8(d, p + 1) == 0x00 && p + 4 <= off + len) {
      protos += "h245"
      val flcn = u16(d, p + 2) + 1
      v("h245.forwardLogicalChannelNumber") = flcn.toLong
      return s"openLogicalChannel ($flcn)"
    }
    // terminalCapabilitySet (request index 2): the TCS root's 3 OPTIONAL
    // members leave the 1-octet sequenceNumber (INTEGER 0..255) aligned
    // at byte 2 — same X.691 discipline, no-extension shape only
    if (u8(d, p) == 0x02 && u8(d, p + 1) == 0x00 && p + 3 <= off + len) {
      protos += "h245"
      val seq = u8(d, p + 2)
      v("h245.sequenceNumber") = seq.toLong
      return s"terminalCapabilitySet (seq $seq)"
    }
    null
  }

  /** H.248/MEGACO BINARY encoding (H.248.1 Annex A BER, UDP 2945 — the
    * text encoding on 2944 is the existing megaco dissector):
    * MegacoMessage ⊃ Message { version INTEGER, mId, body }; the first
    * transactionRequest's transactionId INTEGER follows its [2] tag. */
  private def dissectH248Bin(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 9 || u8(d, off) != 0x30 || u8(d, off + 2) != 0x30) return null
    if (u8(d, off + 4) != 0x02 || u8(d, off + 5) != 0x01) return null
    protos += "h248"
    val ver = u8(d, off + 6)
    v("h248.version") = ver.toLong
    var q = off + 7
    val end = off + len
    var transid = -1L
    while (transid < 0 && q + 4 <= end) {
      if (u8(d, q) == 0xa2 && u8(d, q + 2) == 0x02) {
        val il = u8(d, q + 3)
        if (il >= 1 && il <= 4 && q + 4 + il <= end) {
          var x = 0L
          var k = 0
          while (k < il) { x = (x << 8) | u8(d, q + 4 + k); k += 1 }
          transid = x
          v("h248.transid") = x
        }
      }
      q += 1
    }
    if (transid >= 0) s"TransactionRequest id=$transid (v$ver)"
    else s"H.248 binary (v$ver)"
  }

  /** BFCP (RFC 8855, the SDP-negotiated floor-control channel; fixture
    * uses 5070): COMMON-HEADER — version (3 bits; 1 = reliable/TCP, 2 =
    * unreliable/UDP), primitive, payload length in 4-octet units. */
  private def dissectBfcp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 12) return null
    val ver = u8(d, off) >> 5
    if (ver != 1 && ver != 2) return null
    val prim = u8(d, off + 1)
    if (prim < 1 || prim > 22) return null
    val plen = u16(d, off + 2)
    if (12 + plen * 4 > len) return null
    protos += "bfcp"
    v("bfcp.ver") = ver.toLong
    v("bfcp.primitive") = prim.toLong
    v("bfcp.payload_length") = plen.toLong
    prim match {
      case 1 => "FloorRequest"
      case 2 => "FloorRelease"
      case 13 => "Hello"
      case p => s"BFCP primitive $p"
    }
  }

  /** NS (3GPP TS 48.016) on the Gb-over-IP port: an NS-UNITDATA PDU
    * (type 0) opens BSSGP — UL/DL-UNITDATA lead with the TLLI. */
  private def dissectNsBssgp(
      d: Array[Byte], off: Int, len: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (len < 4 || u8(d, off) != 0x00) return null
    protos += "ns"
    val b = off + 4 // NS-UNITDATA: type, spare/C-R, BVCI(2)
    if (len >= 4 + 5) {
      val pdu = u8(d, b)
      if (pdu == 0x00 || pdu == 0x01) { // DL-/UL-UNITDATA
        protos += "bssgp"
        v("bssgp.pdu_type") = pdu.toLong
        v("bssgp.tlli") = u32(d, b + 1)
        return (if (pdu == 0) "DL-UNITDATA" else "UL-UNITDATA") +
          f" TLLI 0x${u32(d, b + 1)}%08x"
      }
    }
    "NS-UNITDATA"
  }

  // --- tier 53: the legacy link layers -----------------------------------

  /** LLC header at `off` with transport chaining: a SNAP-encapsulated
    * IP/ARP payload dispatches into the network-layer dissectors with the
    * conversation tracker (the generic [[dissectLlc]] handles the L2
    * control protocols but has no transport chaining); everything else
    * falls back to [[dissectLlc]]. Shared by the FDDI / Token Ring /
    * SunATM link layers. */
  private def dissectLlcWithIp(
      d: Array[Byte], off: Int, end: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (end - off >= 8 && u8(d, off) == 0xaa && u8(d, off + 1) == 0xaa &&
      u8(d, off + 2) == 0x03) {
      protos += "llc"
      v("llc.dsap") = 0xaaL
      v("llc.ssap") = 0xaaL
      v("llc.control") = 0x03L
      val etype = u16(d, off + 6)
      v("llc.type") = etype.toLong
      val s = etype match {
        case 0x0800 => dissectIpv4(d, off + 8, v, protos, tracker, wanted)
        case 0x86dd => dissectIpv6(d, off + 8, v, protos, tracker, wanted)
        case 0x0806 =>
          protos += "arp"
          dissectArp(d, off + 8, v)
        case _ => null
      }
      if (s != null) return s
      return f"SNAP, type 0x$etype%04x"
    }
    dissectLlc(d, off, end, v, protos)
  }

  /** AX.25 (amateur packet radio, linktype 3): 7-byte address fields —
    * six left-shifted ASCII callsign characters plus an SSID byte whose
    * low bit ends the (unrepeated) address chain — then control and, for
    * UI frames, the PID selecting the layer-3 protocol (0xCC = IP,
    * 0xF0 = none, the APRS text convention). */
  private def dissectAx25(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 16) return null
    protos += "ax25"
    def call(o: Int): String = {
      val base = (0 until 6).map(i => ((u8(d, o + i) >> 1) & 0x7f).toChar)
        .mkString.trim
      val ssid = (u8(d, o + 6) >> 1) & 0xf
      if (ssid == 0) base else s"$base-$ssid"
    }
    val dst = call(off)
    val src = call(off + 7)
    v("ax25.dst") = dst
    v("ax25.src") = src
    // address chain ends at the byte with the extension bit set; repeater
    // addresses (rare in fixtures, legal on air) just extend the chain
    var p = off + 14
    var guard = 0
    while ((u8(d, p - 1) & 1) == 0 && p + 7 <= d.length && guard < 8) {
      p += 7; guard += 1
    }
    if (p >= d.length) return s"$src > $dst"
    val ctl = u8(d, p)
    v("ax25.ctl") = ctl.toLong
    if ((ctl & 0xef) == 0x03 && p + 1 < d.length) { // UI frame: PID follows
      val pid = u8(d, p + 1)
      if (pid == 0xcc) {
        val s = dissectIpv4(d, p + 2, v, protos, tracker, wanted)
        if (s != null) return s
      }
      return s"$src > $dst: UI"
    }
    s"$src > $dst"
  }

  /** Frame Relay (linktype 107): the Q.922 two-byte address — DLCI split
    * 6+4 bits around the C/R and EA flags — then UI control and the
    * RFC 2427 NLPID (0xCC = IP without SNAP). */
  private def dissectFrameRelay(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String],
      tracker: Tracker,
      wanted: Wanted): String = {
    if (d.length < off + 4) return null
    protos += "fr"
    val dlci = ((u8(d, off) >> 2) << 4) | (u8(d, off + 1) >> 4)
    v("fr.dlci") = dlci.toLong
    val nlpid = u8(d, off + 3)
    val s = nlpid match {
      case 0xcc => dissectIpv4(d, off + 4, v, protos, tracker, wanted)
      case 0x8e => dissectIpv6(d, off + 4, v, protos, tracker, wanted)
      case _ => null
    }
    if (s != null) s else s"Frame Relay DLCI $dlci"
  }

  /** LAPD (Q.921, linktype 203): SAPI/C-R/EA0 + TEI/EA1 address, control,
    * then Q.931 call control when the protocol discriminator matches —
    * the same message-type decode the TPKT-framed path uses, minus the
    * TPKT shim. */
  private def dissectLapd(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 3) return null
    protos += "lapd"
    v("lapd.sapi") = (u8(d, off) >> 2).toLong
    v("lapd.tei") = (u8(d, off + 1) >> 1).toLong
    val ctl = u8(d, off + 2)
    // UI and other unnumbered frames use a 1-byte control field; I-frames
    // (even low bit) carry 2 bytes of sequence numbers
    val clen = if ((ctl & 1) == 0) 2 else 1
    v("lapd.control") = ctl.toLong
    val q = off + 2 + clen
    // Q.931 only when the call-reference length is plausible — an RSL
    // dedicated-channel discriminator is ALSO 0x08 but its second byte is
    // a message type well above any call-ref length
    if (d.length >= q + 4 && u8(d, q) == 0x08 && u8(d, q + 1) <= 4 &&
      q + 2 + u8(d, q + 1) < d.length) {
      protos += "q931"
      v("q931.protocol_discriminator") = 0x08L
      val crl = u8(d, q + 1)
      v("q931.call_ref_len") = crl.toLong
      v("q931.call_ref") =
        (0 until crl).map(i => hex2(u8(d, q + 2 + i))).mkString
      val mt = u8(d, q + 2 + crl)
      v("q931.message_type") = mt.toLong
      return mt match {
        case 0x05 => "SETUP"; case 0x02 => "CALL PROCEEDING"
        case 0x07 => "CONNECT"; case 0x45 => "DISCONNECT"
        case 0x5a => "RELEASE COMPLETE"; case 0x01 => "ALERTING"
        case m => f"Q.931 0x$m%02x"
      }
    }
    // Abis RSL rides SAPI 0 like Q.931 but its message discriminator is
    // not 0x08-with-plausible-call-ref: dedicated/common/TRX management
    // discriminators (3GPP TS 48.58 §9.1, transparency bit masked)
    if ((u8(d, off) >> 2) == 0 && d.length >= q + 2) {
      val disc = u8(d, q) & 0xfe
      if (disc == 0x04 || disc == 0x06 || disc == 0x08 || disc == 0x10) {
        val mt = u8(d, q + 1)
        protos += "rsl"
        v("rsl.msg_type") = mt.toLong
        // channel number IE (tag 0x01) leads most dedicated-channel msgs
        if (d.length >= q + 4 && u8(d, q + 2) == 0x01)
          v("rsl.chan_nr") = u8(d, q + 3).toLong
        return mt match {
          case 0x21 => "Channel Activation"
          case 0x22 => "Channel Activation Ack"
          case 0x26 => "RF Channel Release"
          case m => f"RSL message 0x$m%02x"
        }
      }
    }
    s"LAPD SAPI ${u8(d, off) >> 2} TEI ${u8(d, off + 1) >> 1}"
  }

  /** X.25 packet layer at `off` (reached from LAPB I-frames): GFI+LCN,
    * packet type — the same fields the XOT path fills. */
  private def dissectX25Packet(
      d: Array[Byte], off: Int,
      v: FieldVec,
      protos: mutable.ArrayBuffer[String]): String = {
    if (d.length < off + 3) return null
    protos += "x25"
    val lcn = u16(d, off) & 0x0fff
    val t = u8(d, off + 2)
    v("x25.lcn") = lcn.toLong
    v("x25.type") = t.toLong
    t match {
      case 0x0b => s"Call Req. VC:$lcn"
      case 0x0f => s"Call Conf. VC:$lcn"
      case 0x13 => s"Clear Req. VC:$lcn"
      case x if (x & 0x01) == 0 => s"Data VC:$lcn"
      case x => f"X.25 type 0x$x%02x VC:$lcn"
    }
  }

  /** DNS name at `at` with RFC 1035 compression-pointer support;
    * `msgStart` anchors pointer offsets. Returns (name, index after the
    * name field) or None when truncated/looping. */
  private def readDnsName(
      d: Array[Byte], at: Int, msgStart: Int, end: Int): Option[(String, Int)] = {
    val sb = new StringBuilder
    var i = at
    var after = -1 // set on first pointer: field ends right after it
    var hops = 0
    while (hops < 32) {
      if (i >= end) return None
      val len = u8(d, i)
      if (len == 0) return Some((sb.toString, if (after >= 0) after else i + 1))
      else if ((len & 0xc0) == 0xc0) {
        if (i + 1 >= end) return None
        if (after < 0) after = i + 2
        i = msgStart + (((len & 0x3f) << 8) | u8(d, i + 1))
      } else {
        if (i + 1 + len > end) return None
        if (sb.nonEmpty) sb.append('.')
        sb.append(new String(d, i + 1, len, "ISO-8859-1"))
        i += 1 + len
      }
      hops += 1
    }
    None
  }
}
