package graft

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.pcap.{Dissect, PcapFormat}

/** Synthetic-container edge cases (FIXTURES §4): all four magics,
  * truncation, zero-packet files, non-IP ethertypes. */
class PcapFormatSpec extends AnyFunSuite {
  import PcapFormatSpec.{ethIpTcp, ethIpUdp}

  private def header(le: Boolean, nanos: Boolean, linktype: Int = 1): Array[Byte] = {
    val b = ByteBuffer.allocate(24).order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    b.putInt(if (nanos) 0xa1b23c4d else 0xa1b2c3d4)
    b.putShort(2.toShort).putShort(4.toShort)
    b.putInt(0).putInt(0).putInt(262144).putInt(linktype)
    b.array()
  }

  private def record(le: Boolean, sec: Long, frac: Long, data: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(16 + data.length)
      .order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    b.putInt(sec.toInt).putInt(frac.toInt).putInt(data.length).putInt(data.length)
    b.put(data)
    b.array()
  }

  private val arpFrame: Array[Byte] = {
    val b = new Array[Byte](42) // eth + minimal arp
    b(12) = 0x08; b(13) = 0x06
    b
  }

  for (le <- Seq(true, false); nanos <- Seq(true, false)) {
    test(s"magic variant le=$le nanos=$nanos round-trips") {
      val frac = if (nanos) 123456789L else 123456L
      val bytes = header(le, nanos) ++ record(le, 1700000000L, frac, arpFrame)
      val recs = PcapFormat.records(new ByteArrayInputStream(bytes)).toList
      assert(recs.length === 1)
      assert(recs.head.tsMicros === 1700000000L * 1000000L + 123456L)
      assert(recs.head.origLen === 42)
    }
  }

  test("zero-packet file yields empty iterator") {
    assert(PcapFormat.records(new ByteArrayInputStream(header(true, false))).isEmpty)
  }

  test("truncated final record is dropped, prior records survive") {
    val good = record(true, 1, 0, arpFrame)
    val bad = record(true, 2, 0, arpFrame).dropRight(10)
    val bytes = header(true, false) ++ good ++ bad
    val recs = PcapFormat.records(new ByteArrayInputStream(bytes)).toList
    assert(recs.map(_.number) === List(1L))
  }

  test("truncated record header (not even 16 bytes) is dropped") {
    val bytes = header(true, false) ++ record(true, 1, 0, arpFrame) ++ Array[Byte](1, 2, 3)
    assert(PcapFormat.records(new ByteArrayInputStream(bytes)).size === 1)
  }

  test("garbage magic rejected") {
    val bad = Array.fill[Byte](24)(0x42)
    intercept[IllegalArgumentException] {
      PcapFormat.records(new ByteArrayInputStream(bad)).toList
    }
  }

  test("maxPackets caps mid-file") {
    val bytes = header(true, false) ++
      (1 to 5).flatMap(i => record(true, i.toLong, 0, arpFrame))
    assert(PcapFormat.records(new ByteArrayInputStream(bytes), maxPackets = 3).size === 3)
  }

  test("ARP frame: tcp/udp fields absent, frame + eth fields populated") {
    val tracker = new Dissect.Tracker
    val rec = PcapFormat.Record(1, 1000000L, arpFrame.length, arpFrame.length, arpFrame)
    val d = Dissect.dissect(rec, 1, tracker)
    assert(d.protocols === "eth:ethertype:arp")
    assert(d.info === "ARP")
    assert(!d.values.contains("tcp.srcport"))
    assert(d.values("eth.type") === 0x0806L)
  }

  test("SLL (linktype 113): cooked pseudo-header dispatches into IPv4") {
    // 16-byte SLL v1 header: pkttype=0 (to us), hatype=1 (ARPHRD_ETHER),
    // halen=6, addr, protocol=0x0800; then a plain IPv4/UDP datagram
    val udp = ethIpUdp(4000, 9, Array[Byte](1, 2, 3)).drop(14) // strip eth
    val b = ByteBuffer.allocate(16 + udp.length)
    b.putShort(0.toShort).putShort(1.toShort).putShort(6.toShort)
    b.put(new Array[Byte](8)).putShort(0x0800.toShort)
    b.put(udp)
    val frame = b.array()
    val rec = PcapFormat.Record(1, 1000000L, frame.length, frame.length, frame)
    val d = Dissect.dissect(rec, 113, new Dissect.Tracker)
    assert(d.protocols === "sll:ethertype:ip:udp")
    assert(d.values("sll.pkttype") === 0L)
    assert(d.values("sll.hatype") === 1L)
    assert(d.values("sll.etype") === 0x0800L)
    assert(d.values("ip.src") === "10.0.0.1")
    assert(d.values("udp.srcport") === 4000L)
    // truncated pseudo-header: layer announced, no crash, no fields
    val short = PcapFormat.Record(2, 2000000L, 8, 8, frame.take(8))
    val ds = Dissect.dissect(short, 113, new Dissect.Tracker)
    assert(ds.protocols === "sll")
  }

  test("snaplen-truncated packet keeps orig_len in frame.len") {
    val full = arpFrame ++ new Array[Byte](100)
    val b = ByteBuffer.allocate(16 + 50).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(1).putInt(0).putInt(50).putInt(full.length)
    b.put(full, 0, 50)
    val bytes = header(true, false) ++ b.array()
    val recs = PcapFormat.records(new ByteArrayInputStream(bytes)).toList
    assert(recs.head.inclLen === 50 && recs.head.origLen === 142)
  }

  private def dissectOne(frame: Array[Byte]): Dissect.Dissected = {
    val rec = PcapFormat.Record(1, 1000000L, frame.length, frame.length, frame)
    Dissect.dissect(rec, 1, new Dissect.Tracker)
  }

  test("ARP request renders Who-has info and fields") {
    val b = java.nio.ByteBuffer.allocate(42)
    b.put(new Array[Byte](12)).putShort(0x0806.toShort)
    b.putShort(1.toShort).putShort(0x0800.toShort).put(6.toByte).put(4.toByte)
      .putShort(1.toShort) // opcode: request
      .put(Array[Byte](0, 0, 0, 0, 0, 1)) // placeholder
    val frame = b.array()
    frame(21) = 1 // ensure some sender mac bytes
    // sender ip at offset 14+14=28, target ip at 14+24=38
    frame(28) = 10; frame(29) = 0; frame(30) = 0; frame(31) = 5
    frame(38) = 10; frame(39) = 0; frame(40) = 0; frame(41) = 9
    val d = dissectOne(frame)
    assert(d.protocols === "eth:ethertype:arp")
    assert(d.info === "Who has 10.0.0.9? Tell 10.0.0.5")
    assert(d.values("arp.opcode") === 1L)
  }

  test("DNS query over UDP/53 dissects name, type, and info") {
    // header: id=0x1234, flags=0x0100 (standard query), qd=1
    val q = java.nio.ByteBuffer.allocate(12 + 13 + 4)
    q.putShort(0x1234.toShort).putShort(0x0100.toShort)
      .putShort(1.toShort).putShort(0.toShort).putShort(0.toShort).putShort(0.toShort)
    q.put(7.toByte).put("example".getBytes).put(3.toByte).put("com".getBytes).put(0.toByte)
    q.putShort(1.toShort).putShort(1.toShort) // qtype=A, qclass=IN
    val d = dissectOne(ethIpUdp(40000, 53, q.array()))
    assert(d.protocols === "eth:ethertype:ip:udp:dns")
    assert(d.values("dns.qry.name") === "example.com")
    assert(d.values("dns.qry.type") === 1L)
    assert(d.values("dns.flags.response") === false)
    assert(d.info === "Standard query 0x1234 A example.com")
  }

  test("HTTP request dissects method/uri/host; info is the request line") {
    val payload = ("GET /index.html HTTP/1.1\r\nHost: example.com\r\n" +
      "User-Agent: curl/8.0\r\n\r\n").getBytes("ISO-8859-1")
    val d = dissectOne(ethIpTcp(49152, 80, payload))
    assert(d.protocols === "eth:ethertype:ip:tcp:http")
    assert(d.info === "GET /index.html HTTP/1.1")
    assert(d.values("http.request") === true)
    assert(d.values("http.request.method") === "GET")
    assert(d.values("http.request.uri") === "/index.html")
    assert(d.values("http.request.version") === "HTTP/1.1")
    assert(d.values("http.host") === "example.com")
    assert(d.values("http.user_agent") === "curl/8.0")
  }

  test("HTTP response dissects code/phrase/content headers") {
    val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Length: 42\r\n\r\n" + "x" * 42).getBytes("ISO-8859-1")
    val d = dissectOne(ethIpTcp(80, 49152, payload))
    assert(d.protocols === "eth:ethertype:ip:tcp:http")
    assert(d.info === "HTTP/1.1 200 OK")
    assert(d.values("http.response") === true)
    assert(d.values("http.response.code") === 200L)
    assert(d.values("http.response.phrase") === "OK")
    assert(d.values("http.content_type") === "text/html")
    assert(d.values("http.content_length") === 42L)
  }

  private def clientHello(sni: String, alpn: Seq[String] = Seq.empty): Array[Byte] = {
    val name = sni.getBytes("ISO-8859-1")
    val sniExt = java.nio.ByteBuffer.allocate(4 + 2 + 1 + 2 + name.length)
    sniExt.putShort(0.toShort).putShort((2 + 1 + 2 + name.length).toShort) // server_name ext
    sniExt.putShort((1 + 2 + name.length).toShort).put(0.toByte).putShort(name.length.toShort).put(name)
    val alpnB: Array[Byte] =
      if (alpn.isEmpty) Array.emptyByteArray
      else {
        val protos = alpn.map(_.getBytes("ISO-8859-1"))
        val listLen = protos.map(_.length + 1).sum
        val b = java.nio.ByteBuffer.allocate(4 + 2 + listLen)
        b.putShort(16.toShort).putShort((2 + listLen).toShort).putShort(listLen.toShort)
        protos.foreach(p => { b.put(p.length.toByte); b.put(p) })
        b.array()
      }
    val extB = sniExt.array() ++ alpnB
    val hsBodyLen = 2 + 32 + 1 + 2 + 2 + 1 + 1 + 2 + extB.length
    val hs = java.nio.ByteBuffer.allocate(4 + hsBodyLen)
    hs.put(1.toByte) // ClientHello
    hs.put((hsBodyLen >> 16).toByte).put((hsBodyLen >> 8).toByte).put(hsBodyLen.toByte)
    hs.putShort(0x0303.toShort).put(new Array[Byte](32)) // version + random
    hs.put(0.toByte) // session_id len
    hs.putShort(2.toShort).putShort(0x1301.toShort) // one cipher suite
    hs.put(1.toByte).put(0.toByte) // compression
    hs.putShort(extB.length.toShort).put(extB)
    val hsB = hs.array()
    val rec = java.nio.ByteBuffer.allocate(5 + hsB.length)
    rec.put(22.toByte).put(3.toByte).put(1.toByte).putShort(hsB.length.toShort).put(hsB)
    rec.array()
  }

  test("TLS ClientHello ALPN extension is extracted comma-joined") {
    val d = dissectOne(ethIpTcp(49154, 443, clientHello("example.com", Seq("h2", "http/1.1"))))
    assert(d.values("tls.handshake.extensions_server_name") === "example.com")
    assert(d.values("tls.handshake.extensions_alpn_str") === "h2,http/1.1")
  }

  test("TLS ClientHello yields record/handshake fields and SNI") {
    val d = dissectOne(ethIpTcp(49152, 443, clientHello("example.com")))
    assert(d.protocols === "eth:ethertype:ip:tcp:tls")
    assert(d.info === "Client Hello (SNI=example.com)")
    assert(d.values("tls.record.content_type") === 22L)
    assert(d.values("tls.handshake.type") === 1L)
    assert(d.values("tls.handshake.extensions_server_name") === "example.com")
  }

  test("TLS Certificate message yields issuer and subject CN") {
    def cn(name: String, tag: Int = 0x0c): Array[Byte] =
      Array[Byte](0x06, 0x03, 0x55, 0x04, 0x03, tag.toByte, name.length.toByte) ++
        name.getBytes("UTF-8")
    // minimal DER-ish body: issuer CN then subject CN inside one "cert"
    val certBody = new Array[Byte](10) ++ cn("TestCA") ++
      new Array[Byte](6) ++ cn("example.com") ++ new Array[Byte](4)
    val hsBodyLen = 3 + 3 + certBody.length
    val hs = java.nio.ByteBuffer.allocate(4 + hsBodyLen)
    hs.put(11.toByte)
    hs.put((hsBodyLen >> 16).toByte).put((hsBodyLen >> 8).toByte).put(hsBodyLen.toByte)
    val total = 3 + certBody.length
    hs.put((total >> 16).toByte).put((total >> 8).toByte).put(total.toByte)
    hs.put((certBody.length >> 16).toByte).put((certBody.length >> 8).toByte)
      .put(certBody.length.toByte)
    hs.put(certBody)
    val hsB = hs.array()
    val rec = java.nio.ByteBuffer.allocate(5 + hsB.length)
    rec.put(22.toByte).put(3.toByte).put(3.toByte).putShort(hsB.length.toShort).put(hsB)
    val d = dissectOne(ethIpTcp(443, 49152, rec.array()))
    assert(d.protocols === "eth:ethertype:ip:tcp:tls")
    assert(d.info === "Certificate (CN=example.com)")
    assert(d.values("tls.handshake.certificate_issuer_cn") === "TestCA")
    assert(d.values("tls.handshake.certificate_subject_cn") === "example.com")
  }

  test("DNS response parses first answer and appends it to info") {
    val q = java.nio.ByteBuffer.allocate(12 + 13 + 4 + 2 + 10 + 4)
    q.putShort(0x1234.toShort).putShort(0x8180.toShort) // response, RD+RA
      .putShort(1.toShort).putShort(1.toShort).putShort(0.toShort).putShort(0.toShort)
    q.put(7.toByte).put("example".getBytes).put(3.toByte).put("com".getBytes).put(0.toByte)
    q.putShort(1.toShort).putShort(1.toShort) // question: A IN
    q.putShort(0xc00c.toShort) // answer name: pointer to offset 12
    q.putShort(1.toShort).putShort(1.toShort).putInt(300) // A IN ttl=300
    q.putShort(4.toShort).put(Array[Byte](93, (184 - 256).toByte, (216 - 256).toByte, 34))
    val d = dissectOne(ethIpUdp(53, 40000, q.array()))
    assert(d.values("dns.flags.response") === true)
    assert(d.values("dns.resp.name") === "example.com")
    assert(d.values("dns.resp.type") === 1L)
    assert(d.values("dns.resp.ttl") === 300L)
    assert(d.values("dns.a") === "93.184.216.34")
    assert(d.info === "Standard query response 0x1234 A example.com A 93.184.216.34")
  }

  test("desegment: split FIX message renders on the completing packet") {
    val fix = "8=FIX.4.2\u00019=20\u000135=A\u000134=1\u000149=X\u000110=123\u0001"
    val (part1, part2) = fix.splitAt(15) // split inside the message body
    def frame(s: String, seq: Int) = {
      val f = ethIpTcp(5001, 5002, s.getBytes("ISO-8859-1"), seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    // without desegmentation: neither packet yields the message
    val plain = new Dissect.Tracker
    val p1 = Dissect.dissect(frame(part1, 1000), 1, plain)
    val p2 = Dissect.dissect(frame(part2, 1000 + part1.length), 1, plain)
    assert(!p1.values.contains("fix.msgtype") && !p2.values.contains("fix.msgtype"))

    // with desegmentation: first is a continuation, second completes Logon
    val deseg = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(frame(part1, 1000), 1, deseg)
    val d2 = Dissect.dissect(frame(part2, 1000 + part1.length), 1, deseg)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(!d1.values.contains("fix.msgtype"))
    assert(d2.info === "Logon")
    assert(d2.values("fix.msgtype") === "Logon")
    assert(d2.protocols === "eth:ethertype:ip:tcp:fix")

    // whole-message capture renders identically to the reassembled one
    val whole = Dissect.dissect(frame(fix, 1000), 1, new Dissect.Tracker(desegment = true))
    assert(whole.info === d2.info)
  }

  test("desegment: HTTP headers spanning segments reassemble (Host captured)") {
    val req = "GET /a HTTP/1.1\r\nHost: example.com\r\nUser-Agent: curl/8.0\r\n\r\n"
    val (p1, p2) = req.splitAt(25) // split inside the Host header line
    def frame(s: String, seq: Int) = {
      val f = ethIpTcp(49200, 80, s.getBytes("ISO-8859-1"), seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    // without desegmentation: first segment parses the request line but the
    // split Host header is lost
    val plain = Dissect.dissect(frame(p1, 1), 1, new Dissect.Tracker)
    assert(plain.values.get("http.request.method").contains("GET"))
    assert(!plain.values.contains("http.host"))

    val t = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(frame(p1, 1), 1, t)
    val d2 = Dissect.dissect(frame(p2, 1 + p1.length), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(d2.info === "GET /a HTTP/1.1")
    assert(d2.values("http.host") === "example.com")
    assert(d2.values("http.user_agent") === "curl/8.0")
  }

  test("desegment: retransmitted segment does not corrupt reassembly") {
    val fix = "8=FIX.4.2\u00019=20\u000135=A\u000134=1\u000149=X\u000110=123\u0001"
    val (p1, p2) = fix.splitAt(12)
    def frame(s: String, seq: Int) = {
      val f = ethIpTcp(5001, 5002, s.getBytes("ISO-8859-1"), seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val t = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(frame(p1, 1000), 1, t)
    // the first part arrives AGAIN (same seq = retransmission): must not
    // be appended to the carry a second time
    val dup = Dissect.dissect(frame(p1, 1000), 1, t)
    val d2 = Dissect.dissect(frame(p2, 1000 + p1.length), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(dup.values.contains("tcp.analysis.retransmission"))
    assert(d2.info === "Logon")
    assert(d2.values("fix.msgtype") === "Logon")
  }

  test("desegment: header block larger than 2KB keeps trailing headers") {
    // a >2KB cookie pushes Host/User-Agent past the old fixed decode cap
    val req = "GET /big HTTP/1.1\r\nCookie: " + ("x" * 2500) +
      "\r\nHost: example.com\r\nUser-Agent: big/1.0\r\n\r\n"
    val (p1, p2) = req.splitAt(1200)
    def frame(s: String, seq: Int) = {
      val f = ethIpTcp(49300, 80, s.getBytes("ISO-8859-1"), seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val t = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(frame(p1, 1), 1, t)
    val d2 = Dissect.dissect(frame(p2, 1 + p1.length), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(d2.info === "GET /big HTTP/1.1")
    assert(d2.values("http.host") === "example.com")
    assert(d2.values("http.user_agent") === "big/1.0")
  }

  test("desegment: partially-overlapping segment delivers only its new bytes") {
    val fix = "8=FIX.4.2\u00019=20\u000135=A\u000134=1\u000149=X\u000110=123\u0001"
    val bytes = fix.getBytes("ISO-8859-1")
    def frame(b: Array[Byte], seq: Int) = {
      val f = ethIpTcp(5001, 5002, b, seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    // p1 = [0,20), p2 = [10,len) — the 10-byte overlap must not be
    // duplicated into the reassembly buffer
    val t = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(frame(bytes.slice(0, 20), 1000), 1, t)
    val d2 = Dissect.dissect(frame(bytes.slice(10, bytes.length), 1010), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(!d2.values.contains("tcp.analysis.retransmission"))
    assert(d2.info === "Logon")
  }

  test("desegment: out-of-order middle segment; PDU completes on hole-filler") {
    val fix = "8=FIX.4.2\u00019=20\u000135=A\u000134=1\u000149=X\u000110=123\u0001"
    val bytes = fix.getBytes("ISO-8859-1")
    def frame(b: Array[Byte], seq: Int) = {
      val f = ethIpTcp(5001, 5002, b, seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val t = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(frame(bytes.slice(0, 12), 1000), 1, t)
    val d3 = Dissect.dissect(frame(bytes.slice(24, bytes.length), 1024), 1, t)
    val d2 = Dissect.dissect(frame(bytes.slice(12, 24), 1012), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(d3.values.contains("tcp.analysis.out_of_order"))
    assert(d3.info.startsWith("[TCP Out-Of-Order] "))
    assert(d2.info === "Logon")
    assert(d2.values("fix.msgtype") === "Logon")
    // a late duplicate of an already-consumed segment is a retransmission
    val dup = Dissect.dissect(frame(bytes.slice(12, 24), 1012), 1, t)
    assert(dup.values.contains("tcp.analysis.retransmission"))
    assert(dup.info.startsWith("[TCP Retransmission] "))
  }

  test("desegment: two complete messages in one segment both render") {
    val fix = "8=FIX.4.2\u00019=20\u000135=0\u000110=123\u0001" +
      "8=FIX.4.2\u00019=20\u000135=1\u000110=124\u0001"
    val f = ethIpTcp(5001, 5002, fix.getBytes("ISO-8859-1"))
    val rec = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val d = Dissect.dissect(rec, 1, new Dissect.Tracker(desegment = true))
    assert(d.info === "Heartbeat, TestRequest")
  }

  test("non-first IPv4 fragment: no L4 fields, fragment info rendered") {
    // frag_offset = 185 (x8 = 1480 bytes), proto = TCP, payload bytes that
    // would misparse as a TCP header if dissected
    val b = java.nio.ByteBuffer.allocate(14 + 20 + 20)
    b.put(new Array[Byte](12)).putShort(0x0800.toShort)
    b.put(0x45.toByte).put(0.toByte).putShort(40.toShort)
      .putShort(0xabcd.toShort).putShort((0x2000 | 185).toShort) // MF=1, off=185
      .put(64.toByte).put(6.toByte).putShort(0.toShort)
      .put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
    b.put(Array.fill[Byte](20)(0x41))
    val d = dissectOne(b.array())
    assert(d.protocols === "eth:ethertype:ip")
    assert(!d.values.contains("tcp.srcport"))
    assert(d.values("ip.frag_offset") === 185L)
    assert(d.info === "Fragmented IP protocol (proto=6, off=1480, ID=abcd)")
  }

  private def ethIpv6(nxt: Int, payload: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(14 + 40 + payload.length)
    b.put(new Array[Byte](12)).putShort(0x86dd.toShort)
    b.putInt(0x60000000) // version 6
    b.putShort(payload.length.toShort).put(nxt.toByte).put(64.toByte)
    val src = new Array[Byte](16); src(0) = 0xfe.toByte; src(1) = 0x80.toByte; src(15) = 1
    val dst = new Array[Byte](16); dst(0) = 0xfe.toByte; dst(1) = 0x80.toByte; dst(15) = 2
    b.put(src).put(dst).put(payload)
    b.array()
  }

  test("ICMPv6 neighbor solicitation dissects target and info") {
    val ns = java.nio.ByteBuffer.allocate(24)
    ns.put(135.toByte).put(0.toByte).putShort(0.toShort).putInt(0)
    val tgt = new Array[Byte](16); tgt(0) = 0xfe.toByte; tgt(1) = 0x80.toByte; tgt(15) = 9
    ns.put(tgt)
    val d = dissectOne(ethIpv6(58, ns.array()))
    assert(d.protocols === "eth:ethertype:ipv6:icmpv6")
    assert(d.values("icmpv6.type") === 135L)
    assert(d.values("icmpv6.nd.ns.target_address") === "fe80::9")
    assert(d.info === "Neighbor Solicitation for fe80::9")
    assert(d.values("ipv6.addr") === "fe80::1,fe80::2")
  }

  test("NTP client packet over UDP/123 dissects version/mode/stratum") {
    val ntp = new Array[Byte](48)
    ntp(0) = ((0 << 6) | (4 << 3) | 3).toByte // LI=0, VN=4, mode=client
    ntp(1) = 3 // stratum
    val d = dissectOne(ethIpUdp(50000, 123, ntp))
    assert(d.protocols === "eth:ethertype:ip:udp:ntp")
    assert(d.values("ntp.flags.vn") === 4L)
    assert(d.values("ntp.flags.mode") === 3L)
    assert(d.values("ntp.stratum") === 3L)
    assert(d.info === "NTP Version 4, client")
  }

  private def ipv4Frag(payloadSlice: Array[Byte], fragOffBytes: Int, mf: Boolean,
      ident: Int = 0x77, proto: Int = 17): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(14 + 20 + payloadSlice.length)
    b.put(new Array[Byte](12)).putShort(0x0800.toShort)
    val flagsFrag = (if (mf) 0x2000 else 0) | (fragOffBytes / 8)
    b.put(0x45.toByte).put(0.toByte).putShort((20 + payloadSlice.length).toShort)
      .putShort(ident.toShort).putShort(flagsFrag.toShort)
      .put(64.toByte).put(proto.toByte).putShort(0.toShort)
      .put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
    b.put(payloadSlice)
    b.array()
  }

  test("desegment: fragmented IPv4 UDP/DNS dissects from the reassembled datagram") {
    // DNS query datagram fragmented at an 8-byte boundary, arriving in order
    val q = java.nio.ByteBuffer.allocate(12 + 13 + 4)
    q.putShort(0x1234.toShort).putShort(0x0100.toShort)
      .putShort(1.toShort).putShort(0.toShort).putShort(0.toShort).putShort(0.toShort)
    q.put(7.toByte).put("example".getBytes).put(3.toByte).put("com".getBytes).put(0.toByte)
    q.putShort(1.toShort).putShort(1.toShort)
    val datagram = {
      val u = java.nio.ByteBuffer.allocate(8 + q.array().length)
      u.putShort(40000.toShort).putShort(53.toShort)
        .putShort((8 + q.array().length).toShort).putShort(0.toShort).put(q.array())
      u.array()
    }
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val t = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(rec(ipv4Frag(datagram.slice(0, 16), 0, mf = true)), 1, t)
    val d2 = Dissect.dissect(rec(ipv4Frag(datagram.slice(16, datagram.length), 16, mf = false)), 1, t)
    assert(d1.info === "Fragmented IP protocol (proto=17, off=0, ID=0077)")
    assert(!d1.values.contains("udp.srcport"))
    assert(d2.protocols === "eth:ethertype:ip:udp:dns")
    assert(d2.values("dns.qry.name") === "example.com")
    assert(d2.info === "Standard query 0x1234 A example.com")

    // reordered arrival (last fragment first) completes on the hole-filler
    val t2 = new Dissect.Tracker(desegment = true)
    val r2 = Dissect.dissect(rec(ipv4Frag(datagram.slice(16, datagram.length), 16, mf = false, ident = 0x78)), 1, t2)
    val r1 = Dissect.dissect(rec(ipv4Frag(datagram.slice(0, 16), 0, mf = true, ident = 0x78)), 1, t2)
    assert(r2.info === "Fragmented IP protocol (proto=17, off=16, ID=0078)")
    assert(r1.values("dns.qry.name") === "example.com")

    // without desegment the guard behavior is unchanged
    val plain = Dissect.dissect(rec(ipv4Frag(datagram.slice(16, datagram.length), 16, mf = false)), 1, new Dissect.Tracker)
    assert(plain.info === "Fragmented IP protocol (proto=17, off=16, ID=0077)")
    assert(!plain.values.contains("udp.srcport"))
  }

  test("desegment: IPv6 fragment header reassembles; ext-header chain walked") {
    // UDP/NTP datagram split across two IPv6 fragments
    val ntp = new Array[Byte](48)
    ntp(0) = ((0 << 6) | (4 << 3) | 3).toByte
    ntp(1) = 3
    val datagram = {
      val u = java.nio.ByteBuffer.allocate(8 + ntp.length)
      u.putShort(50000.toShort).putShort(123.toShort)
        .putShort((8 + ntp.length).toShort).putShort(0.toShort).put(ntp)
      u.array()
    }
    def fragHdr(nxt: Int, offBytes: Int, m: Boolean, id: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8)
      b.put(nxt.toByte).put(0.toByte)
        .putShort((offBytes | (if (m) 1 else 0)).toShort).putInt(id.toInt)
      b.array()
    }
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val t = new Dissect.Tracker(desegment = true)
    val f1 = ethIpv6(44, fragHdr(17, 0, m = true, 0xabcd) ++ datagram.slice(0, 16))
    val f2 = ethIpv6(44, fragHdr(17, 16, m = false, 0xabcd) ++ datagram.slice(16, datagram.length))
    val d1 = Dissect.dissect(rec(f1), 1, t)
    val d2 = Dissect.dissect(rec(f2), 1, t)
    assert(d1.info === "IPv6 fragment (nxt=17, off=0, id=0x0000abcd)")
    assert(d2.protocols === "eth:ethertype:ipv6:ipv6.fraghdr:udp:ntp")
    assert(d2.values("ntp.stratum") === 3L)
    assert(d2.info === "NTP Version 4, client")

    // hop-by-hop extension header is walked through to the L4 dissector
    val hbh = Array[Byte](17, 0, 1, 4, 0, 0, 0, 0) // nxt=UDP, len=(0+1)*8
    val hv = Dissect.dissect(rec(ethIpv6(0, hbh ++ datagram)), 1, new Dissect.Tracker)
    assert(hv.protocols === "eth:ethertype:ipv6:ipv6.hopopts:udp:ntp")
    assert(hv.values("ntp.flags.mode") === 3L)
  }

  test("DHCP Discover dissects header, options, and info") {
    val b = java.nio.ByteBuffer.allocate(240 + 3 + 6 + 1)
    b.put(1.toByte).put(1.toByte).put(6.toByte).put(0.toByte) // op htype hlen hops
      .putInt(0x3d1d).putShort(0.toShort).putShort(0x8000.toShort)
      .putInt(0).putInt(0).putInt(0).putInt(0) // ciaddr yiaddr siaddr giaddr
      .put(Array[Byte](2, 0, 0, 0, 0, 1)).put(new Array[Byte](10)) // chaddr
      .put(new Array[Byte](64)).put(new Array[Byte](128)) // sname file
      .putInt(0x63825363) // magic
      .put(Array[Byte](53, 1, 1)) // option 53: Discover
      .put(Array[Byte](50, 4, 10, 0, 0, 99)) // option 50: requested 10.0.0.99
      .put(255.toByte)
    val d = dissectOne(ethIpUdp(68, 67, b.array()))
    assert(d.protocols === "eth:ethertype:ip:udp:dhcp")
    assert(d.info === "DHCP Discover - Transaction ID 0x3d1d")
    assert(d.values("dhcp.type") === 1L)
    assert(d.values("dhcp.id") === 0x3d1dL)
    assert(d.values("dhcp.hw.mac_addr") === "02:00:00:00:00:01")
    assert(d.values("dhcp.option.dhcp") === 1L)
    assert(d.values("dhcp.option.requested_ip_address") === "10.0.0.99")
  }

  test("QUIC long header dissects; short header named via conversation") {
    val init = java.nio.ByteBuffer.allocate(1 + 4 + 1 + 4 + 1 + 2 + 16)
    init.put(0xC3.toByte).putInt(1) // long header, Initial, v1
      .put(4.toByte).put(Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte))
      .put(2.toByte).put(Array[Byte](0xca.toByte, 0xfe.toByte))
      .put(new Array[Byte](16))
    val t = new Dissect.Tracker
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val d1 = Dissect.dissect(rec(ethIpUdp(50001, 443, init.array())), 1, t)
    assert(d1.protocols === "eth:ethertype:ip:udp:quic")
    assert(d1.info === "Initial, DCID=de:ad:be:ef")
    assert(d1.values("quic.version") === 1L)
    assert(d1.values("quic.scid") === "ca:fe")
    assert(d1.values("quic.long.packet_type") === 0L)
    // short-header packet on the same 5-tuple: named via conversation state
    val short = Array[Byte](0x41) ++ Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte) ++ new Array[Byte](8)
    val d2 = Dissect.dissect(rec(ethIpUdp(50001, 443, short)), 1, t)
    assert(d2.protocols === "eth:ethertype:ip:udp:quic")
    assert(d2.info === "Protected Payload")
    // a fresh conversation's random 443 payload does NOT false-positive
    val d3 = Dissect.dissect(rec(ethIpUdp(50002, 443, short)), 1, t)
    assert(!d3.protocols.contains("quic"))
  }

  private def ethIpTcpFlags(sp: Int, dp: Int, payload: Array[Byte], seq: Int,
      ackNo: Int, flags: Int, win: Int = 8192): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(14 + 20 + 20 + payload.length)
    b.put(new Array[Byte](12)).putShort(0x0800.toShort)
    val iplen = 20 + 20 + payload.length
    b.put(0x45.toByte).put(0.toByte).putShort(iplen.toShort)
      .putShort(1.toShort).putShort(0.toShort)
      .put(64.toByte).put(6.toByte).putShort(0.toShort)
      .put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
    b.putShort(sp.toShort).putShort(dp.toShort)
      .putInt(seq).putInt(ackNo)
      .put((5 << 4).toByte).put(flags.toByte)
      .putShort(win.toShort).putShort(0.toShort).putShort(0.toShort)
    b.put(payload)
    b.array()
  }

  test("tcp.analysis: keep-alive, zero-window, duplicate ACKs flagged") {
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val t = new Dissect.Tracker
    // data establishes nxtseq 1000+5
    val d0 = Dissect.dissect(rec(ethIpTcpFlags(5001, 5002, "hello".getBytes, 1000, 0, 0x18)), 1, t)
    assert(!d0.values.contains("tcp.analysis.keep_alive"))
    // keep-alive probe: 1 garbage byte at nxtseq-1; must NOT flag retransmission
    val ka = Dissect.dissect(rec(ethIpTcpFlags(5001, 5002, Array[Byte](0), 1004, 0, 0x10)), 1, t)
    assert(ka.values.contains("tcp.analysis.keep_alive"))
    assert(!ka.values.contains("tcp.analysis.retransmission"))
    // zero-window advertisement from the peer
    val zw = Dissect.dissect(rec(ethIpTcpFlags(5002, 5001, Array.emptyByteArray, 500, 1005, 0x10, win = 0)), 1, t)
    assert(zw.values.contains("tcp.analysis.zero_window"))
    // three identical ACKs: second and third are duplicates, numbered
    def ackf() = ethIpTcpFlags(5002, 5001, Array.emptyByteArray, 501, 1005, 0x10)
    val a1 = Dissect.dissect(rec(ackf()), 1, t)
    val a2 = Dissect.dissect(rec(ackf()), 1, t)
    val a3 = Dissect.dissect(rec(ackf()), 1, t)
    assert(!a1.values.contains("tcp.analysis.duplicate_ack"))
    assert(a2.values("tcp.analysis.duplicate_ack_num") === 1L)
    assert(a3.values("tcp.analysis.duplicate_ack_num") === 2L)
  }

  test("tcp.analysis tier 2: fast retransmission and window full flagged") {
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    // direction-aware frames: ethIpTcpFlags pins src=10.0.0.1 for both
    // port orders (two distinct conversations); these flags need ONE
    // bidirectional stream, so swap the IPs with the ports
    def biFrame(aToB: Boolean, sp: Int, dp: Int, payload: Array[Byte],
        seq: Int, ackNo: Int, flags: Int, win: Int = 8192): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(14 + 20 + 20 + payload.length)
      b.put(new Array[Byte](12)).putShort(0x0800.toShort)
      val iplen = 20 + 20 + payload.length
      b.put(0x45.toByte).put(0.toByte).putShort(iplen.toShort)
        .putShort(1.toShort).putShort(0.toShort)
        .put(64.toByte).put(6.toByte).putShort(0.toShort)
      if (aToB) b.put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
      else b.put(Array[Byte](10, 0, 0, 2)).put(Array[Byte](10, 0, 0, 1))
      b.putShort(sp.toShort).putShort(dp.toShort)
        .putInt(seq).putInt(ackNo)
        .put((5 << 4).toByte).put(flags.toByte)
        .putShort(win.toShort).putShort(0.toShort).putShort(0.toShort)
      b.put(payload)
      b.array()
    }
    // fast retransmission: data, ack, more data, two duplicate ACKs for
    // the lost segment, then its retransmission within 20ms
    val t = new Dissect.Tracker
    Dissect.dissect(rec(biFrame(true, 6001, 6002, "aaaaa".getBytes, 1000, 0, 0x18)), 1, t)
    Dissect.dissect(rec(biFrame(false, 6002, 6001, Array.emptyByteArray, 500, 1005, 0x10)), 1, t)
    Dissect.dissect(rec(biFrame(true, 6001, 6002, "bbbbb".getBytes, 1005, 0, 0x18)), 1, t)
    val dup1 = Dissect.dissect(rec(biFrame(false, 6002, 6001, Array.emptyByteArray, 500, 1005, 0x10)), 1, t)
    assert(dup1.values("tcp.analysis.duplicate_ack_num") === 1L)
    val dup2 = Dissect.dissect(rec(biFrame(false, 6002, 6001, Array.emptyByteArray, 500, 1005, 0x10)), 1, t)
    assert(dup2.values("tcp.analysis.duplicate_ack_num") === 2L)
    val fr = Dissect.dissect(rec(biFrame(true, 6001, 6002, "bbbbb".getBytes, 1005, 0, 0x18)), 1, t)
    assert(fr.values.contains("tcp.analysis.fast_retransmission"))
    assert(!fr.values.contains("tcp.analysis.retransmission"),
      "fast retransmission replaces the plain flag (tshark exclusive expert flags)")

    // a retransmission WITHOUT the dup-ack context stays a plain one
    val t2 = new Dissect.Tracker
    Dissect.dissect(rec(biFrame(true, 6003, 6004, "ccccc".getBytes, 2000, 0, 0x18)), 1, t2)
    val plain = Dissect.dissect(rec(biFrame(true, 6003, 6004, "ccccc".getBytes, 2000, 0, 0x18)), 1, t2)
    assert(plain.values.contains("tcp.analysis.retransmission"))
    assert(!plain.values.contains("tcp.analysis.fast_retransmission"))

    // spurious retransmission: the peer already ACKed these bytes
    val t5 = new Dissect.Tracker
    Dissect.dissect(rec(biFrame(true, 6009, 6010, "fffff".getBytes, 4000, 0, 0x18)), 1, t5)
    Dissect.dissect(rec(biFrame(false, 6010, 6009, Array.emptyByteArray, 500, 4005, 0x10)), 1, t5)
    val sp = Dissect.dissect(rec(biFrame(true, 6009, 6010, "fffff".getBytes, 4000, 0, 0x18)), 1, t5)
    assert(sp.values.contains("tcp.analysis.spurious_retransmission"))
    assert(!sp.values.contains("tcp.analysis.retransmission"))
    assert(!sp.values.contains("tcp.analysis.fast_retransmission"))

    // window full: the peer advertised a 10-byte window behind ack 3005;
    // the segment ending exactly at the right edge is flagged
    val t3 = new Dissect.Tracker
    Dissect.dissect(rec(biFrame(true, 6005, 6006, "ddddd".getBytes, 3000, 0, 0x18)), 1, t3)
    Dissect.dissect(rec(biFrame(false, 6006, 6005, Array.emptyByteArray, 500, 3005, 0x10, win = 10)), 1, t3)
    val wf = Dissect.dissect(rec(biFrame(true, 6005, 6006, "eeeeeeeeee".getBytes, 3005, 0, 0x18)), 1, t3)
    assert(wf.values.contains("tcp.analysis.window_full"))
    // a shorter segment leaves window room -> no flag
    val t4 = new Dissect.Tracker
    Dissect.dissect(rec(biFrame(true, 6007, 6008, "ddddd".getBytes, 3000, 0, 0x18)), 1, t4)
    Dissect.dissect(rec(biFrame(false, 6008, 6007, Array.emptyByteArray, 500, 3005, 0x10, win = 10)), 1, t4)
    val nf = Dissect.dissect(rec(biFrame(true, 6007, 6008, "eeeee".getBytes, 3005, 0, 0x18)), 1, t4)
    assert(!nf.values.contains("tcp.analysis.window_full"))
  }

  test("DNS over TCP: length-prefixed query dissects") {
    val q = java.nio.ByteBuffer.allocate(12 + 13 + 4)
    q.putShort(0x4321.toShort).putShort(0x0100.toShort)
      .putShort(1.toShort).putShort(0.toShort).putShort(0.toShort).putShort(0.toShort)
    q.put(7.toByte).put("example".getBytes).put(3.toByte).put("com".getBytes).put(0.toByte)
    q.putShort(1.toShort).putShort(1.toShort)
    val msg = q.array()
    val framed = java.nio.ByteBuffer.allocate(2 + msg.length)
      .putShort(msg.length.toShort).put(msg).array()
    val d = dissectOne(ethIpTcp(40000, 53, framed))
    assert(d.protocols === "eth:ethertype:ip:tcp:dns")
    assert(d.values("dns.qry.name") === "example.com")
    assert(d.info === "Standard query 0x4321 A example.com")
  }

  test("DNS over TCP: message split across segments reassembles under desegment") {
    val q = java.nio.ByteBuffer.allocate(12 + 13 + 4)
    q.putShort(0x7777.toShort).putShort(0x0100.toShort)
      .putShort(1.toShort).putShort(0.toShort).putShort(0.toShort).putShort(0.toShort)
    q.put(7.toByte).put("example".getBytes).put(3.toByte).put("com".getBytes).put(0.toByte)
    q.putShort(1.toShort).putShort(1.toShort)
    val msg = q.array()
    val framed = java.nio.ByteBuffer.allocate(2 + msg.length)
      .putShort(msg.length.toShort).put(msg).array()
    val (p1, p2) = framed.splitAt(10) // split mid-header
    def frame(b: Array[Byte], seq: Int) = {
      val f = ethIpTcp(40000, 53, b, seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val t = new Dissect.Tracker(desegment = true)
    val d1 = Dissect.dissect(frame(p1, 1), 1, t)
    val d2 = Dissect.dissect(frame(p2, 1 + p1.length), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(d2.info === "Standard query 0x7777 A example.com")
    assert(d2.values("dns.qry.name") === "example.com")
    assert(d2.protocols === "eth:ethertype:ip:tcp:dns")

    // two messages framed back-to-back in one segment: info is the last,
    // protocols lists dns once
    val both = framed ++ framed
    val d3 = Dissect.dissect(frame(both, 1000), 1, new Dissect.Tracker(desegment = true))
    assert(d3.info === "Standard query 0x7777 A example.com")
    assert(d3.protocols === "eth:ethertype:ip:tcp:dns")
  }

  test("FTP line split across segments reassembles under desegment") {
    def frame(b: Array[Byte], seq: Int) = {
      val f = ethIpTcp(49810, 21, b, seq)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val t = new Dissect.Tracker(desegment = true)
    val (p1, p2) = "RETR file.bin\r\n".getBytes("ISO-8859-1").splitAt(6)
    val d1 = Dissect.dissect(frame(p1, 1), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    val d2 = Dissect.dissect(frame(p2, 1 + p1.length), 1, t)
    assert(d2.info === "Request: RETR file.bin")
    assert(d2.values("ftp.request.command") === "RETR")
    assert(d2.values("ftp.request.arg") === "file.bin")

    // a complete line followed by a partial one: the complete line
    // dissects now, the tail completes on the next segment
    val t2 = new Dissect.Tracker(desegment = true)
    val d3 = Dissect.dissect(frame("USER anonymous\r\nPAS".getBytes("ISO-8859-1"), 1), 1, t2)
    assert(d3.info === "Request: USER anonymous")
    val d4 = Dissect.dissect(frame("S secret\r\n".getBytes("ISO-8859-1"), 20), 1, t2)
    assert(d4.info === "Request: PASS secret")

    // without desegment the split line never dissects
    val t3 = new Dissect.Tracker
    val d5 = Dissect.dissect(frame(p1, 1), 1, t3)
    assert(!d5.info.startsWith("Request:"))
  }

  test("WebSocket multi-frame segment: every completed frame dissects, tail carries") {
    // server→client frames swap the IP pair (rev) so both directions
    // belong to ONE conversation
    def frame(b: Array[Byte], sp: Int, dp: Int, seq: Int) = {
      val f = ethIpTcp(sp, dp, b, seq, rev = sp == 80)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val upgrade = ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      "Connection: Upgrade\r\n\r\n").getBytes("ISO-8859-1")
    val f1 = Array[Byte](0x81.toByte, 0x02, 'H', 'i') // unmasked Text "Hi"
    val key = Array(0x11, 0x22, 0x33, 0x44)
    val f2 = Array[Byte](0x81.toByte, 0x85.toByte) ++ key.map(_.toByte) ++
      "World".getBytes("ISO-8859-1").zipWithIndex.map { case (c, i) =>
        (c ^ key(i & 3)).toByte } // masked Text "World"

    // Both complete frames in ONE segment: each dissects, info lists both,
    // the protocol chain has a single websocket layer.
    val t = new Dissect.Tracker(desegment = true)
    Dissect.dissect(frame(upgrade, 80, 50100, 1), 1, t)
    val d1 = Dissect.dissect(frame(f1 ++ f2, 50100, 80, 1), 1, t)
    assert(d1.info === "WebSocket Text [FIN]: Hi, WebSocket Text [FIN]: World")
    assert(d1.protocols === "eth:ethertype:ip:tcp:websocket")

    // A complete frame PLUS the start of the next in one segment: the
    // complete frame dissects now (previously the tail was discarded) and
    // the partial frame completes on the next segment.
    val t2 = new Dissect.Tracker(desegment = true)
    Dissect.dissect(frame(upgrade, 80, 50101, 1), 1, t2)
    val seg1 = f1 ++ f2.take(3)
    val d2 = Dissect.dissect(frame(seg1, 50101, 80, 1), 1, t2)
    assert(d2.info === "WebSocket Text [FIN]: Hi")
    val d3 = Dissect.dissect(frame(f2.drop(3), 50101, 80, 1 + seg1.length), 1, t2)
    assert(d3.info === "WebSocket Text [FIN]: World")
    assert(d3.values("websocket.payload.text") === "World")
  }

  test("WebSocket permessage-deflate: RSV1 payload inflates to text") {
    def frame(b: Array[Byte], sp: Int, dp: Int, seq: Int) = {
      val f = ethIpTcp(sp, dp, b, seq, rev = sp == 80)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val upgrade = ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      "Connection: Upgrade\r\n\r\n").getBytes("ISO-8859-1")
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput("compressed hello".getBytes("US-ASCII"))
    val out = new Array[Byte](256)
    val n = defl.deflate(out, 0, out.length, java.util.zip.Deflater.SYNC_FLUSH)
    defl.end()
    val comp = out.take(n - 4) // RFC 7692 §7.2.1: strip the 00 00 ff ff tail
    val f = Array[Byte]((0x80 | 0x40 | 0x01).toByte, comp.length.toByte) ++ comp
    val t = new Dissect.Tracker(desegment = true)
    Dissect.dissect(frame(upgrade, 80, 50103, 1), 1, t)
    val d = Dissect.dissect(frame(f, 50103, 80, 1), 1, t)
    assert(d.info === "WebSocket Text [FIN]: compressed hello")
    assert(d.values("websocket.payload.text") === "compressed hello")
    assert(d.values("websocket.rsv") === 4L)
    // RSV2/3 remain invalid
    val bad = Array[Byte]((0x80 | 0x20 | 0x01).toByte, 0x02, 'H', 'i')
    val d2 = Dissect.dissect(frame(bad, 50103, 80, 1 + f.length), 1, t)
    assert(!d2.info.startsWith("WebSocket"))
  }

  test("wsFrameLen rejects malformed 64-bit lengths instead of carrying forever") {
    def frame(b: Array[Byte], sp: Int, dp: Int, seq: Int) = {
      val f = ethIpTcp(sp, dp, b, seq, rev = sp == 80)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    val upgrade = ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      "Connection: Upgrade\r\n\r\n").getBytes("ISO-8859-1")
    // 64-bit extended length with the top bit set (>= 2^63): must be
    // treated as not-a-ws-frame (header-only dissect), not an
    // accumulate-until-MaxCarry sink.
    val evil = Array[Byte](0x81.toByte, 127.toByte) ++
      Array[Byte](0x80.toByte, 0, 0, 0, 0, 0, 0, 1)
    val t = new Dissect.Tracker(desegment = true)
    Dissect.dissect(frame(upgrade, 80, 50102, 1), 1, t)
    val d = Dissect.dissect(frame(evil, 50102, 80, 1), 1, t)
    assert(d.info !== "[TCP segment of a reassembled PDU]")
  }

  test("HTTP/2 desegment: frames split across TCP segments reassemble (carry kind 8)") {
    def frame(b: Array[Byte], sp: Int, dp: Int, seq: Int) = {
      val f = ethIpTcp(sp, dp, b, seq, rev = sp == 8080)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    def h2f(ftype: Int, flags: Int, sid: Int, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(9 + payload.length)
      b.put((payload.length >> 16).toByte).put((payload.length >> 8).toByte)
        .put(payload.length.toByte).put(ftype.toByte).put(flags.toByte)
        .putInt(sid).put(payload)
      b.array()
    }
    val preface = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("ISO-8859-1")
    // HEADERS: indexed :method GET + :path /index.html, plus a raw-literal
    // :authority so the payload is long enough to split meaningfully
    val hdrs = Array[Byte](0x82.toByte, 0x85.toByte, 0x41) ++
      Array[Byte]("example.org".length.toByte) ++ "example.org".getBytes("ISO-8859-1")
    val stream = preface ++ h2f(4, 0, 0, Array.empty) ++ h2f(1, 0x04, 1, hdrs)
    val t = new Dissect.Tracker(desegment = true)
    // split mid-HEADERS-payload: first run renders what completed, the
    // partial frame carries and completes on the next segment
    val cut = preface.length + 9 + 9 + 5
    val d1 = Dissect.dissect(frame(stream.take(cut), 52200, 8080, 1), 1, t)
    assert(d1.info === "Magic, SETTINGS[0]")
    val d2 = Dissect.dissect(frame(stream.drop(cut), 52200, 8080, 1 + cut), 1, t)
    assert(d2.info === "HEADERS[1]: GET /index.html")
    assert(d2.values("http2.headers.authority") === "example.org")
    assert(d2.protocols === "eth:ethertype:ip:tcp:http2")

    // the client preface itself split across segments still marks the conv
    val t2 = new Dissect.Tracker(desegment = true)
    val e1 = Dissect.dissect(frame(stream.take(10), 52201, 8080, 1), 1, t2)
    assert(e1.info === "[TCP segment of a reassembled PDU]")
    val e2 = Dissect.dissect(frame(stream.drop(10), 52201, 8080, 11), 1, t2)
    assert(e2.info === "Magic, SETTINGS[0], HEADERS[1]: GET /index.html")
  }

  test("HTTP/2 CONTINUATION: header block spanning frames decodes at END_HEADERS") {
    def frame(b: Array[Byte], sp: Int, dp: Int, seq: Int) = {
      val f = ethIpTcp(sp, dp, b, seq, rev = sp == 8080)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    def h2f(ftype: Int, flags: Int, sid: Int, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(9 + payload.length)
      b.put((payload.length >> 16).toByte).put((payload.length >> 8).toByte)
        .put(payload.length.toByte).put(ftype.toByte).put(flags.toByte)
        .putInt(sid).put(payload)
      b.array()
    }
    val preface = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("ISO-8859-1")
    val block = Array[Byte](0x83.toByte, 0x44) ++
      Array[Byte]("/upload".length.toByte) ++ "/upload".getBytes("ISO-8859-1")
    // HEADERS without END_HEADERS carries the first half of the block;
    // CONTINUATION with END_HEADERS carries the rest
    val (b1, b2) = block.splitAt(4)
    val seg = preface ++ h2f(1, 0x00, 1, b1) ++ h2f(9, 0x04, 1, b2)
    val t = new Dissect.Tracker(desegment = true)
    val d = Dissect.dissect(frame(seg, 52210, 8080, 1), 1, t)
    assert(d.info === "Magic, HEADERS[1], CONTINUATION[1]: POST /upload")
    assert(d.values("http2.headers.method") === "POST")
    assert(d.values("http2.headers.path") === "/upload")
  }

  test("desegment survives 32-bit sequence wraparound") {
    val fix = "8=FIX.4.29=2035=A34=149=X10=123"
    val bytes = fix.getBytes("ISO-8859-1")
    def frame(b: Array[Byte], seq: Long) = {
      val f = ethIpTcp(5001, 5002, b, seq.toInt)
      PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    }
    // first data segment sits 10 bytes below the 32-bit boundary of the
    // RELATIVE space (isn = raw of first segment, so craft raw seqs whose
    // difference wraps): p1 raw = 1000, p2 raw = 1000 + 10 ... to place the
    // wrap inside the stream, instead anchor at rel 2^32-10 via a later
    // second segment whose raw difference wraps mod 2^32
    val rawBase = 0xFFFFFFF6L // rel 0 anchor
    val t = new Dissect.Tracker(desegment = true)
    val p1 = bytes.slice(0, 10)
    val p2 = bytes.slice(10, bytes.length)
    val d1 = Dissect.dissect(frame(p1, rawBase), 1, t)
    // p2's raw crosses the 32-bit boundary: 0xFFFFFFF6 + 10 wraps to 0
    val d2 = Dissect.dissect(frame(p2, (rawBase + 10) & 0xFFFFFFFFL), 1, t)
    assert(d1.info === "[TCP segment of a reassembled PDU]")
    assert(!d2.values.contains("tcp.analysis.retransmission"),
      "post-wrap segment must not alias into retransmission territory")
    assert(d2.info === "Logon")
  }

  test("overlapping IP fragments: first-arrived bytes win") {
    val q = java.nio.ByteBuffer.allocate(12 + 13 + 4)
    q.putShort(0x1234.toShort).putShort(0x0100.toShort)
      .putShort(1.toShort).putShort(0.toShort).putShort(0.toShort).putShort(0.toShort)
    q.put(7.toByte).put("example".getBytes).put(3.toByte).put("com".getBytes).put(0.toByte)
    q.putShort(1.toShort).putShort(1.toShort)
    val datagram = {
      val u = java.nio.ByteBuffer.allocate(8 + q.array().length)
      u.putShort(40000.toShort).putShort(53.toShort)
        .putShort((8 + q.array().length).toShort).putShort(0.toShort).put(q.array())
      u.array()
    }
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val t = new Dissect.Tracker(desegment = true)
    // F1 carries the true bytes [0,16); F2 overlaps [8,16) with garbage —
    // first-arrival must keep F1's bytes, so the DNS name still parses
    val f2data = Array.fill[Byte](8)(0x7f) ++ datagram.slice(16, datagram.length)
    val r1 = Dissect.dissect(rec(ipv4Frag(datagram.slice(0, 16), 0, mf = true, ident = 0x99)), 1, t)
    val r2 = Dissect.dissect(rec(ipv4Frag(f2data, 8, mf = false, ident = 0x99)), 1, t)
    assert(r1.info.startsWith("Fragmented IP protocol"))
    assert(r2.values("dns.qry.name") === "example.com",
      "overlap region must keep the first-arrived fragment's bytes")
  }

  test("fragments of different protocols with the same IP ID never merge") {
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val t = new Dissect.Tracker(desegment = true)
    // a UDP first-fragment and an ICMP last-fragment sharing ident=0x55
    val udpPart = Array.fill[Byte](16)(0x11)
    val icmpPart = Array.fill[Byte](16)(0x22)
    val r1 = Dissect.dissect(rec(ipv4Frag(udpPart, 0, mf = true, ident = 0x55, proto = 17)), 1, t)
    val r2 = Dissect.dissect(rec(ipv4Frag(icmpPart, 16, mf = false, ident = 0x55, proto = 1)), 1, t)
    // neither completes: the ICMP tail must not satisfy the UDP datagram
    assert(r1.info.startsWith("Fragmented IP protocol"))
    assert(r2.info.startsWith("Fragmented IP protocol"))
    assert(!r2.values.contains("udp.srcport") && !r2.values.contains("icmp.type"))
  }

  test("h2 conversation: misaligned continuation never hits HTTP/1-TLS-DNS heuristics") {
    def rec(f: Array[Byte]) = PcapFormat.Record(1, 1000000L, f.length, f.length, f)
    val t = new Dissect.Tracker
    val preface = ("PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n").getBytes("ISO-8859-1") ++
      Array[Byte](0, 0, 0, 4, 0, 0, 0, 0, 0)
    val d1 = Dissect.dissect(rec(ethIpTcp(49000, 80, preface, 1)), 1, t)
    assert(d1.protocols.endsWith(":http2"))
    // continuation bytes that LOOK like a TLS record stay inside the h2
    // claim (parsed as an h2 frame or plain TCP) — no tls layer, no
    // HTTP/1 fields may sprout inside an established h2 stream
    val tlsish = Array[Byte](0x16, 3, 3, 0, 40) ++ new Array[Byte](40)
    val d2 = Dissect.dissect(rec(ethIpTcp(49000, 80, tlsish, 1 + preface.length)), 1, t)
    assert(!d2.protocols.contains("tls"))
    assert(!d2.values.contains("http.request") && !d2.values.contains("tls.record.content_type"))
    // and bytes that parse as NO h2 frame at all fall back to plain TCP
    val junk = Array[Byte](0x47, 0x45, 0x54, 0x20) ++ "x HTTP/1.1\r\n\r\n".getBytes("ISO-8859-1")
    val d3 = Dissect.dissect(rec(ethIpTcp(49000, 80, junk, 1 + preface.length + tlsish.length)), 1, t)
    assert(!d3.values.contains("http.request.method"),
      "GET-looking bytes inside an h2 conversation must not parse as HTTP/1")
  }

  test("SMB2 header sniffs command, direction, and message id") {
    // NBSS(4) + SMB2 header: fe 'S' 'M' 'B', len 64, ..., cmd at +12,
    // flags at +16 (bit 0 = response), msg_id at +24 (8 bytes LE)
    val hdr = java.nio.ByteBuffer.allocate(4 + 64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put(0.toByte).put(0.toByte).put(0.toByte).put(64.toByte)
    hdr.put(0xfe.toByte).put('S'.toByte).put('M'.toByte).put('B'.toByte)
    hdr.putShort(64.toShort).putShort(0.toShort).putInt(0) // structure, credit charge, status
    hdr.putShort(5.toShort) // command: Create
    hdr.putShort(1.toShort) // credits
    hdr.putInt(1) // flags: SERVER_TO_REDIR (response)
    hdr.putInt(0) // next command
    hdr.putLong(0x2aL) // message id
    val d = dissectOne(ethIpTcp(445, 49700, hdr.array()))
    // the NBSS session-service layer now surfaces, Wireshark-style
    assert(d.protocols === "eth:ethertype:ip:tcp:nbss:smb2")
    assert(d.info === "Create Response")
    assert(d.values("smb2.cmd") === 5L)
    assert(d.values("smb2.flags.response") === true)
    assert(d.values("smb2.msg_id") === 0x2aL)
  }

  private def ipv4Hdr(proto: Int, src: Array[Byte], dst: Array[Byte], payLen: Int,
      ttl: Int = 64): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(20)
    b.put(0x45.toByte).put(0.toByte).putShort((20 + payLen).toShort)
      .putShort(1.toShort).putShort(0.toShort)
      .put(ttl.toByte).put(proto.toByte).putShort(0.toShort)
      .put(src).put(dst)
    b.array()
  }

  test("GRE tunnel: inner IP/TCP dissects; addresses multi-occur, numerics keep outer") {
    // outer 10.0.0.1->10.0.0.2 GRE, inner 192.168.1.1->192.168.1.2 TCP/80
    val innerTcp = java.nio.ByteBuffer.allocate(20)
      .putShort(49500.toShort).putShort(80.toShort).putInt(7).putInt(0)
      .put((5 << 4).toByte).put(0x18.toByte).putShort(8192.toShort)
      .putShort(0.toShort).putShort(0.toShort).array()
    val innerIp = ipv4Hdr(6, Array[Byte](192.toByte, 168.toByte, 1, 1),
      Array[Byte](192.toByte, 168.toByte, 1, 2), innerTcp.length, ttl = 63) ++ innerTcp
    val gre = Array[Byte](0, 0, 0x08, 0x00) ++ innerIp // no options, proto=ipv4
    val outer = ipv4Hdr(47, Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2),
      gre.length) ++ gre
    val frame = new Array[Byte](12) ++ Array[Byte](0x08, 0x00) ++ outer
    val d = dissectOne(frame)
    assert(d.protocols === "eth:ethertype:ip:gre:ip:tcp")
    assert(d.values("gre.proto") === 0x0800L)
    // string addresses comma-append outer-first; numerics keep outer
    assert(d.values("ip.src") === "10.0.0.1,192.168.1.1")
    assert(d.values("ip.dst") === "10.0.0.2,192.168.1.2")
    assert(d.values("ip.addr") === "10.0.0.1,10.0.0.2,192.168.1.1,192.168.1.2")
    assert(d.values("ip.ttl") === 64L)
    assert(d.values("ip.proto") === 47L)
    // inner TCP fields dissected normally (no outer TCP to collide with)
    assert(d.values("tcp.dstport") === 80L)
    assert(d.info.contains("49500 → 80"))
  }

  test("VXLAN: inner Ethernet frame dissects with VNI surfaced") {
    val innerIcmp = java.nio.ByteBuffer.allocate(8)
      .put(8.toByte).put(0.toByte).putShort(0.toShort)
      .putShort(0x42.toShort).putShort(7.toShort).array()
    val innerIp = ipv4Hdr(1, Array[Byte](192.toByte, 168.toByte, 2, 1),
      Array[Byte](192.toByte, 168.toByte, 2, 2), innerIcmp.length) ++ innerIcmp
    val innerEth = new Array[Byte](12) ++ Array[Byte](0x08, 0x00) ++ innerIp
    val vxlan = Array[Byte](0x08, 0, 0, 0, 0, 0x12, 0x34, 0) ++ innerEth // VNI 0x1234
    val d = dissectOne(ethIpUdp(55000, 4789, vxlan))
    assert(d.protocols === "eth:ethertype:ip:udp:vxlan:eth:ethertype:ip:icmp")
    assert(d.values("vxlan.vni") === 0x1234L)
    assert(d.values("ip.src") === "10.0.0.1,192.168.2.1")
    assert(d.info === "Echo (ping) request  id=0x0042, seq=7")
  }

  private def innerEthIcmp(): Array[Byte] = {
    val innerIcmp = java.nio.ByteBuffer.allocate(8)
      .put(8.toByte).put(0.toByte).putShort(0.toShort)
      .putShort(0x42.toShort).putShort(7.toShort).array()
    val innerIp = ipv4Hdr(1, Array[Byte](192.toByte, 168.toByte, 2, 1),
      Array[Byte](192.toByte, 168.toByte, 2, 2), innerIcmp.length) ++ innerIcmp
    new Array[Byte](12) ++ Array[Byte](0x08, 0x00) ++ innerIp
  }

  test("Geneve: inner Ethernet frame dissects after the option TLVs") {
    // ver 0, optLen 1 (one 4-byte TLV), proto 0x6558, VNI 0xAB
    val geneve = Array[Byte](0x01, 0, 0x65, 0x58, 0, 0, 0xAB.toByte, 0,
      0xFF.toByte, 0xFF.toByte, 0, 0) ++ innerEthIcmp()
    val d = dissectOne(ethIpUdp(55000, 6081, geneve))
    assert(d.protocols === "eth:ethertype:ip:udp:geneve:eth:ethertype:ip:icmp")
    assert(d.values("geneve.vni") === 0xABL)
    assert(d.values("geneve.proto_type") === 0x6558L)
    assert(d.values("geneve.version") === 0L)
    assert(d.values("ip.src") === "10.0.0.1,192.168.2.1")
    assert(d.info === "Echo (ping) request  id=0x0042, seq=7")
  }

  test("MPLS: stack walks to bottom, top entry's fields kept, inner IPv4") {
    val icmp = java.nio.ByteBuffer.allocate(8)
      .put(8.toByte).put(0.toByte).putShort(0.toShort)
      .putShort(0x42.toShort).putShort(7.toShort).array()
    val ip = ipv4Hdr(1, Array[Byte](10, 0, 1, 1), Array[Byte](10, 0, 1, 2),
      icmp.length) ++ icmp
    // two-entry stack: top label 100 (not bottom, ttl 64), then label 200
    // (bottom of stack, ttl 63)
    val stack = java.nio.ByteBuffer.allocate(8)
      .putInt((100 << 12) | 64).putInt((200 << 12) | (1 << 8) | 63).array()
    val frame = new Array[Byte](12) ++ Array[Byte](0x88.toByte, 0x47) ++ stack ++ ip
    val d = dissectOne(frame)
    assert(d.protocols === "eth:ethertype:mpls:ip:icmp")
    assert(d.values("mpls.label") === 100L)
    assert(d.values("mpls.bottom") === 0L)
    assert(d.values("mpls.ttl") === 64L)
    assert(d.values("ip.src") === "10.0.1.1")
    assert(d.info === "Echo (ping) request  id=0x0042, seq=7")
  }

  test("ERSPAN II under GRE: mirrored Ethernet dissects with span id") {
    // GRE with the sequence bit (ERSPAN II), proto 0x88be, seq 9, then the
    // 8-byte ERSPAN header: ver 1, session id 0x123
    val erspan = Array[Byte](0x10, 0, 0x01, 0x23, 0, 0, 0, 0) ++ innerEthIcmp()
    val gre = Array[Byte](0x10, 0, 0x88.toByte, 0xBE.toByte, 0, 0, 0, 9) ++ erspan
    val outer = ipv4Hdr(47, Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2),
      gre.length) ++ gre
    val frame = new Array[Byte](12) ++ Array[Byte](0x08, 0x00) ++ outer
    val d = dissectOne(frame)
    assert(d.protocols === "eth:ethertype:ip:gre:erspan:eth:ethertype:ip:icmp")
    assert(d.values("erspan.version") === 1L)
    assert(d.values("erspan.spanid") === 0x123L)
    assert(d.values("ip.src") === "10.0.0.1,192.168.2.1")
    assert(d.info === "Echo (ping) request  id=0x0042, seq=7")
  }

  private def ethIpTcpF(sp: Int, dp: Int, payload: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(14 + 20 + 20 + payload.length)
    b.put(new Array[Byte](12)).putShort(0x0800.toShort)
    val iplen = 20 + 20 + payload.length
    b.put(0x45.toByte).put(0.toByte).putShort(iplen.toShort)
      .putShort(1.toShort).putShort(0.toShort)
      .put(64.toByte).put(6.toByte).putShort(0.toShort)
      .put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
    b.putShort(sp.toShort).putShort(dp.toShort).putInt(1).putInt(0)
      .put((5 << 4).toByte).put(0x18.toByte).putShort(8192.toShort)
      .putShort(0.toShort).putShort(0.toShort)
    b.put(payload)
    b.array()
  }

  test("tier-23: bitcoin, FastCGI, EPMD, NAT-PMP dissect") {
    val btc = java.nio.ByteBuffer.allocate(24)
      .put(Array(0xF9, 0xBE, 0xB4, 0xD9).map(_.toByte))
      .put("version".getBytes("US-ASCII")).put(new Array[Byte](5))
      .put(Array[Byte](0x64, 0, 0, 0)) // LE payload length 100
      .putInt(0).array()
    val d1 = dissectOne(ethIpTcpF(50000, 8333, btc))
    assert(d1.protocols === "eth:ethertype:ip:tcp:bitcoin")
    assert(d1.values("bitcoin.magic") === 0xD9B4BEF9L)
    assert(d1.values("bitcoin.command") === "version")
    assert(d1.values("bitcoin.length") === 100L)
    assert(d1.info === "version message")

    val fr = Array[Byte](1, 1, 0, 1, 0, 8, 0, 0) ++ new Array[Byte](8)
    val d2 = dissectOne(ethIpTcpF(50001, 9000, fr))
    assert(d2.protocols === "eth:ethertype:ip:tcp:fcgi")
    assert(d2.info === "FCGI_BEGIN_REQUEST")
    assert(d2.values("fcgi.type") === 1L)
    assert(d2.values("fcgi.id") === 1L)

    val ep = java.nio.ByteBuffer.allocate(9).putShort(7.toShort)
      .put(122.toByte).put("rabbit".getBytes("US-ASCII")).array()
    val d3 = dissectOne(ethIpTcpF(50002, 4369, ep))
    assert(d3.protocols === "eth:ethertype:ip:tcp:epmd")
    assert(d3.info === "PORT_PLEASE2_REQ rabbit")
    assert(d3.values("epmd.name") === "rabbit")
    assert(d3.values("epmd.type") === 122L)

    val d4 = dissectOne(ethIpUdp(50003, 5351,
      Array[Byte](0, 1, 0, 0, 0x1F, 0x40, 0x1F, 0x40, 0, 0, 0x0E, 0x10)))
    assert(d4.protocols === "eth:ethertype:ip:udp:nat-pmp")
    assert(d4.info === "Map UDP Request")
    assert(d4.values("nat-pmp.opcode") === 1L)
  }

  test("tier-24: iSCSI, LLRP, GVCP, POWERLINK dissect") {
    // iSCSI login request BHS: opcode 0x43 (I bit + 0x03), 48 bytes
    val bhs = new Array[Byte](48)
    bhs(0) = 0x43; bhs(1) = 0x87.toByte
    bhs(5) = 0; bhs(6) = 1; bhs(7) = 0x2c // DataSegmentLength 0x12c
    bhs(16) = 0; bhs(17) = 0; bhs(18) = 0; bhs(19) = 9 // ITT 9
    bhs(24) = 0; bhs(25) = 0; bhs(26) = 0; bhs(27) = 5 // CmdSN 5
    val d1 = dissectOne(ethIpTcpF(50010, 3260, bhs))
    assert(d1.protocols === "eth:ethertype:ip:tcp:iscsi")
    assert(d1.info === "Login Command")
    assert(d1.values("iscsi.opcode") === 3L)
    assert(d1.values("iscsi.datasegmentlength") === 0x12cL)
    assert(d1.values("iscsi.initiatortasktag") === 9L)
    assert(d1.values("iscsi.cmdsn") === 5L)

    // LLRP KEEPALIVE: ver 1, type 62, length 10, id 0x77
    val ll = java.nio.ByteBuffer.allocate(10)
      .putShort(((1 << 10) | 62).toShort).putInt(10).putInt(0x77).array()
    val d2 = dissectOne(ethIpTcpF(50011, 5084, ll))
    assert(d2.protocols === "eth:ethertype:ip:tcp:llrp")
    assert(d2.info === "KEEPALIVE")
    assert(d2.values("llrp.version") === 1L)
    assert(d2.values("llrp.id") === 0x77L)

    // GVCP READREG command (0x0080) and its ack with status 0
    val cmd = Array[Byte](0x42, 0x01, 0x00, 0x80.toByte, 0, 4, 0, 1)
    val d3 = dissectOne(ethIpUdp(50012, 3956, cmd))
    assert(d3.protocols === "eth:ethertype:ip:udp:gvcp")
    assert(d3.info === "GVCP CMD 0x0080")
    val ack = Array[Byte](0, 0, 0x00, 0x81.toByte, 0, 4, 0, 1)
    val d4 = dissectOne(ethIpUdp(3956, 50012, ack))
    assert(d4.info === "GVCP ACK 0x0081 status 0x0000")
    assert(d4.values("gvcp.status") === 0L)

    // POWERLINK PRes from node 1 to broadcast 255
    val epl = Array[Byte](0x04, 0xff.toByte, 0x01) ++ new Array[Byte](43)
    val d5 = dissectOne(new Array[Byte](12) ++
      Array[Byte](0x88.toByte, 0xab.toByte) ++ epl)
    assert(d5.protocols === "eth:ethertype:epl")
    assert(d5.info === "PRes")
    assert(d5.values("epl.dest") === 255L)
    assert(d5.values("epl.src") === 1L)
  }

  test("tier-25: NBDGM, BT-DHT bencode, OpenVPN dissect") {
    // NBDGM direct_group datagram, dgm_id 0x2b
    val nb = java.nio.ByteBuffer.allocate(20)
      .put(0x11.toByte).put(0x02.toByte).putShort(0x2b.toShort)
      .put(Array[Byte](10, 0, 0, 1)).putShort(138.toShort)
      .putShort(6.toShort).putShort(0.toShort).array()
    val d1 = dissectOne(ethIpUdp(138, 138, nb))
    assert(d1.protocols === "eth:ethertype:ip:udp:nbdgm")
    assert(d1.info === "Direct_group datagram")
    assert(d1.values("nbdgm.dgram_id") === 0x2bL)

    // KRPC ping query (the canonical bencoded form)
    val krpc = "d1:ad2:id20:abcdefghij0123456789e1:q4:ping1:t2:aa1:y1:qe"
      .getBytes("ISO-8859-1")
    val d2 = dissectOne(ethIpUdp(50020, 6881, krpc))
    // tier 44: the KRPC body surfaces its bencode content layer too
    assert(d2.protocols === "eth:ethertype:ip:udp:bt-dht:bencode")
    assert(d2.info === "DHT Query ping")
    assert(d2.values("bt-dht.bencoded.string") === "ping")
    assert(d2.values("bencode.str") === "ping")
    // a response (no q key)
    val resp = "d1:rd2:id20:abcdefghij0123456789e1:t2:aa1:y1:re"
      .getBytes("ISO-8859-1")
    val d3 = dissectOne(ethIpUdp(6881, 50020, resp))
    assert(d3.info === "DHT Response")
    // malformed bencode never claims the frame
    val d4 = dissectOne(ethIpUdp(50020, 6881, "d1:y".getBytes("ISO-8859-1")))
    assert(d4.protocols === "eth:ethertype:ip:udp")

    // OpenVPN hard reset client v2 (opcode 7, key 0) + session id
    val ov = java.nio.ByteBuffer.allocate(14)
      .put((7 << 3).toByte).putLong(0x1122334455667788L)
      .put(Array[Byte](0, 0, 0, 0, 0)).array()
    val d5 = dissectOne(ethIpUdp(50021, 1194, ov))
    assert(d5.protocols === "eth:ethertype:ip:udp:openvpn")
    assert(d5.info === "P_CONTROL_HARD_RESET_CLIENT_V2")
    assert(d5.values("openvpn.sessionid") === 0x1122334455667788L)
  }

  test("802.11 monitor mode (linktypes 105/127): beacon SSID + SNAP data decap") {
    def rec(frame: Array[Byte]) =
      PcapFormat.Record(1, 1000000L, frame.length, frame.length, frame)
    // beacon: fc 0x0080 (LE: 80 00), 24-byte header, 12 fixed bytes,
    // SSID tag "graftnet"
    val beacon = java.nio.ByteBuffer.allocate(24 + 12 + 2 + 8)
      .put(0x80.toByte).put(0.toByte).putShort(0.toShort)
      .put(Array.fill[Byte](6)(0xff.toByte))            // DA broadcast
      .put(Array[Byte](2, 0, 0, 0, 0, 1))               // SA
      .put(Array[Byte](2, 0, 0, 0, 0, 1))               // BSSID
      .putShort(0.toShort)                              // seq ctl
      .put(new Array[Byte](12))                         // fixed params
      .put(0.toByte).put(8.toByte).put("graftnet".getBytes("US-ASCII"))
      .array()
    val d1 = Dissect.dissect(rec(beacon), 105, new Dissect.Tracker)
    assert(d1.protocols === "wlan")
    assert(d1.info === "Beacon frame, SSID=\"graftnet\"")
    assert(d1.values("wlan.ssid") === "graftnet")
    assert(d1.values("wlan.bssid") === "02:00:00:00:00:01")

    // radiotap (8-byte header) + unprotected QoS data, ToDS, SNAP → IPv4 ICMP
    val icmp = java.nio.ByteBuffer.allocate(8)
      .put(8.toByte).put(0.toByte).putShort(0.toShort)
      .putShort(0x42.toShort).putShort(7.toShort).array()
    val ip = ipv4Hdr(1, Array[Byte](10, 0, 2, 1), Array[Byte](10, 0, 2, 2),
      icmp.length) ++ icmp
    val snap = Array[Byte](0xaa.toByte, 0xaa.toByte, 0x03, 0, 0, 0, 0x08, 0x00)
    val dot11 = java.nio.ByteBuffer.allocate(26 + snap.length + ip.length)
      .put(0x88.toByte).put(0x01.toByte)                // QoS data, ToDS
      .putShort(0.toShort)
      .put(Array[Byte](2, 0, 0, 0, 0, 9))               // addr1 = BSSID (ToDS)
      .put(Array[Byte](2, 0, 0, 0, 0, 1))               // addr2 = SA
      .put(Array[Byte](2, 0, 0, 0, 0, 2))               // addr3 = DA
      .putShort(0.toShort).putShort(0.toShort)          // seq + QoS ctl
      .put(snap).put(ip).array()
    val radiotap = Array[Byte](0, 0, 8, 0, 0, 0, 0, 0) ++ dot11
    val d2 = Dissect.dissect(rec(radiotap), 127, new Dissect.Tracker)
    assert(d2.protocols === "radiotap:wlan:ip:icmp")
    assert(d2.values("radiotap.length") === 8L)
    assert(d2.values("wlan.sa") === "02:00:00:00:00:01")
    assert(d2.values("wlan.da") === "02:00:00:00:00:02")
    assert(d2.values("wlan.bssid") === "02:00:00:00:00:09")
    assert(d2.info === "Echo (ping) request  id=0x0042, seq=7")

    // protected data frame stops at the MAC layer
    val prot = dot11.clone(); prot(1) = (prot(1) | 0x40).toByte
    val d3 = Dissect.dissect(rec(prot), 105, new Dissect.Tracker)
    assert(d3.info === "QoS Data (protected)")
  }

  test("NULL loopback (0) and SLL2 (276) linktypes dispatch into IP") {
    def rec(frame: Array[Byte]) =
      PcapFormat.Record(1, 1000000L, frame.length, frame.length, frame)
    val icmp = java.nio.ByteBuffer.allocate(8)
      .put(8.toByte).put(0.toByte).putShort(0.toShort)
      .putShort(0x42.toShort).putShort(7.toShort).array()
    val ip = ipv4Hdr(1, Array[Byte](127, 0, 0, 1), Array[Byte](127, 0, 0, 1),
      icmp.length) ++ icmp
    // little-endian host AF_INET
    val nullLe = Array[Byte](2, 0, 0, 0) ++ ip
    val d1 = Dissect.dissect(rec(nullLe), 0, new Dissect.Tracker)
    assert(d1.protocols === "null:ip:icmp")
    assert(d1.info === "Echo (ping) request  id=0x0042, seq=7")
    // big-endian host AF_INET
    val nullBe = Array[Byte](0, 0, 0, 2) ++ ip
    val d2 = Dissect.dissect(rec(nullBe), 0, new Dissect.Tracker)
    assert(d2.protocols === "null:ip:icmp")
    // SLL2: proto 0x0800, ifindex 3, hatype 1, pkttype 0 (unicast to us)
    val sll2 = java.nio.ByteBuffer.allocate(20 + ip.length)
      .putShort(0x0800.toShort).putShort(0.toShort).putInt(3)
      .putShort(1.toShort).put(0.toByte).put(6.toByte)
      .put(new Array[Byte](8)).put(ip).array()
    val d3 = Dissect.dissect(rec(sll2), 276, new Dissect.Tracker)
    assert(d3.protocols === "sll:ethertype:ip:icmp")
    assert(d3.values("sll.etype") === 0x0800L)
    assert(d3.values("sll.hatype") === 1L)
    assert(d3.info === "Echo (ping) request  id=0x0042, seq=7")
  }

  test("tier-26: OpenFlow 1.3, BACnet/IP, PROFINET-RT dissect") {
    // OpenFlow HELLO: version 4, type 0, length 8, xid 0x99
    val of = java.nio.ByteBuffer.allocate(8)
      .put(4.toByte).put(0.toByte).putShort(8.toShort).putInt(0x99).array()
    val d1 = dissectOne(ethIpTcpF(50030, 6653, of))
    assert(d1.protocols === "eth:ethertype:ip:tcp:openflow_v4")
    assert(d1.info === "OFPT_HELLO")
    assert(d1.values("openflow_v4.xid") === 0x99L)

    // BACnet Original-Broadcast-NPDU carrying an Unconfirmed-REQ (0x10)
    val bac = Array[Byte](0x81.toByte, 0x0b, 0, 12, // BVLC
      0x01, 0x00,                                   // NPDU v1, no routing
      0x10, 0x08, 0x0a, 0x07, 0x0a, 0x07)           // APDU: who-is-ish
    val d2 = dissectOne(ethIpUdp(47808, 47808, bac))
    assert(d2.protocols === "eth:ethertype:ip:udp:bvlc:bacnet:bacapp")
    assert(d2.info === "Original-Broadcast-NPDU")
    assert(d2.values("bvlc.function") === 0x0bL)
    assert(d2.values("bacapp.type") === 1L)

    // PROFINET cyclic data: ethertype 0x8892, FrameID 0x8001, cycle 0x1234
    val pn = java.nio.ByteBuffer.allocate(2 + 40 + 4)
      .putShort(0x8001.toShort).put(new Array[Byte](40))
      .putShort(0x1234.toShort).putShort(0.toShort).array()
    val d3 = dissectOne(new Array[Byte](12) ++
      Array[Byte](0x88.toByte, 0x92.toByte) ++ pn)
    assert(d3.protocols === "eth:ethertype:pn_rt")
    assert(d3.info === "PROFINET IO Cyclic Service Data Unit")
    assert(d3.values("pn_rt.frame_id") === 0x8001L)
    assert(d3.values("pn_rt.cycle_counter") === 0x1234L)
  }

  test("tier-27: EAPOL/EAP, VNC, STOMP, 9P, MGCP dissect") {
    // EAPOL v2 framing an EAP Request/Identity (code 1, id 1, type 1)
    val eap = java.nio.ByteBuffer.allocate(9)
      .put(2.toByte).put(0.toByte).putShort(5.toShort) // eapol v2, type 0, len 5
      .put(1.toByte).put(1.toByte).putShort(5.toShort).put(1.toByte).array()
    val d1 = dissectOne(new Array[Byte](12) ++
      Array[Byte](0x88.toByte, 0x8e.toByte) ++ eap)
    assert(d1.protocols === "eth:ethertype:eapol:eap")
    assert(d1.info === "Request, Identity")
    assert(d1.values("eapol.version") === 2L)
    assert(d1.values("eap.code") === 1L)
    assert(d1.values("eap.type") === 1L)

    // EAPOL-Start has no EAP layer
    val start = dissectOne(new Array[Byte](12) ++
      Array[Byte](0x88.toByte, 0x8e.toByte, 1, 1, 0, 0))
    assert(start.protocols === "eth:ethertype:eapol")
    assert(start.info === "Start")

    // VNC RFB greeting, attributed to the server side (sp 5900)
    val d2 = dissectOne(ethIpTcp(5900, 50040, "RFB 003.008\n".getBytes, rev = true))
    assert(d2.protocols === "eth:ethertype:ip:tcp:vnc")
    assert(d2.info === "Server protocol version: 003.008")
    assert(d2.values("vnc.server_proto_ver") === "003.008")

    // STOMP CONNECT frame
    val d3 = dissectOne(ethIpTcp(50041, 61613,
      "CONNECT\naccept-version:1.2\nhost:broker\n\n ".getBytes))
    assert(d3.protocols === "eth:ethertype:ip:tcp:stomp")
    assert(d3.info === "CONNECT")
    assert(d3.values("stomp.command") === "CONNECT")

    // 9P Tversion: LE size 19, type 100, tag 0xFFFF
    val p9 = java.nio.ByteBuffer.allocate(19)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(19).put(100.toByte).putShort(0xFFFF.toShort)
      .putInt(8192).putShort(6.toShort).put("9P2000".getBytes).array()
    val d4 = dissectOne(ethIpTcp(50042, 564, p9))
    assert(d4.protocols === "eth:ethertype:ip:tcp:9p")
    assert(d4.info === "Tversion tag=65535")
    assert(d4.values("9p.msgtype") === 100L)

    // MGCP request line + a response line
    val d5 = dissectOne(ethIpUdp(2727, 2427,
      "CRCX 1204 aaln/1@gw1.example.net MGCP 1.0\nC: A3C47F21456789F0\n".getBytes))
    assert(d5.protocols === "eth:ethertype:ip:udp:mgcp")
    assert(d5.info === "CRCX 1204 aaln/1@gw1.example.net MGCP 1.0")
    assert(d5.values("mgcp.req.verb") === "CRCX")
    assert(d5.values("mgcp.transid") === "1204")
    val d6 = dissectOne(ethIpUdp(2427, 2727, "200 1204 OK\n".getBytes))
    assert(d6.info === "200 1204 OK")
    assert(d6.values("mgcp.rsp.rspcode") === 200L)
  }

  test("tier-28: SOME/IP, DoIP, GTPv2-C, PFCP dissect") {
    // SOME/IP request: service 0x1234 method 0x0001, length 8, proto ver 1
    val someip = java.nio.ByteBuffer.allocate(16)
      .putShort(0x1234.toShort).putShort(0x0001.toShort).putInt(8)
      .putShort(0x0001.toShort).putShort(0x0001.toShort)
      .put(1.toByte).put(1.toByte).put(0x00.toByte).put(0x00.toByte).array()
    val d1 = dissectOne(ethIpUdp(50050, 30490, someip))
    assert(d1.protocols === "eth:ethertype:ip:udp:someip")
    assert(d1.info === "Request Service 0x1234 Method 0x0001")
    assert(d1.values("someip.serviceid") === 0x1234L)
    assert(d1.values("someip.methodid") === 1L)
    assert(d1.values("someip.clientid") === 1L)
    assert(d1.values("someip.messagetype") === 0L)
    assert(d1.values("someip.returncode") === 0L)

    // a wrong protocol version is not SOME/IP
    val bad = someip.clone(); bad(12) = 3
    assert(dissectOne(ethIpUdp(50050, 30490, bad)).protocols
      === "eth:ethertype:ip:udp")

    // DoIP routing activation request over TCP 13400
    val doip = java.nio.ByteBuffer.allocate(15)
      .put(2.toByte).put(0xFD.toByte).putShort(0x0005.toShort).putInt(7)
      .putShort(0x0E00.toShort).put(0.toByte).putInt(0).array()
    val d2 = dissectOne(ethIpTcp(50051, 13400, doip))
    assert(d2.protocols === "eth:ethertype:ip:tcp:doip")
    assert(d2.info === "Routing activation request")
    assert(d2.values("doip.version") === 2L)
    assert(d2.values("doip.type") === 5L)
    assert(d2.values("doip.length") === 7L)

    // an inverse-version mismatch is not DoIP
    val badDoip = doip.clone(); badDoip(1) = 0xAA.toByte
    assert(!dissectOne(ethIpTcp(50051, 13400, badDoip)).protocols.contains("doip"))

    // GTPv2-C Create Session Request with TEID
    val gtp = java.nio.ByteBuffer.allocate(12)
      .put(0x48.toByte).put(32.toByte).putShort(8.toShort)
      .putInt(0x11223344).put(Array[Byte](0, 0, 1, 0)).array()
    val d3 = dissectOne(ethIpUdp(50052, 2123, gtp))
    assert(d3.protocols === "eth:ethertype:ip:udp:gtpv2")
    assert(d3.info === "Create Session Request")
    assert(d3.values("gtpv2.message_type") === 32L)
    assert(d3.values("gtpv2.teid") === 0x11223344L)
    assert(d3.values("gtpv2.seq") === 1L)

    // GTPv1 flags (version 1) on 2123 fall through untouched
    val v1 = gtp.clone(); v1(0) = 0x28.toByte
    assert(!dissectOne(ethIpUdp(50052, 2123, v1)).protocols.contains("gtpv2"))

    // PFCP Session Establishment Request with SEID
    val pfcp = java.nio.ByteBuffer.allocate(16)
      .put(0x21.toByte).put(50.toByte).putShort(12.toShort)
      .putLong(0x42L).put(Array[Byte](0, 0, 7, 0)).array()
    val d4 = dissectOne(ethIpUdp(50053, 8805, pfcp))
    assert(d4.protocols === "eth:ethertype:ip:udp:pfcp")
    assert(d4.info === "Session Establishment Request")
    assert(d4.values("pfcp.msg_type") === 50L)
    assert(d4.values("pfcp.seid") === 0x42L)
    assert(d4.values("pfcp.seqno") === 7L)

    // PFCP Heartbeat Request has no SEID (S = 0): seq reads right after length
    val hb = java.nio.ByteBuffer.allocate(8)
      .put(0x20.toByte).put(1.toByte).putShort(4.toShort)
      .put(Array[Byte](0, 0, 3, 0)).array()
    val d5 = dissectOne(ethIpUdp(8805, 50053, hb))
    assert(d5.info === "Heartbeat Request")
    assert(d5.values("pfcp.seqno") === 3L)
    assert(!d5.values.contains("pfcp.seid"))
  }

  test("tier-29: NATS, DICOM, ISO 8583, TZSP dissect") {
    // NATS PUB control line: subject + payload byte count
    val d1 = dissectOne(ethIpTcp(50060, 4222,
      "PUB orders.created 11\r\nhello world\r\n".getBytes))
    assert(d1.protocols === "eth:ethertype:ip:tcp:nats")
    assert(d1.info === "PUB orders.created 11")
    assert(d1.values("nats.type") === "PUB")
    assert(d1.values("nats.subject") === "orders.created")
    assert(d1.values("nats.payload_length") === 11L)
    val d1b = dissectOne(ethIpTcp(4222, 50060, "PONG\r\n".getBytes))
    assert(d1b.values("nats.type") === "PONG")
    // an arbitrary text line on 4222 is not NATS
    assert(!dissectOne(ethIpTcp(50060, 4222, "HELLO there\r\n".getBytes))
      .protocols.contains("nats"))

    // DICOM A-ASSOCIATE-RQ with called/calling AE titles
    val dicom = java.nio.ByteBuffer.allocate(74)
      .put(1.toByte).put(0.toByte).putInt(68)
      .putShort(1.toShort).putShort(0.toShort)
      .put("ARCHIVE         ".getBytes).put("MODALITY1       ".getBytes)
      .put(new Array[Byte](32)).array()
    val d2 = dissectOne(ethIpTcp(50061, 11112, dicom))
    assert(d2.protocols === "eth:ethertype:ip:tcp:dicom")
    assert(d2.info === "A-ASSOCIATE-RQ MODALITY1 → ARCHIVE")
    assert(d2.values("dicom.pdu.type") === 1L)
    assert(d2.values("dicom.pdu.len") === 68L)
    // P-DATA-TF carries the first PDV's presentation context
    val pdata = java.nio.ByteBuffer.allocate(12)
      .put(4.toByte).put(0.toByte).putInt(6).putInt(2).put(3.toByte)
      .put(0x03.toByte).array()
    val d2b = dissectOne(ethIpTcp(50061, 104, pdata))
    assert(d2b.info === "P-DATA-TF")
    assert(d2b.values("dicom.pdv.ctx") === 3L)

    // ISO 8583 authorization request (MTI 0200) behind the length prefix
    val iso = java.nio.ByteBuffer.allocate(20)
      .putShort(18.toShort).put("0200".getBytes)
      .putLong(0x7234054128C28805L).put("123456".getBytes).array()
    val d3 = dissectOne(ethIpTcp(50062, 8583, iso))
    assert(d3.protocols === "eth:ethertype:ip:tcp:iso8583")
    assert(d3.info === "MTI 0200")
    assert(d3.values("iso8583.mti") === "0200")
    assert(d3.values("iso8583.len") === 18L)
    // a non-digit MTI is not ISO 8583
    val bad = iso.clone(); bad(3) = 'X'.toByte
    assert(!dissectOne(ethIpTcp(50062, 8583, bad)).protocols.contains("iso8583"))

    // TZSP-encapsulated Ethernet ping: tunnel decap like VXLAN/Geneve
    val icmp = java.nio.ByteBuffer.allocate(8)
      .put(8.toByte).put(0.toByte).putShort(0.toShort)
      .putShort(0x42.toShort).putShort(9.toShort).array()
    val innerIp = java.nio.ByteBuffer.allocate(20 + 8)
    innerIp.put(0x45.toByte).put(0.toByte).putShort(28.toShort)
      .putShort(1.toShort).putShort(0.toShort)
      .put(64.toByte).put(1.toByte).putShort(0.toShort)
      .put(Array[Byte](10, 0, 3, 1)).put(Array[Byte](10, 0, 3, 2))
      .put(icmp)
    val innerEth = new Array[Byte](12) ++
      Array[Byte](0x08, 0x00) ++ innerIp.array()
    val tzsp = Array[Byte](1, 0, 0, 1, 1) ++ innerEth // v1, rx, encap=eth, TAG_END
    val d4 = dissectOne(ethIpUdp(50063, 37008, tzsp))
    assert(d4.protocols === "eth:ethertype:ip:udp:tzsp:eth:ethertype:ip:icmp")
    assert(d4.values("tzsp.encap") === 1L)
    assert(d4.values("tzsp.type") === 0L)
    assert(d4.info.startsWith("Echo (ping) request"))
    // keepalive: header only, no encapsulated frame
    val d4b = dissectOne(ethIpUdp(50063, 37008, Array[Byte](1, 4, 0, 1, 1)))
    assert(d4b.info === "TZSP Keepalive")
  }

  test("ICMP echo request renders ping info") {
    val icmp = java.nio.ByteBuffer.allocate(8)
    icmp.put(8.toByte).put(0.toByte).putShort(0.toShort)
      .putShort(0x42.toShort).putShort(7.toShort)
    val b = java.nio.ByteBuffer.allocate(14 + 20 + 8)
    b.put(new Array[Byte](12)).putShort(0x0800.toShort)
    b.put(0x45.toByte).put(0.toByte).putShort(28.toShort)
      .putShort(1.toShort).putShort(0.toShort)
      .put(64.toByte).put(1.toByte).putShort(0.toShort)
      .put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
    b.put(icmp.array())
    val d = dissectOne(b.array())
    assert(d.protocols === "eth:ethertype:ip:icmp")
    assert(d.info === "Echo (ping) request  id=0x0042, seq=7")
    assert(d.values("icmp.type") === 8L)
  }

  test("a dominant chain after more than 64 rare ones is one interned String") {
    // IPv6 extension-header runs (hop-by-hop, routing, destination options;
    // one to four headers) give 3 + 9 + 27 + 81 distinct chains, all seen
    // before the first IPv4/TCP packet
    val kinds = Seq(0, 43, 60)
    val runs = (1 to 4).flatMap { n =>
      Iterator.iterate(Seq(Seq.empty[Int]))(_.flatMap(r => kinds.map(r :+ _))).drop(n).next()
    }
    def extHeaders(run: Seq[Int]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 * run.length)
      run.indices.foreach { k =>
        val next = if (k + 1 < run.length) run(k + 1) else 59 // no next header
        b.put(next.toByte).put(0.toByte).put(new Array[Byte](6))
      }
      b.array()
    }
    val rare = runs.map(run => ethIpv6(run.head, extHeaders(run)))
    val dominant = (0 until 100).map(i => ethIpTcp(40000, 5000, Array.emptyByteArray, seq = 1000 + i))
    val tracker = new Dissect.Tracker(reuseBuffers = true)
    val chains = (rare ++ dominant).zipWithIndex.map { case (f, i) =>
      Dissect.dissect(PcapFormat.Record(i + 1L, 1000000L + i, f.length, f.length, f), 1, tracker)
        .protocols
    }
    assert(chains.take(rare.length).distinct.length === 120)
    val tcp = chains.drop(rare.length)
    assert(tcp.head === "eth:ethertype:ip:tcp")
    assert(tcp.forall(_ eq tcp.head))
  }
}

/** Ethernet/IPv4 frames from 10.0.0.1 to 10.0.0.2 (reversed with `rev`),
  * shared with [[ProjectionMatrixSpec]]. */
object PcapFormatSpec {
  def ethIpUdp(sp: Int, dp: Int, payload: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(14 + 20 + 8 + payload.length)
    b.put(new Array[Byte](12)).putShort(0x0800.toShort) // eth
    val iplen = 20 + 8 + payload.length
    b.put(0x45.toByte).put(0.toByte).putShort(iplen.toShort)
      .putShort(1.toShort).putShort(0.toShort)
      .put(64.toByte).put(17.toByte).putShort(0.toShort)
      .put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
    b.putShort(sp.toShort).putShort(dp.toShort)
      .putShort((8 + payload.length).toShort).putShort(0.toShort)
    b.put(payload)
    b.array()
  }

  def ethIpTcp(sp: Int, dp: Int, payload: Array[Byte], seq: Int = 1000,
      rev: Boolean = false): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(14 + 20 + 20 + payload.length)
    b.put(new Array[Byte](12)).putShort(0x0800.toShort) // eth
    val iplen = 20 + 20 + payload.length
    b.put(0x45.toByte).put(0.toByte).putShort(iplen.toShort)
      .putShort(1.toShort).putShort(0.toShort)
      .put(64.toByte).put(6.toByte).putShort(0.toShort)
    if (rev) b.put(Array[Byte](10, 0, 0, 2)).put(Array[Byte](10, 0, 0, 1))
    else b.put(Array[Byte](10, 0, 0, 1)).put(Array[Byte](10, 0, 0, 2))
    b.putShort(sp.toShort).putShort(dp.toShort)
      .putInt(seq).putInt(0)
      .put((5 << 4).toByte).put(0x18.toByte) // hdr len 20, PSH+ACK
      .putShort(8192.toShort).putShort(0.toShort).putShort(0.toShort)
    b.put(payload)
    b.array()
  }
}
