package graft

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.sources.{Filter, GreaterThan, IsNotNull}
import org.apache.spark.sql.types.{StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.pcap.{Dissect, Glossary, PcapFormat}
import graft.sources.pcap.{PcapInputPartition, PcapPartitionReader}

/** Demand-driven dissection must not change a value: every column of a
  * narrow scan equals the same column of the full-schema scan, row for
  * row, on every test capture and on the port sweep of
  * [[DissectSnapshot]]. The narrow scans are each protocol's fields
  * alone, each address column alone, `ip,tcp` sets with and without
  * `frame.protocols` and the info column, and scans whose pushed filter
  * or cfilter reads fields the projection does not select. */
class ProjectionMatrixSpec extends AnyFunSuite {

  private val resources = Paths.get(getClass.getResource("/fix.pcap").toURI).getParent

  /** Every glossary field, in glossary order: the widest schema a scan can ask for. */
  private val fullSchema = StructType(Glossary.fields.distinctBy(_.filter_name).map(f =>
    StructField(f.filter_name, Glossary.sparkType(f.field_type), nullable = true)))
  private def schemaOf(names: Seq[String]): StructType =
    StructType(names.distinct.map(n => fullSchema(fullSchema.fieldIndex(n))))

  /** The port sweep as a classic little-endian Ethernet capture. */
  private lazy val sweepFile: Path = {
    val f = Files.createTempFile("projection-sweep", ".pcap")
    f.toFile.deleteOnExit()
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f.toFile)))
    def le32(x: Long): Unit = out.writeInt(Integer.reverseBytes(x.toInt))
    def le16(x: Int): Unit = out.writeShort(java.lang.Short.reverseBytes(x.toShort))
    try {
      le32(0xa1b2c3d4L); le16(2); le16(4); le32(0); le32(0); le32(262144); le32(1)
      DissectSnapshot.portSweep(DissectSnapshot.captures(resources)).foreach { r =>
        le32(r.tsMicros / 1000000L); le32(r.tsMicros % 1000000L)
        le32(r.data.length); le32(r.origLen)
        out.write(r.data)
      }
    } finally out.close()
    f
  }

  private lazy val captures: Seq[Path] = DissectSnapshot.captures(resources)

  /** SIP over TCP whose SDP announces RTP on UDP 4789, then a UDP packet
    * on that port that is both RTP (version 2) and VXLAN (I flag) around
    * an inner Ethernet/IPv4/UDP frame, written with [[graft.pcap.PcapWriter]].
    * With the port registered the packet is RTP; without, VXLAN claims it
    * and its inner frame adds a second `ip.src`, `udp.srcport`, … */
  private lazy val sipRtpFile: Path = {
    import PcapFormatSpec.{ethIpTcp, ethIpUdp}
    val sdp = "v=0\r\ns=call\r\nc=IN IP4 10.0.0.1\r\nm=audio 4789 RTP/AVP 0\r\n"
    val sip = ("INVITE sip:bob@10.0.0.2 SIP/2.0\r\nCall-ID: c1\r\nCSeq: 1 INVITE\r\n" +
      s"Content-Type: application/sdp\r\nContent-Length: ${sdp.length}\r\n\r\n$sdp")
      .getBytes("ISO-8859-1")
    val rtpVxlan = Array[Byte](0x88.toByte, 0, 0, 1, 0, 0, 0x2a, 0) ++
      ethIpUdp(1000, 2000, new Array[Byte](8))
    val frames = Seq(ethIpTcp(5060, 5060, sip), ethIpUdp(4789, 4789, rtpVxlan))
    val spark = SparkSpec.session
    import spark.implicits._
    val dir = Files.createTempDirectory("projection-sip-rtp")
    graft.pcap.PcapWriter.write(frames.zipWithIndex.map { case (f, i) =>
      (new java.sql.Timestamp(1700000000000L + i), f.map(x => f"${x & 0xff}%02x").mkString(":"))
    }.toDF("frame.time_epoch", "frame.raw").coalesce(1), dir.toString)
    dir.resolve("part-00000.pcap")
  }

  private def reader(file: Path, schema: StructType, cfilter: Option[String],
      pushed: Array[Filter], desegment: Boolean) =
    new PcapPartitionReader(PcapInputPartition(file.toString, Long.MaxValue),
      schema, false, cfilter, pushed, desegment)

  /** Scans `file` once with the full schema and once per narrow `cases`
    * schema, in step, under the same filters, and fails on the first cell
    * of a narrow row that differs from the full row's cell. */
  private def sameAsFull(file: Path, cases: Seq[(String, StructType)],
      cfilter: Option[String] = None, pushed: Array[Filter] = Array.empty,
      desegment: Boolean = false): Unit = {
    val what = s"${file.getFileName} desegment=$desegment" +
      cfilter.fold("")(f => s" cfilter '$f'") + (if (pushed.isEmpty) "" else " pushed")
    val full = reader(file, fullSchema, cfilter, pushed, desegment)
    val narrow = cases.map { case (_, schema) => reader(file, schema, cfilter, pushed, desegment) }
    val at = cases.map { case (_, schema) => schema.fieldNames.map(fullSchema.fieldIndex) }
    try {
      var row = 0
      while (full.next()) {
        row += 1
        val f = full.get()
        for ((((name, schema), r), fi) <- cases.zip(narrow).zip(at)) {
          assert(r.next(), s"$what [$name]: no row $row")
          val n = r.get()
          for (i <- schema.fields.indices) {
            val t = schema(i).dataType
            val got = if (n.isNullAt(i)) null else n.get(i, t)
            val want = if (f.isNullAt(fi(i))) null else f.get(fi(i), t)
            if (got != want)
              fail(s"$what [$name]: ${schema(i).name}, row $row: $got vs full $want")
          }
        }
      }
      for (((name, _), r) <- cases.zip(narrow)) assert(!r.next(), s"$what [$name]: extra rows")
    } finally (full +: narrow).foreach(_.close())
  }

  /** The protocols that put at least one value in the full scan of `file`. */
  private def present(file: Path): Seq[String] = {
    val r = reader(file, fullSchema, None, Array.empty, false)
    val seen = new Array[Boolean](fullSchema.length)
    try while (r.next()) {
      val row = r.get()
      for (i <- seen.indices) if (!row.isNullAt(i)) seen(i) = true
    } finally r.close()
    fullSchema.fields.indices.filter(seen).map(i => Glossary.fields
      .find(_.filter_name == fullSchema(i).name).get.protocol_filter_name).distinct
  }

  private val addressColumns = Seq("eth.src", "eth.dst", "eth.addr", "ip.src", "ip.dst",
    "ip.addr", "ipv6.src", "ipv6.dst", "ipv6.addr")
  private val ipTcp = Glossary.schemaFor(Seq("ip", "tcp")).fieldNames.toSeq
    .filterNot(n => n == "frame.protocols" || n == Glossary.infoField)
  private val narrowSets: Seq[(String, StructType)] = Seq(
    "ip,tcp" -> ipTcp,
    "ip,tcp + frame.protocols" -> (ipTcp :+ "frame.protocols"),
    "ip,tcp + info" -> (ipTcp :+ Glossary.infoField),
    "flagship" -> Seq("tcp.srcport", "tcp.dstport", "tcp.len"),
    "tcp sessions" -> Seq("tcp.stream", "tcp.len", "frame.time_epoch"),
    "udp ports" -> Seq("udp.srcport", "udp.dstport", "udp.stream", "udp.length"))
    .map { case (what, cols) => what -> schemaOf(cols) }

  test("each protocol's fields and each address column alone equal the full scan") {
    for (file <- captures) {
      val byProtocol = present(file).map(p =>
        p -> schemaOf(Glossary.fields.filter(_.protocol_filter_name == p).map(_.filter_name)))
      sameAsFull(file, byProtocol ++ addressColumns.map(c => c -> schemaOf(Seq(c))))
    }
  }

  // the port sweep too: it sends every payload head of the fixtures to every
  // port an app-layer dispatch tests, so a skipped claim chain shows there
  test("narrow ip,tcp sets, with and without the chain and the info, equal the full scan") {
    for (file <- captures :+ sweepFile; deseg <- Seq(false, true))
      sameAsFull(file, narrowSets, desegment = deseg)
  }

  test("SIP over TCP registers its RTP port whatever the demand") {
    val r = reader(sipRtpFile, schemaOf(Seq("frame.protocols")), None, Array.empty, false)
    val chains = try Iterator.continually(r).takeWhile(_.next())
      .map(_.get().getUTF8String(0).toString).toList finally r.close()
    assert(chains.length === 2 && chains(0).contains(":sip") && chains(1).endsWith(":rtp"),
      s"the fixture must announce the port over SIP and claim the UDP packet as RTP: $chains")
    val addresses = addressColumns.map(c => c -> schemaOf(Seq(c)))
    for (deseg <- Seq(false, true)) sameAsFull(sipRtpFile, narrowSets ++ addresses, desegment = deseg)
  }

  test("filters on fields the projection does not select see the full values") {
    val cols = Seq("narrow" -> schemaOf(Seq("frame.number", "tcp.len")))
    val pushed: Array[Filter] =
      Array(IsNotNull("`tcp.stream`"), GreaterThan("`ip.ttl`", java.lang.Long.valueOf(1L)))
    val cfilters = Seq("fix", "dns || udp.length >= 8", "ip.src == 10.0.0.1 || ip.ttl > 60",
      "eth.src[0:1] == 00", "tcp contains 38:3d", "frame contains \"FIX\"",
      "_ws.col.info contains \"Len\"", "frame.protocols contains \"udp\"")
    for (file <- captures :+ sweepFile) {
      sameAsFull(file, cols, pushed = pushed)
      for (cf <- cfilters) sameAsFull(file, cols, Some(cf), pushed)
    }
  }

  test("a narrow ip,tcp demand skips the app layer; the chain or the info brings it back") {
    val file = resources.resolve("fix.pcap")
    def chains(names: Seq[String]): Set[String] = {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(file.toFile)))
      try {
        val h = PcapFormat.readHeader(in)
        val t = new Dissect.Tracker()
        val w = Dissect.Wanted(info = names.contains(Glossary.infoField),
          fields = Dissect.demandOf(names))
        PcapFormat.recordsAfterHeader(in, h, Long.MaxValue, 1L)
          .map(r => Dissect.dissect(r, h.linktype, t, w).protocols).toSet
      } finally in.close()
    }
    val narrow = ipTcp
    assert(!chains(narrow).exists(_.endsWith(":fix")), "app layer ran for an ip,tcp demand")
    assert(chains(narrow :+ "frame.protocols").exists(_.endsWith(":fix")))
    assert(chains(narrow :+ Glossary.infoField).exists(_.endsWith(":fix")))
    assert(chains(Seq("fix.msgtype")).exists(_.endsWith(":fix")))
  }
}
