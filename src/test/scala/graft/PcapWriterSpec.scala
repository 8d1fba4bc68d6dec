package graft

import org.apache.spark.sql.functions._

import graft.api.Wireduck

/** Capture-rewrite round trips: scan → (filter) → writePcap → rescan.
  * The re-read must reproduce the original dissection exactly — frame
  * bytes and microsecond timestamps survive the rewrite. */
class PcapWriterSpec extends SparkSpec {

  private val fixPcap = getClass.getResource("/fix.pcap").getPath

  test("full rewrite: rescan reproduces count, bytes, and flagship aggregate") {
    val out = java.nio.file.Files.createTempDirectory("pcapw").toString
    val raw = Wireduck.readPcap(spark, fixPcap, protocols = Seq("frame"))
    Wireduck.writePcap(raw, out)

    val orig = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"))
      .groupBy(col("`tcp.srcport`"), col("`tcp.dstport`"))
      .agg(count(lit(1)).as("n"), sum(col("`tcp.len`")).as("b"))
      .orderBy(desc("n"), col("`tcp.srcport`"))
      .collect().map(_.toSeq)
    val rewritten = Wireduck.readPcap(spark, out + "/*.pcap", protocols = Seq("ip", "tcp"))
      .groupBy(col("`tcp.srcport`"), col("`tcp.dstport`"))
      .agg(count(lit(1)).as("n"), sum(col("`tcp.len`")).as("b"))
      .orderBy(desc("n"), col("`tcp.srcport`"))
      .collect().map(_.toSeq)
    assert(rewritten.toSeq === orig.toSeq)

    // microsecond timestamps survive exactly
    val ts0 = Wireduck.readPcap(spark, fixPcap)
      .agg(min(col("`frame.time_epoch`")), max(col("`frame.time_epoch`"))).collect()(0)
    val ts1 = Wireduck.readPcap(spark, out + "/*.pcap")
      .agg(min(col("`frame.time_epoch`")), max(col("`frame.time_epoch`"))).collect()(0)
    assert(ts1 === ts0)
  }

  test("filtered rewrite: only matching packets land in the new capture") {
    val out = java.nio.file.Files.createTempDirectory("pcapwf").toString
    // keep only data-bearing segments (reference cfilter semantics)
    val raw = Wireduck.readPcap(spark, fixPcap,
      protocols = Seq("frame", "tcp"), cfilter = Some("tcp.len > 0"))
      .select(col("`frame.time_epoch`"), col("`frame.raw`"))
    Wireduck.writePcap(raw, out)
    val n = Wireduck.readPcap(spark, out + "/*.pcap").count()
    assert(n === 430L) // pinned by the cfilter golden on the original
  }

  test("rewriting a snaplen-truncated capture preserves frame.len") {
    // build a one-packet capture whose incl_len (50) < orig_len (142)
    val full = new Array[Byte](142)
    full(12) = 0x08; full(13) = 0x06 // ARP ethertype
    val b = java.nio.ByteBuffer.allocate(24 + 16 + 50)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0xA1B2C3D4).putShort(2).putShort(4).putInt(0).putInt(0)
      .putInt(262144).putInt(1)
    b.putInt(1).putInt(0).putInt(50).putInt(142)
    b.put(full, 0, 50)
    val dir = java.nio.file.Files.createTempDirectory("pcapwt")
    val src = dir.resolve("trunc.pcap")
    java.nio.file.Files.write(src, b.array())
    val out = java.nio.file.Files.createTempDirectory("pcapwto").toString
    Wireduck.writePcap(
      Wireduck.readPcap(spark, src.toString, protocols = Seq("frame")), out)
    val re = Wireduck.readPcap(spark, out + "/*.pcap", protocols = Seq("frame"))
      .select(col("`frame.len`"), col("`frame.cap_len`")).collect()(0)
    assert(re.getLong(0) === 142L, "orig_len must survive the rewrite")
    assert(re.getLong(1) === 50L)
  }

  test("nanosecond capture round-trips md5-stable through the ns-magic writer") {
    // two-packet ns-magic capture with sub-microsecond stamps the µs
    // writer would destroy
    val arp = new Array[Byte](42)
    arp(12) = 0x08; arp(13) = 0x06
    val b = java.nio.ByteBuffer.allocate(24 + 2 * (16 + arp.length))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0xA1B23C4D).putShort(2).putShort(4).putInt(0).putInt(0)
      .putInt(262144).putInt(1)
    b.putInt(1700000000).putInt(123456789).putInt(arp.length).putInt(arp.length).put(arp)
    b.putInt(1700000001).putInt(999999001).putInt(arp.length).putInt(arp.length).put(arp)
    val dir = java.nio.file.Files.createTempDirectory("pcapns")
    val src = dir.resolve("ns.pcap")
    java.nio.file.Files.write(src, b.array())

    val scanned = Wireduck.readPcap(spark, src.toString, protocols = Seq("frame"))
    assert(scanned.select(col("`frame.time_epoch_ns`")).orderBy(col("`frame.number`"))
      .collect().map(_.getLong(0)).toSeq ===
      Seq(1700000000123456789L, 1700000001999999001L))

    val out = java.nio.file.Files.createTempDirectory("pcapnso").toString
    Wireduck.writePcap(scanned.coalesce(1), out, nanos = true)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".pcap")).head
    def md5(p: java.nio.file.Path) = java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
    assert(md5(part.toPath) === md5(src), "ns rewrite must be byte-identical")

    // the µs-magic writer on the same frame would round the stamps —
    // prove the ns path is what preserves them
    val outUs = java.nio.file.Files.createTempDirectory("pcapus").toString
    Wireduck.writePcap(scanned.coalesce(1), outUs)
    val reUs = Wireduck.readPcap(spark, outUs + "/*.pcap", protocols = Seq("frame"))
      .select(col("`frame.time_epoch_ns`")).orderBy(col("`frame.time_epoch_ns`"))
      .collect().map(_.getLong(0))
    assert(reUs.toSeq === Seq(1700000000123456000L, 1700000001999999000L))
  }

  test("pcapng writer: ns stamps and bytes survive a container round-trip") {
    val scanned = Wireduck.readPcap(spark, fixPcap, protocols = Seq("frame"))
    val out = java.nio.file.Files.createTempDirectory("pcapngw").toString
    Wireduck.writePcapng(scanned, out)
    val re = Wireduck.readPcap(spark, out + "/*.pcapng", protocols = Seq("frame"))
    assert(re.count() === scanned.count())
    // multi-part rewrites restart frame.number per part — compare the
    // (stamp, bytes) multiset in a stable order instead
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("`frame.time_epoch_ns`"), col("`frame.raw`"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity).toSeq
    assert(rows(scanned) === rows(re))
  }

  test("frame.raw is absent from default schemas and gated by Wanted") {
    val df = Wireduck.readPcap(spark, fixPcap)
    assert(!df.columns.contains("frame.raw"))
    val withRaw = Wireduck.readPcap(spark, fixPcap, protocols = Seq("frame"))
    assert(withRaw.columns.contains("frame.raw"))
    val r = withRaw.select(col("`frame.raw`")).limit(1).collect()(0).getString(0)
    assert(r.matches("([0-9a-f]{2}:)+[0-9a-f]{2}"))
  }

  test("non-Ethernet linktype round trip: a Bluetooth H4 capture rewrites intact") {
    // tier-51+ linktypes flow through the same writer — the caller passes
    // the original linktype and the re-read must reproduce the dissection
    val btPcap = getClass.getResource("/bt.pcap").getPath
    val out = java.nio.file.Files.createTempDirectory("pcapwbt").toString
    val raw = Wireduck.readPcap(spark, btPcap, protocols = Seq("frame"))
    Wireduck.writePcap(raw, out, linktype = 201)
    def census(path: String) = Wireduck.readPcap(spark, path)
      .select(explode(split(col("`frame.protocols`"), ":")).as("p"))
      .groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = census(btPcap)
    val rewritten = census(out + "/*.pcap")
    assert(rewritten === orig)
    assert(orig("btatt") === 4L) // sanity: the chain actually dissected
    // SDP/RFCOMM ride tracker-registered dynamic CIDs — the rewrite must
    // preserve frame ORDER or the signaling state would not replay
    assert(orig("btsdp") === 2L && rewritten("btsdp") === 2L)
    assert(orig("btrfcomm") === 3L && rewritten("btrfcomm") === 3L)
  }

  test("framing buffer pool stays under its byte cap on thousands of frame lengths") {
    import graft.pcap.{PcapFormat, PcapWriter}
    import spark.implicits._
    val lens = 1 to 3500
    assert(lens.map(_.toLong).sum > PcapFormat.PoolBytes) // the cap binds
    val frames = lens.map { n =>
      val hex = (0 until n).map(k => f"${(k * 31 + n) & 0xff}%02x").mkString(":")
      (n * 1000L, hex)
    }.toDF("us", "frame.raw")
      .select(expr("timestamp_micros(us)").as("frame.time_epoch"), col("`frame.raw`"))
    val out = java.nio.file.Files.createTempDirectory("pcapwpool").toString
    PcapWriter.write(frames.coalesce(1), out)
    val file = new java.io.File(out).listFiles().filter(_.getName.endsWith(".pcap")).head

    def scan(reuse: Boolean)(f: PcapFormat.Records => Unit): Unit = {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(new java.io.FileInputStream(file)))
      try f(PcapFormat.recordsAfterHeader(in, PcapFormat.readHeader(in), Long.MaxValue, 1L,
        reuseBuffers = reuse))
      finally in.close()
    }
    // a pooled record's bytes are valid until the next one: copy them out
    def fields(r: PcapFormat.Record) = (r.number, r.tsMicros, r.inclLen, r.origLen, r.data.toSeq)
    var plain = Vector.empty[Any]
    scan(reuse = false)(recs => plain = recs.map(fields).toVector)
    scan(reuse = true) { recs =>
      assert(recs.map(fields).toVector === plain)
      assert(recs.pooledBytes > 0 && recs.pooledBytes <= PcapFormat.PoolBytes)
    }
    assert(plain.length === lens.length)
  }
}
