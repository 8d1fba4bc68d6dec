package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Wireduck
import graft.pcap.Glossary

/** Golden tests replaying the reference README's worked examples over
  * fix.pcap (SURVEY §5 "de-facto golden outputs", FIXTURES §1). */
class PcapSourceSpec extends SparkSpec {

  private val fixPcap = getClass.getResource("/fix.pcap").getPath

  test("default scan: 5 columns in reference order, 485 packets") {
    val df = Wireduck.readPcap(spark, fixPcap)
    assert(df.columns.toSeq === Seq(
      "frame.time_epoch", "frame.number", "frame.len", "frame.protocols", "_ws.col.info"))
    assert(df.schema("frame.time_epoch").dataType === TimestampType)
    assert(df.schema("frame.number").dataType === LongType)
    assert(df.schema("frame.len").dataType === LongType)
    assert(df.schema("frame.protocols").dataType === StringType)
    assert(df.count() === 485)
  }

  test("first row matches README golden output") {
    val r = Wireduck.readPcap(spark, fixPcap, compatStrict = true)
      .orderBy(col("`frame.number`")).limit(1).collect()(0)
    assert(r.getAs[Long]("frame.number") === 1L)
    assert(r.getAs[Long]("frame.len") === 74L)
    assert(r.getAs[String]("frame.protocols") === "eth:ethertype:ip:tcp")
    assert(r.getAs[String]("_ws.col.info") ===
      "53867 → 11001 [SYN] Seq=0 Win=43690 Len=0 MSS=65495 SACK_PERM TSval=734420 TSecr=0 WS=128")
    // compat=strict truncates to whole seconds like the reference (:217)
    assert(r.getAs[java.sql.Timestamp]("frame.time_epoch").getTime === 1448733575000L)
  }

  test("README rows 2-10 info column renders exactly") {
    val rows = Wireduck.readPcap(spark, fixPcap, climit = Some(10))
      .orderBy(col("`frame.number`")).collect()
    val infos = rows.map(_.getAs[String]("_ws.col.info"))
    assert(infos(1) === "11001 → 53867 [SYN, ACK] Seq=0 Ack=1 Win=65535 Len=0 MSS=65495 SACK_PERM TSval=734420 TSecr=734420 WS=4")
    assert(infos(2) === "53867 → 11001 [ACK] Seq=1 Ack=1 Win=43776 Len=0 TSval=734420 TSecr=734420")
    assert(infos(3) === "Logon")
    assert(infos(4) === "11001 → 53867 [ACK] Seq=1 Ack=101 Win=130968 Len=0 TSval=734420 TSecr=734420")
    assert(infos(5) === "Logon")
    assert(infos(6) === "53867 → 11001 [ACK] Seq=101 Ack=101 Win=43776 Len=0 TSval=734420 TSecr=734420")
    assert(infos(7) === "Heartbeat")
    assert(infos(8) === "Heartbeat")
    assert(infos(9) === "53867 → 11001 [ACK] Seq=182 Ack=182 Win=43776 Len=0 TSval=736934 TSecr=736934")
    assert(rows.map(_.getAs[String]("frame.protocols")).count(_.endsWith(":fix")) === 4)
  }

  test("climit caps packets read (README climit:=4)") {
    assert(Wireduck.readPcap(spark, fixPcap, climit = Some(4)).count() === 4)
  }

  test("protocols:=['udp'] yields the 32-column golden schema") {
    val df = Wireduck.readPcap(spark, fixPcap, protocols = Seq("udp"))
    assert(df.columns.length === 32)
    assert(df.columns.take(4) === Array(
      "frame.time_epoch", "frame.number", "frame.len", "frame.protocols"))
    assert(df.columns.last === "_ws.col.info")
    assert(df.columns.contains("udplite.checksum_coverage.bad"))
    // README DESCRIBE golden types
    assert(df.schema("udp.srcport").dataType === LongType)
    assert(df.schema("udp.time_relative").dataType === TimestampType)
    assert(df.schema("udp.payload").dataType === StringType)
    // all-TCP capture → udp fields NULL but frame fields populated
    val r = df.orderBy(col("`frame.number`")).limit(1).collect()(0)
    assert(r.isNullAt(r.fieldIndex("udp.srcport")))
    assert(r.getAs[Long]("frame.len") === 74L)
  }

  test("flagship aggregate matches README exactly: (429, 259678) / (56, 19702)") {
    val df = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"))
    val rows = df.groupBy(col("`tcp.srcport`"), col("`tcp.dstport`"))
      .agg(count(lit(1)).as("n"), sum(col("`tcp.len`")).as("sum_len"))
      .orderBy(desc("n"))
      .collect()
    assert(rows.length === 2)
    assert((rows(0).getAs[Long]("tcp.srcport"), rows(0).getAs[Long]("tcp.dstport"),
      rows(0).getAs[Long]("n"), rows(0).getAs[Long]("sum_len")) === ((11001L, 53867L, 429L, 259678L)))
    assert((rows(1).getAs[Long]("tcp.srcport"), rows(1).getAs[Long]("tcp.dstport"),
      rows(1).getAs[Long]("n"), rows(1).getAs[Long]("sum_len")) === ((56L, 19702L)) ||
      (rows(1).getAs[Long]("n"), rows(1).getAs[Long]("sum_len")) === ((56L, 19702L)))
  }

  test("column pruning reaches the scan") {
    val df = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"))
      .select(col("`tcp.srcport`"))
    val scanLine = df.queryExecution.executedPlan.toString()
    assert(scanLine.contains("columns=1"), s"expected pruned scan, got:\n$scanLine")
  }

  test("cfilter display-filter subset filters at the source") {
    // 429 FIX-payload packets + 1 continuation segment = 430 with payload
    val df = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"),
      cfilter = Some("tcp.len > 0"))
    assert(df.count() === 430)
    val conj = Wireduck.readPcap(spark, fixPcap,
      cfilter = Some("fix && tcp.srcport == 11001"))
    assert(conj.count() > 0 && conj.count() < 429)
  }

  test("cfilter: fix presence") {
    val n = Wireduck.readPcap(spark, fixPcap, cfilter = Some("fix")).count()
    assert(n === 429)
  }

  test("glossary tables register and look like the reference DDL") {
    graft.api.Wireduck.setup(spark)
    val protos = spark.table("glossary_protocols")
    assert(protos.columns === Array(
      "full_name", "short_name", "filter_name", "can_enable", "is_displayed", "is_filterable"))
    val fields = spark.table("glossary_fields")
    assert(fields.columns === Array(
      "field_name", "filter_name", "field_type", "protocol_filter_name",
      "encoding", "bitmask", "description"))
    assert(fields.filter("protocol_filter_name = 'udp'").count() === 27)
    // filter_name UNIQUE invariant (reference :349)
    assert(fields.count() === fields.select("filter_name").distinct().count())
    assert(Glossary.init(spark).count() === 2)
  }

  test("unknown protocol silently yields only the 5 defaults (reference :71-76)") {
    val df = Wireduck.readPcap(spark, fixPcap, protocols = Seq("nosuchproto"))
    assert(df.columns.length === 5)
  }

  test("multi-file glob reads both copies (exceeds reference)") {
    val dir = java.nio.file.Files.createTempDirectory("pcapglob")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("a.pcap"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("b.pcap"))
    val df = Wireduck.readPcap(spark, dir.toString + "/*.pcap")
    assert(df.count() === 970)
    assert(df.rdd.getNumPartitions === 2)
  }

  test("multi-path load keeps a path with a comma in it") {
    val root = java.nio.file.Files.createTempDirectory("pcappaths")
    val comma = java.nio.file.Files.createDirectories(root.resolve("a,b")).resolve("x.pcap")
    val plain = root.resolve("y.pcap")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), comma)
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), plain)
    val df = spark.read.format("pcap").load(comma.toString, plain.toString)
    assert(df.count() === 970)
  }

  test("SQL table function: SELECT * FROM read_pcap(...)") {
    val n = spark.sql(s"SELECT count(*) AS n FROM read_pcap('$fixPcap')")
      .collect()(0).getAs[Long]("n")
    assert(n === 485)
    val agg = spark.sql(
      s"""SELECT count(*) AS n, sum(`tcp.len`) AS bytes, `tcp.srcport`, `tcp.dstport`
          FROM read_pcap('$fixPcap', 'ip,tcp')
          GROUP BY `tcp.srcport`, `tcp.dstport` ORDER BY n DESC""").collect()
    assert(agg(0).getAs[Long]("n") === 429 && agg(0).getAs[Long]("bytes") === 259678)
    val named = spark.sql(
      s"SELECT count(*) AS n FROM read_pcap('$fixPcap', climit => 4)")
      .collect()(0).getAs[Long]("n")
    assert(named === 4)
  }

  test("intra-file split: partitions at record boundaries, stateless fields intact") {
    val df = spark.read.format("pcap").option("split", "64k").load(fixPcap)
    assert(df.rdd.getNumPartitions > 1)
    assert(df.count() === 485)
    // frame numbering stays globally correct across splits
    import org.apache.spark.sql.functions._
    val r = df.agg(min(col("`frame.number`")), max(col("`frame.number`")),
      countDistinct(col("`frame.number`")), sum(col("`frame.len`"))).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((1L, 485L, 485L, 311418L)))
    // climit forces whole-file partitions (ordered-cap semantics)
    val capped = spark.read.format("pcap").option("split", "64k")
      .option("climit", "4").load(fixPcap)
    assert(capped.rdd.getNumPartitions === 1)
    assert(capped.count() === 4)
  }

  test("split.mode=resync: executor-side boundaries agree with the driver sweep") {
    import graft.pcap.PcapIndex
    val conf = new org.apache.hadoop.conf.Configuration()
    val fileLen = new java.io.File(fixPcap).length()
    // resync cuts at fixed byte offsets (vs the sweep's cumulative
    // thresholds) so the split points differ; the invariants that matter:
    // contiguous record-boundary coverage of [24, EOF) and exact numbering
    val par = PcapIndex.resyncSplits(fixPcap, 64 * 1024, conf, spark)
    assert(par.length > 1 && par.head.offset === 24L)
    assert(par.map(_.length).sum === fileLen - 24)
    par.sliding(2).foreach {
      case Seq(a, b) => assert(a.offset + a.length === b.offset)
      case _ =>
    }
    // boundaries land on true record starts: each split's firstNumber is
    // 1 + records before it (verified end-to-end below via frame.number)
    assert(par.map(_.firstNumber) === par.map(_.firstNumber).sorted)
    // end-to-end: same aggregate through the reader
    val df = spark.read.format("pcap")
      .option("split", "64k").option("split.mode", "resync").load(fixPcap)
    assert(df.rdd.getNumPartitions > 1)
    val r = df.agg(countDistinct(col("`frame.number`")), sum(col("`frame.len`"))).collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((485L, 311418L)))
  }

  test("per-stream timing fields populate; retransmission detection sane") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("pcap")
      .option("protocols", "ip,tcp").load(fixPcap)
    val r = df.agg(
      count(when(col("`tcp.time_relative`").isNotNull, 1)).as("n_rel"),
      count(when(col("`tcp.analysis.retransmission`").isNotNull, 1)).as("n_retrans"),
      max(col("`tcp.time_relative`").cast("long"))).collect()(0)
    assert(r.getLong(0) === 485L) // every packet is in the one TCP stream
    // loopback capture: no real retransmissions expected
    assert(r.getLong(1) <= 5L)
  }

  test("gzip-compressed capture reads transparently") {
    val gz = java.nio.file.Files.createTempFile("fix", ".pcap.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    out.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixPcap)))
    out.close()
    val df = Wireduck.readPcap(spark, gz.toString, protocols = Seq("ip", "tcp"))
    assert(df.count() === 485)
    import org.apache.spark.sql.functions._
    val s = df.agg(sum(col("`tcp.len`"))).collect()(0).getLong(0)
    assert(s === 259678L + 19702L)
  }

  test("zstd-compressed capture reads transparently (pure-Java aircompressor)") {
    val zst = java.nio.file.Files.createTempFile("fix", ".pcap.zst")
    val out = new io.airlift.compress.zstd.ZstdOutputStream(
      java.nio.file.Files.newOutputStream(zst))
    out.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixPcap)))
    out.close()
    val df = Wireduck.readPcap(spark, zst.toString, protocols = Seq("ip", "tcp"))
    assert(df.count() === 485)
    import org.apache.spark.sql.functions._
    val s = df.agg(sum(col("`tcp.len`"))).collect()(0).getLong(0)
    assert(s === 259678L + 19702L)
  }

  test("missing capture file errors like the reference, not an empty table") {
    val e = intercept[Exception] {
      Wireduck.readPcap(spark, "/nonexistent/nothing.pcap").count()
    }
    assert(e.getMessage.contains("no capture files") ||
      Option(e.getCause).exists(_.getMessage.contains("no capture files")))
  }

  test("display-filter parser: negation, parentheses, inequality") {
    val base = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"))
    assert(base.count() === 485)
    val notFix = Wireduck.readPcap(spark, fixPcap, cfilter = Some("!fix")).count()
    assert(notFix === 485 - 429)
    val neq = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"),
      cfilter = Some("tcp.srcport != 11001")).count()
    assert(neq === 56)
    val parens = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"),
      cfilter = Some("(tcp.srcport == 11001 || tcp.srcport == 53867) && tcp.len >= 100")).count()
    assert(parens > 0 && parens < 485)
  }

  test("pushed timestamp range filter on frame.time_epoch keeps matching rows") {
    // Regression: the reader-side Filter eval had no Long-micros vs
    // java.sql.Timestamp case, dropped every row of any time-range query.
    val df = Wireduck.readPcap(spark, fixPcap)
    val start = java.sql.Timestamp.valueOf("2015-11-01 00:00:00")
    assert(df.filter(col("`frame.time_epoch`") >= start).count() === 485)
    // midpoint split: both halves non-empty, partition the capture
    val all = df.select(col("`frame.time_epoch`")).collect().map(_.getTimestamp(0).getTime).sorted
    val mid = new java.sql.Timestamp(all(242))
    val before = df.filter(col("`frame.time_epoch`") < mid).count()
    val atAfter = df.filter(col("`frame.time_epoch`") >= mid).count()
    assert(before > 0 && atAfter > 0 && before + atAfter === 485)
    // strict mode truncates to whole seconds before comparing
    val strictDf = Wireduck.readPcap(spark, fixPcap, compatStrict = true)
    val firstSec = java.sql.Timestamp.valueOf("2015-11-28 00:00:00")
    assert(strictDf.filter(col("`frame.time_epoch`") >= firstSec).count() === 485)
  }

  test("display-filter parser: word-form or/and, trailing garbage rejected") {
    val orN = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"),
      cfilter = Some("tcp.srcport == 11001 or tcp.srcport == 53867")).count()
    assert(orN === 485)
    val andN = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"),
      cfilter = Some("fix and tcp.srcport == 11001")).count()
    val andSym = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip", "tcp"),
      cfilter = Some("fix && tcp.srcport == 11001")).count()
    assert(andN === andSym && andN > 0)
    val notN = Wireduck.readPcap(spark, fixPcap, cfilter = Some("not fix")).count()
    assert(notN === 485 - 429)
    val e = intercept[Exception] {
      Wireduck.readPcap(spark, fixPcap, cfilter = Some("tcp.srcport == 11001 garbage here")).count()
    }
    assert(e.getMessage.contains("trailing input") ||
      Option(e.getCause).exists(_.getMessage.contains("trailing input")))
  }

  test("display-filter: contains, matches, and byte-slice comparisons") {
    val mixed = getClass.getResource("/mixed.pcap").getPath
    // protocol-target contains: frame-bytes search gated on http presence
    val httpContains = Wireduck.readPcap(spark, mixed,
      cfilter = Some("http contains \"index.html\"")).count()
    assert(httpContains > 0)
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("http contains \"no-such-needle\"")).count() === 0)
    // field-target contains: substring over the field's bytes
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("http.user_agent contains \"graft\"")).count() > 0)
    // matches: case-insensitive find-anywhere regex, Wireshark semantics
    val m = Wireduck.readPcap(spark, mixed,
      cfilter = Some("frame matches \"EXAMPLE\\.com\"")).count()
    assert(m > 0)
    // contains with a byte literal — same needle as the regex above
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("frame contains 65:78:61:6d:70:6c:65:2e:63:6f:6d")).count() === m)
    // byte-slice on the frame: dst-MAC prefix (all but the ARP broadcast)
    val all = Wireduck.readPcap(spark, mixed).count()
    val sliced = Wireduck.readPcap(spark, mixed,
      cfilter = Some("frame[0:3] == 02:00:00")).count()
    assert(sliced === all - 1)
    // byte-slice on a field rendering
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("eth.dst[0:3] == 02:00:00")).count() === sliced)
    // relational slice compare against a byte-string literal still rejects
    val e = intercept[Exception] {
      Wireduck.readPcap(spark, mixed, cfilter = Some("frame[0:3] > 02:00:00")).count()
    }
    assert(e.getMessage.contains("byte-slice") ||
      Option(e.getCause).exists(_.getMessage.contains("byte-slice")))
  }

  test("display-filter: numeric slice comparisons and upper()/lower()") {
    val mixed = getClass.getResource("/mixed.pcap").getPath
    val all = Wireduck.readPcap(spark, mixed).count()
    // numeric slice: dst-MAC prefix as a big-endian uint — only the ARP
    // broadcast (ff:ff:ff) exceeds 0x020000
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("frame[0:3] > 0x020000")).count() === 1)
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("frame[0:3] >= 0x020000")).count() === all)
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("eth.dst[0] == 0x02")).count() === all - 1)
    // decimal literal on a relational op is numeric too (0x02 == 2)
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("eth.dst[0] <= 2")).count() === all - 1)
    // upper()/lower(): case folding on field strings and frame bytes
    val m = Wireduck.readPcap(spark, mixed,
      cfilter = Some("frame contains \"example.com\"")).count()
    assert(m > 0)
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("upper(frame) contains \"EXAMPLE.COM\"")).count() === m)
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("lower(http.request.method) == \"get\"")).count() > 0)
    assert(Wireduck.readPcap(spark, mixed,
      cfilter = Some("upper(http.user_agent) contains \"GRAFT\"")).count() > 0)
    // numeric literals parse strictly — trailing garbage rejects, never
    // silently truncates
    val eNum = intercept[Exception] {
      Wireduck.readPcap(spark, mixed, cfilter = Some("frame[0] > 64abc")).count()
    }
    assert(eNum.getMessage.contains("numeric") ||
      Option(eNum.getCause).exists(_.getMessage.contains("numeric")))
    val eHex = intercept[Exception] {
      Wireduck.readPcap(spark, mixed, cfilter = Some("frame[0] == 0x4g")).count()
    }
    assert(eHex.getMessage.contains("numeric literal") ||
      Option(eHex.getCause).exists(_.getMessage.contains("numeric literal")))
    // bare function reference without a comparison rejects
    val eFn = intercept[Exception] {
      Wireduck.readPcap(spark, mixed, cfilter = Some("upper(http)")).count()
    }
    assert(eFn.getMessage.contains("upper()/lower()") ||
      Option(eFn.getCause).exists(_.getMessage.contains("upper()/lower()")))
  }

  test("display-filter: in {…} set membership") {
    val both = Wireduck.readPcap(spark, fixPcap,
      cfilter = Some("tcp.srcport in {11001, 53867}")).count()
    val orChain = Wireduck.readPcap(spark, fixPcap,
      cfilter = Some("tcp.srcport == 11001 || tcp.srcport == 53867")).count()
    assert(both === orChain && both === 485)
    assert(Wireduck.readPcap(spark, fixPcap,
      cfilter = Some("tcp.srcport in {1 2 3}")).count() === 0)
    val e = intercept[Exception] {
      Wireduck.readPcap(spark, fixPcap, cfilter = Some("tcp.srcport in {}")).count()
    }
    assert(e.getMessage.contains("value set") ||
      Option(e.getCause).exists(_.getMessage.contains("value set")))
  }

  test("ip.addr carries src,dst and display-filter == matches either") {
    val df = Wireduck.readPcap(spark, fixPcap, protocols = Seq("ip"))
    val r = df.orderBy(col("`frame.number`")).limit(1).collect()(0)
    val addr = r.getAs[String]("ip.addr")
    assert(addr.contains(",") && addr.split(",").length === 2)
    assert(addr === r.getAs[String]("ip.src") + "," + r.getAs[String]("ip.dst"))
    // loopback capture: every packet has 127.0.0.1 as src or dst
    val n = Wireduck.readPcap(spark, fixPcap,
      cfilter = Some("ip.addr == 127.0.0.1")).count()
    assert(n === 485)
  }

  test("SQL: FROM initialize_glossary() returns the reference status rows") {
    val rows = spark.sql("SELECT * FROM initialize_glossary()")
      .collect().map(_.getString(0))
    assert(rows.toSeq === Seq(
      "glossary_protocols initialized", "glossary_fields initialized"))
  }
}
