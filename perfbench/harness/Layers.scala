package graft.bench

import java.io.{BufferedInputStream, DataInputStream, FileInputStream}

import org.apache.hadoop.conf.Configuration

import graft.pcap.{Dissect, Glossary, PcapFormat, PcapIndex}
import graft.sources.pcap.{DisplayFilter, PcapInputPartition, PcapPartitionReader}

/** Direct single-thread passes over one capture, one layer at a time:
  * framing alone, framing + dissection at three depths, framing +
  * dissection + display filter, and the partition reader that adds the
  * row copy. Each layer's cost is its pass minus the pass below it, per
  * packet; the display filter alone is timed around each evaluation. Every
  * pass runs five times and the fastest run is kept, the least disturbed
  * by other load; the passes run after the timed phase, so the JIT has
  * compiled the scan paths. */
object Layers {
  /** The schema full_scan reads: default columns plus these protocols. */
  val fullProtocols: Seq[String] = Seq("ip", "tcp", "udp", "fix", "dns", "http")
  val filter = "fix"

  private def records(file: String, maxPackets: Long) = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file), 1 << 20))
    val h = PcapFormat.readHeader(in)
    (in, h.linktype,
      PcapFormat.recordsAfterHeader(in, h, maxPackets, 1L, reuseBuffers = true))
  }

  /** Fastest of five runs of `pass`, which returns its packet count. */
  private def best(tracer: Tracer, name: String)(pass: => Long): (Long, Long) =
    tracer.span(name) {
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val n = pass
        (System.nanoTime() - t0, n)
      }.minBy(_._1)
    }

  private def framing(file: String, maxPackets: Long): Long = {
    val (in, _, it) = records(file, maxPackets)
    var n = 0L
    var bytes = 0L
    try while (it.hasNext) { bytes += it.next().inclLen; n += 1 } finally in.close()
    if (bytes < 0) -1L else n // reading `bytes` keeps the loop from being optimised away
  }

  private def dissect(file: String, maxPackets: Long, wanted: Dissect.Wanted): Long = {
    val (in, lt, it) = records(file, maxPackets)
    val tracker = new Dissect.Tracker(reuseBuffers = true)
    var n = 0L
    try while (it.hasNext) {
      Dissect.dissect(it.next(), lt, tracker, wanted)
      n += 1
    } finally in.close()
    n
  }

  /** (nanoseconds spent in filter evaluation, packets passed, packets). */
  private def filtered(file: String, maxPackets: Long, wanted: Dissect.Wanted,
      expr: DisplayFilter.Expr): (Long, Long, Long) = {
    val (in, lt, it) = records(file, maxPackets)
    val tracker = new Dissect.Tracker(reuseBuffers = true)
    var n, kept, evalNs, clockNs = 0L
    try while (it.hasNext) {
      val d = Dissect.dissect(it.next(), lt, tracker, wanted)
      val t0 = System.nanoTime()
      val t1 = System.nanoTime()
      val ok = expr.eval(d)
      val t2 = System.nanoTime()
      clockNs += t1 - t0
      evalNs += t2 - t1
      if (ok) kept += 1
      n += 1
    } finally in.close()
    (evalNs - clockNs, kept, n) // one clock read's cost taken out per packet
  }

  /** Distinct TCP conversations the dissector numbers in the capture. */
  private def tcpStreams(file: String, maxPackets: Long): Long = {
    val (in, lt, it) = records(file, maxPackets)
    val tracker = new Dissect.Tracker()
    var maxStream = -1L
    try while (it.hasNext) {
      val d = Dissect.dissect(it.next(), lt, tracker)
      d.values.get("tcp.stream").foreach {
        case s: java.lang.Long => maxStream = math.max(maxStream, s)
        case _ =>
      }
    } finally in.close()
    maxStream + 1
  }

  private def reader(file: String, maxPackets: Long): Long = {
    val r = new PcapPartitionReader(PcapInputPartition(file, maxPackets),
      Glossary.schemaFor(fullProtocols), false, None, Array.empty)
    var n = 0L
    try while (r.next()) { if (r.get() != null) n += 1 } finally r.close()
    n
  }

  /** Per-layer metrics over the first `maxPackets` packets of `file`. */
  def measure(file: String, tracer: Tracer, maxPackets: Long = 50000L): Seq[(String, Double, String)] =
    tracer.span("layers") {
      val (frameNs, packets) = best(tracer, "layers.framing")(framing(file, maxPackets))
      val (frameOnlyNs, _) = best(tracer, "layers.dissect.frame")(
        dissect(file, maxPackets, Dissect.Wanted(layers = false, payloads = false, info = false)))
      // also the Wanted the partition reader derives for fix_messages
      val l4Wanted = Dissect.Wanted(payloads = false, info = false)
      val (l4Ns, _) = best(tracer, "layers.dissect.l4")(dissect(file, maxPackets, l4Wanted))
      // the Wanted the partition reader derives for the full schema
      val (fullNs, _) = best(tracer, "layers.dissect.full")(
        dissect(file, maxPackets, Dissect.Wanted(infoBytes = true)))
      val expr = DisplayFilter.parse(filter)
      val (filterNs, passed, _) = tracer.span("layers.reader.filter")(
        (1 to 5).map(_ => filtered(file, maxPackets, l4Wanted, expr)).minBy(_._1))
      val (readerNs, rows) = best(tracer, "layers.reader.rowcopy")(reader(file, maxPackets))
      val streams = tracer.span("layers.dissect.tcp_streams")(tcpStreams(file, maxPackets))
      val target = math.max(1L << 20, new java.io.File(file).length / 8)
      val (indexNs, splits) = best(tracer, "layers.index")(
        PcapIndex.splits(file, target, new Configuration()).size.toLong)
      val p = packets.toDouble
      Seq(
        ("framing.ns_per_packet", frameNs / p, "ns"),
        ("framing.packets", p, "count"),
        ("index.splits_s", indexNs / 1e9, "s"),
        ("index.splits", splits.toDouble, "count"),
        ("dissect.frame.ns_per_packet", (frameOnlyNs - frameNs) / p, "ns"),
        ("dissect.l4.ns_per_packet", (l4Ns - frameNs) / p, "ns"),
        ("dissect.full.ns_per_packet", (fullNs - frameNs) / p, "ns"),
        ("dissect.tcp_streams", streams.toDouble, "count"),
        ("reader.rowcopy.ns_per_packet", (readerNs - fullNs) / math.max(1L, rows), "ns"),
        ("reader.filter.ns_per_packet", filterNs / p, "ns"),
        ("reader.filter.pass_ratio", passed / p, "ratio"))
    }
}
