package graft

import java.io.{BufferedInputStream, DataInputStream, FileInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.pcap.{Dissect, PcapFormat}

/** Refactor guard for the dissection layer: a SHA-256 per (capture, tracker
  * setting) over every packet's full field vector (name, kind, value),
  * `frame.protocols` and info, compared against the committed digests in
  * `dissect_snapshot.tsv`.
  *
  * Captures: every `*.pcap` test resource, plus a port sweep that re-sends
  * each distinct TCP/UDP payload of the Ethernet fixtures on every port the
  * TCP and UDP dispatch ladders test, as source, destination and both — so
  * the order in which app-layer dissectors are tried is pinned too.
  *
  * Settings: the scan's pooled tracker (`reuseBuffers`, the path whose
  * FieldVec is cleared and reused per packet) and a fresh-vector tracker,
  * both rendering info into the byte buffer, plus the String info path;
  * each with and without desegmentation.
  *
  * After an intended dissector change, regenerate the digests with
  * `sbt "Test/runMain graft.DissectSnapshot src/test/resources/dissect_snapshot.tsv"`.
  */
class DissectSnapshotSpec extends AnyFunSuite {

  test("dissection output matches the committed digest on every capture and setting") {
    val in = getClass.getResourceAsStream("/dissect_snapshot.tsv")
    assert(in != null, "dissect_snapshot.tsv missing from the test resources")
    val expected =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toVector
      finally in.close()
    val actual = DissectSnapshot.lines(
      Paths.get(getClass.getResource("/fix.pcap").toURI).getParent)
    val missing = expected.diff(actual)
    val extra = actual.diff(expected)
    assert(missing.isEmpty && extra.isEmpty,
      s"dissection changed:\nexpected\n${missing.mkString("\n")}\ngot\n${extra.mkString("\n")}")
  }
}

object DissectSnapshot {
  import Dissect.{Tracker, Wanted}

  private val infoBytes = Wanted(infoBytes = true)
  val settings: Seq[(String, () => Tracker, Wanted)] = Seq(
    ("fresh", () => new Tracker(), infoBytes),
    ("fresh+deseg", () => new Tracker(desegment = true), infoBytes),
    ("pooled", () => new Tracker(reuseBuffers = true), infoBytes),
    ("pooled+deseg", () => new Tracker(desegment = true, reuseBuffers = true), infoBytes),
    ("strings", () => new Tracker(), Dissect.WantAll),
    ("strings+deseg", () => new Tracker(desegment = true), Dissect.WantAll))

  /** Every port a TCP or UDP dispatch test names, plus the edges of the
    * ranges they test (RTPS 7400–7899, traceroute 33434–33633). */
  val sweepPorts: Array[Int] = Array(7, 9, 13, 19, 21, 22, 23, 25, 37, 43, 49,
    53, 67, 68, 69, 70, 79, 88, 102, 104, 110, 111, 113, 119, 123, 135, 137,
    138, 139, 143, 161, 162, 177, 179, 319, 320, 389, 427, 443, 445, 446, 464,
    496, 500, 502, 512, 513, 514, 515, 520, 521, 524, 546, 547, 548, 554, 564,
    587, 623, 631, 635, 639, 646, 647, 650, 654, 698, 705, 834, 853, 854, 873,
    1080, 1194, 1234, 1344, 1433, 1521, 1645, 1646, 1701, 1719, 1720, 1721,
    1723, 1790, 1812, 1813, 1883, 1900, 1935, 1985, 1998, 2000, 2002, 2048,
    2049, 2055, 2065, 2123, 2152, 2269, 2404, 2427, 2442, 2600, 2727, 2775,
    2809, 2855, 2944, 2945, 3000, 3130, 3205, 3222, 3240, 3260, 3288, 3306,
    3389, 3478, 3544, 3632, 3671, 3784, 3868, 3956, 4045, 4189, 4222, 4341,
    4342, 4369, 4420, 4500, 4569, 4662, 4729, 4730, 4739, 4789, 4790, 4840,
    5000, 5007, 5050, 5060, 5070, 5084, 5094, 5190, 5222, 5246, 5351, 5353,
    5355, 5432, 5555, 5672, 5678, 5683, 5701, 5900, 6000, 6004, 6081, 6343,
    6346, 6379, 6454, 6635, 6653, 6667, 6696, 6789, 6881, 7000, 7272, 7399,
    7400, 7899, 7900, 8004, 8009, 8020, 8333, 8583, 8600, 8805, 9000, 9042,
    9090, 9092, 9200, 9201, 9202, 9300, 9418, 9600, 9995, 10000, 10051, 10809,
    11112, 11210, 11211, 13400, 17754, 19132, 19788, 20000, 20202, 21001,
    21064, 23000, 24007, 24800, 25826, 27017, 30001, 30002, 30490, 30509,
    33433, 33434, 33633, 33634, 34964, 37008, 44818, 47808, 51820, 61613,
    61616)

  def captures(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".pcap")).toSeq.sortBy(_.getFileName.toString)

  private def read(p: Path): (Int, Vector[PcapFormat.Record]) = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(p.toFile)))
    try {
      val h = PcapFormat.readHeader(in)
      (h.linktype, PcapFormat.recordsAfterHeader(in, h, Long.MaxValue, 1L).toVector)
    } finally in.close()
  }

  /** Payload-bearing Ethernet/IPv4 TCP and UDP frames of the Ethernet
    * fixtures, one per distinct payload head (protocol + first 24 bytes),
    * re-sent with one endpoint port (or both) set to each sweep port. */
  def portSweep(caps: Seq[Path]): Vector[PcapFormat.Record] = {
    val seen = new java.util.HashSet[String]
    val frames = caps.flatMap { p =>
      val (lt, recs) = read(p)
      if (lt != 1) Nil
      else recs.map(_.data).filter { d =>
        d.length > 34 && (d(12) & 0xff) == 0x08 && d(13) == 0 && (d(14) & 0xf0) == 0x40 && {
          val proto = d(23) & 0xff
          val l4 = 14 + (d(14) & 0x0f) * 4
          val payload =
            if (proto == 6 && d.length >= l4 + 20) l4 + ((d(l4 + 12) >> 4) & 0xf) * 4
            else if (proto == 17) l4 + 8
            else Int.MaxValue
          payload < d.length &&
            seen.add(proto.toString + ":" + hex(d, payload, math.min(24, d.length - payload)))
        }
      }
    }
    val out = Vector.newBuilder[PcapFormat.Record]
    var n = 0L
    for (f <- frames; port <- sweepPorts; variant <- 0 until 3) {
      val d = f.clone()
      val l4 = 14 + (d(14) & 0x0f) * 4
      if (variant != 1) { d(l4) = (port >> 8).toByte; d(l4 + 1) = port.toByte }
      if (variant != 0) { d(l4 + 2) = (port >> 8).toByte; d(l4 + 3) = port.toByte }
      n += 1
      out += PcapFormat.Record(n, 1000000000000L + n * 1000L, d.length, d.length, d)
    }
    out.result()
  }

  private def hex(d: Array[Byte], off: Int, len: Int): String = {
    val sb = new StringBuilder(len * 2)
    var i = off
    while (i < off + len) { sb.append(f"${d(i) & 0xff}%02x"); i += 1 }
    sb.toString
  }

  /** One packet's dissection, rendered canonically; consumed before the
    * next dissect call, as the pooled tracker requires. */
  private def render(d: Dissect.Dissected, sb: java.lang.StringBuilder): Unit = {
    sb.setLength(0)
    sb.append(d.protocols).append('\u0001').append(d.info)
    val v = d.vec
    var i = 0
    while (i < Dissect.FieldIds.count) {
      val k = v.kinds(i)
      if (k != 0) {
        // text is one kind (1) whether the vector holds it as a String or
        // as UTF-8 bytes (5), so the digests pin values, not storage
        sb.append('\u0002').append(Dissect.FieldIds.names(i)).append('\u0001')
          .append(if (k == 5) 1 else k.toInt).append('\u0001')
        if (k == 5) sb.append(v.valueAt(i))
        else if (k == 1) v.objs(i) match {
          case s: String => sb.append(s)
          case o => sb.append(o.getClass.getName).append(':').append(o)
        }
        else sb.append(v.longs(i))
      }
      i += 1
    }
    sb.append('\u0003')
  }

  private def digest(lt: Int, recs: Vector[PcapFormat.Record], t: Tracker, w: Wanted): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder
    recs.foreach { r =>
      render(Dissect.dissect(r, lt, t, w), sb)
      md.update(sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** `capture \t setting \t packets \t sha256`, one line per pair, over
    * the `*.pcap` files of `dir` (the test resources). */
  def lines(dir: Path): Vector[String] = {
    val caps = captures(dir)
    val inputs = caps.map(p => (p.getFileName.toString, read(p))) :+
      ("port_sweep", (1, portSweep(caps)))
    for ((name, (lt, recs)) <- inputs.toVector; (sname, tracker, wanted) <- settings)
      yield s"$name\t$sname\t${recs.length}\t${digest(lt, recs, tracker(), wanted)}"
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: DissectSnapshot <test-resources>/dissect_snapshot.tsv")
    val out = Paths.get(args(0)).toAbsolutePath
    Files.write(out, lines(out.getParent).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
