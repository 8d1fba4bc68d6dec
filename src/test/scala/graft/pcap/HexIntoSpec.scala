package graft.pcap

import org.scalatest.funsuite.AnyFunSuite

/** The table-driven hex kernel renders exactly what the per-byte loop it
  * replaced rendered, and writes nothing outside its output range. */
class HexIntoSpec extends AnyFunSuite {

  private val digits = "0123456789abcdef".getBytes("ISO-8859-1")

  /** The per-byte render the kernel replaced. */
  private def perByte(d: Array[Byte], off: Int, len: Int, out: Array[Byte], at: Int): Int = {
    var i = 0
    while (i < len) {
      val b = d(off + i) & 0xff
      val o = at + i * 3
      if (i > 0) out(o - 1) = ':'
      out(o) = digits(b >> 4)
      out(o + 1) = digits(b & 0xf)
      i += 1
    }
    if (len == 0) at else at + len * 3 - 1
  }

  test("hexInto equals the per-byte render for lengths 0 to 300 at random offsets") {
    val rnd = new scala.util.Random(7)
    for (len <- 0 to 300; _ <- 0 until 4) {
      val src = new Array[Byte](len + 16)
      rnd.nextBytes(src)
      val off = rnd.nextInt(16)
      val at = rnd.nextInt(9)
      val size = at + len * 3 + 8
      val want = Array.fill[Byte](size)(0x7f)
      val got = Array.fill[Byte](size)(0x7f)
      val wantEnd = perByte(src, off, len, want, at)
      val gotEnd = Dissect.hexInto(src, off, len, got, at)
      assert(gotEnd === wantEnd, s"end offset, len $len")
      assert(got.toSeq === want.toSeq, s"len $len off $off at $at")
    }
  }

  test("hexInto fits an output array of exactly len * 3 - 1 bytes") {
    for (len <- 1 to 40) {
      val src = Array.tabulate[Byte](len)(i => (i * 29 + 3).toByte)
      val out = new Array[Byte](len * 3 - 1)
      assert(Dissect.hexInto(src, 0, len, out, 0) === out.length)
      val want = new Array[Byte](len * 3 - 1)
      perByte(src, 0, len, want, 0)
      assert(out.toSeq === want.toSeq)
    }
  }

  test("a nested hex write appends ',inner' after the outer value") {
    val id = Dissect.FieldIds.id("tcp.payload")
    val rnd = new scala.util.Random(11)
    for (outerLen <- Seq(1, 2, 5, 64, 300); innerLen <- Seq(0, 1, 3, 70, 257)) {
      val outer = new Array[Byte](outerLen); rnd.nextBytes(outer)
      val inner = new Array[Byte](innerLen + 3); rnd.nextBytes(inner)
      val v = new Dissect.FieldVec
      def put(d: Array[Byte], off: Int, len: Int): Unit = {
        val at = v.reserve(id, if (len == 0) 0 else len * 3 - 1)
        if (at >= 0) Dissect.hexInto(d, off, len, v.bytes(id), at)
      }
      put(outer, 0, outerLen)
      v.nested = true
      put(inner, 3, innerLen)
      def render(d: Array[Byte], off: Int, len: Int): String = {
        val b = new Array[Byte](math.max(0, len * 3 - 1))
        new String(b, 0, perByte(d, off, len, b, 0), "ISO-8859-1")
      }
      assert(v.valueAt(id) === render(outer, 0, outerLen) + "," + render(inner, 3, innerLen),
        s"outer $outerLen inner $innerLen")
    }
  }
}
