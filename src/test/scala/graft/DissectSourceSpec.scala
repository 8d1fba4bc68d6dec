package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps demand-driven dissection sound: the scan drops writes to fields
  * its query does not read, so a dissector that read a field back from
  * the vector (to render info, say) would see nothing when only the info
  * is selected. Reads of the vector may live only in `FieldVec` and
  * `FieldView`; dissectors keep what they render in locals. */
class DissectSourceSpec extends AnyFunSuite {

  private val forbidden = Seq(
    "\\bv\\.get\\(" -> "reads a field back by name",
    "\\.valueAt\\(" -> "reads a field back by id",
    "\\.kinds\\(" -> "tests whether a field was written",
    "\\.(objs|longs|byteLens)\\(" -> "reads a field slot")

  test("Dissect.scala reads no field back from a FieldVec outside FieldVec and FieldView") {
    val src = Paths.get("src/main/scala/graft/pcap/Dissect.scala")
    assert(Files.exists(src), s"dissector source not found at ${src.toAbsolutePath}")
    val lines = Files.readAllLines(src).asScala.toVector
    /** [first, last] line indexes of the class whose header matches `head`:
      * up to the first line that closes at the header's indent. */
    def body(head: String): Range = {
      val from = lines.indexWhere(_.contains(head))
      assert(from >= 0, s"'$head' not found in $src")
      val indent = lines(from).takeWhile(_ == ' ')
      val to = lines.indexWhere(_ == indent + "}", from)
      from to to
    }
    val allowed = Seq(body("final class FieldVec {"), body("final class FieldView("))
    val hits = for {
      (line, n) <- lines.zipWithIndex if !allowed.exists(_.contains(n))
      (re, what) <- forbidden if re.r.findFirstIn(line).isDefined
    } yield s"Dissect.scala:${n + 1} $what: ${line.trim}"
    assert(hits.isEmpty, hits.mkString(
      "keep rendered values in locals; a field the scan does not read is never written:\n",
      "\n", ""))
  }
}
