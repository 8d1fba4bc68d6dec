package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite

/** Bytecode budget: HotSpot never JIT-compiles a method whose bytecode is
  * longer than 8,000 bytes (`-XX:+DontCompileHugeMethods`, the default), so
  * such a method runs interpreted for the life of the JVM. Every `graft.*`
  * method must stay under that limit — the per-packet dissectors above all.
  *
  * Reads the engine's compiled classes (the directory `Dissect.FieldVec` was
  * loaded from) with the ASM `ClassReader` shaded into Spark, and walks each
  * method's `Code` attribute for its `code_length`.
  */
class MethodSizeSpec extends AnyFunSuite {

  private val HugeMethodLimit = 8000

  /** (method name + descriptor, code_length) of every method with code. */
  private def methodSizes(bytes: Array[Byte]): Seq[(String, Int)] = {
    val cr = new ClassReader(bytes)
    val chars = new Array[Char](cr.getMaxStringLength)
    // skip access, this, super, then the interface table
    var p = cr.header + 6
    p += 2 + 2 * cr.readUnsignedShort(p)
    def skipAttributes(at: Int): Int = {
      var q = at + 2
      for (_ <- 0 until cr.readUnsignedShort(at)) q += 6 + cr.readInt(q + 2)
      q
    }
    val fields = cr.readUnsignedShort(p)
    p += 2
    for (_ <- 0 until fields) p = skipAttributes(p + 6)
    val methods = cr.readUnsignedShort(p)
    p += 2
    val out = Seq.newBuilder[(String, Int)]
    for (_ <- 0 until methods) {
      val name = cr.readUTF8(p + 2, chars) + cr.readUTF8(p + 4, chars)
      var q = p + 8
      for (_ <- 0 until cr.readUnsignedShort(p + 6)) {
        // Code: name(2) length(4) max_stack(2) max_locals(2) code_length(4)
        if (cr.readUTF8(q, chars) == "Code") out += name -> cr.readInt(q + 10)
        q += 6 + cr.readInt(q + 2)
      }
      p = q
    }
    out.result()
  }

  test("no graft method exceeds HotSpot's 8,000-byte compile limit") {
    val root = Paths.get(classOf[graft.pcap.Dissect.FieldVec]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes: Seq[Path] = Files.walk(root.resolve("graft")).iterator().asScala
      .filter(_.toString.endsWith(".class")).toSeq
    assert(classes.exists(_.getFileName.toString == "Dissect$.class"),
      s"engine classes not found under $root")
    val sizes = for {
      c <- classes
      (m, n) <- methodSizes(Files.readAllBytes(c))
    } yield (root.relativize(c).toString.stripSuffix(".class").replace('/', '.') + "." + m, n)
    val huge = sizes.filter(_._2 > HugeMethodLimit).sortBy(-_._2)
    assert(huge.isEmpty, huge.map { case (m, n) => s"$m: $n bytes" }
      .mkString(s"methods over $HugeMethodLimit bytes of bytecode:\n", "\n", ""))
    info(s"largest: ${sizes.maxBy(_._2) match { case (m, n) => s"$m ($n bytes)" }}")
  }
}
