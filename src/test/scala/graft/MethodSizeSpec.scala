package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.ClassReader

/** HotSpot never JIT-compiles a method whose bytecode reaches 8000
  * bytes (-XX:+DontCompileHugeMethods, on by default), so such a method
  * stays interpreted for the life of the JVM. This guard reads every
  * compiled graft.script class with Spark's bundled ASM reader and
  * fails on any method at or over that limit. */
class MethodSizeSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val HugeMethodLimit = 8000

  /** (name + descriptor, code length) of every method with a body,
    * walking the class file layout of JVMS §4.1: the interfaces, then
    * the fields and the methods, each with length-prefixed attributes. */
  private def methodSizes(bytes: Array[Byte]): Seq[(String, Int)] = {
    val cr = new ClassReader(bytes)
    val buf = new Array[Char](cr.getMaxStringLength)
    // u2 count, then per attribute: u2 name, u4 length, the data
    def attributes(at: Int): (Seq[(String, Int)], Int) = {
      var q = at + 2
      val out = Seq.newBuilder[(String, Int)]
      for (_ <- 0 until cr.readUnsignedShort(at)) {
        out += cr.readUTF8(q, buf) -> (q + 6)
        q += 6 + cr.readInt(q + 2)
      }
      (out.result(), q)
    }
    var p = cr.header + 6 // access flags, this and super class
    p += 2 + 2 * cr.readUnsignedShort(p)
    val fields = cr.readUnsignedShort(p); p += 2
    for (_ <- 0 until fields) p = attributes(p + 6)._2
    val methods = cr.readUnsignedShort(p); p += 2
    (0 until methods).flatMap { _ =>
      val name = cr.readUTF8(p + 2, buf) + cr.readUTF8(p + 4, buf)
      val (attrs, next) = attributes(p + 6)
      p = next
      // Code: u2 max_stack, u2 max_locals, u4 code_length, ...
      attrs.collect { case ("Code", data) => name -> cr.readInt(data + 4) }
    }
  }

  test("no graft.script method reaches HotSpot's huge-method limit") {
    val dir = Paths.get(classOf[graft.script.WarpScriptEngine].getProtectionDomain
      .getCodeSource.getLocation.toURI).resolve("graft/script")
    val listing = Files.list(dir)
    val classes =
      try listing.iterator.asScala.filter(_.toString.endsWith(".class")).toVector
      finally listing.close()
    val sizes = for {
      c <- classes
      (m, n) <- methodSizes(Files.readAllBytes(c))
    } yield (s"${c.getFileName} $m", n)
    // the reader really finds code: the engine has non-trivial methods
    assert(classes.size > 50 && sizes.map(_._2).max > 1000)
    val huge = sizes.filter(_._2 >= HugeMethodLimit)
      .map { case (m, n) => s"$m: $n bytes" }
    assert(huge.isEmpty, huge.mkString("\n"))
  }
}
