package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite

/** HotSpot never JIT-compiles a method whose bytecode is longer than
  * `HugeMethodLimit` (8 000 bytes, `-XX:+DontCompileHugeMethods` is the
  * default), so such a method runs in the interpreter for the life of the
  * JVM. The decode and fixture layers are per-record hot paths, and Scala
  * case-class `copy` on the wide `OpModel` costs hundreds of bytes per call
  * site, so a `match` over op types grows past the limit quickly. This spec
  * reads the compiled classes and names every method over it. */
class MethodSizeSpec extends AnyFunSuite {

  private val HugeMethodLimit = 8000

  /** (method name + descriptor, code length) of every method with a body,
    * read from the class file's `Code` attributes. */
  private def codeLengths(bytes: Array[Byte]): Seq[(String, Int)] = {
    val cr = new ClassReader(bytes)
    val chars = new Array[Char](cr.getMaxStringLength)
    var p = cr.header + 6 // access_flags, this_class, super_class
    p += 2 + 2 * cr.readUnsignedShort(p) // interfaces
    // field_info and method_info: access, name, descriptor, attributes
    def members[T](f: String => (String, Int) => Option[T]): Seq[T] = {
      val n = cr.readUnsignedShort(p); p += 2
      (0 until n).flatMap { _ =>
        val member = cr.readUTF8(p + 2, chars) + cr.readUTF8(p + 4, chars)
        val nAttrs = cr.readUnsignedShort(p + 6); p += 8
        (0 until nAttrs).flatMap { _ =>
          val name = cr.readUTF8(p, chars)
          val found = f(member)(name, p)
          p += 6 + cr.readInt(p + 2)
          found
        }
      }
    }
    members(_ => (_, _) => None) // fields
    members(m => (attr, at) =>
      // Code: name(2) length(4) max_stack(2) max_locals(2) code_length(4)
      if (attr == "Code") Some(m -> cr.readInt(at + 10)) else None)
  }

  private def classFiles(pkg: String): Seq[Path] = {
    val root = Paths.get(classOf[graft.codec.StellarXdr.Reader]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val dir = root.resolve(pkg.replace('.', '/'))
    assert(Files.isDirectory(dir), s"$dir is not a class directory")
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".class")).toList
    finally s.close()
  }

  test("the code-length reader agrees with a method of known size") {
    // the `buf` accessor is aload_0 (1) getfield (3) areturn (1)
    val sizes = classFiles("graft.codec")
      .filter(_.getFileName.toString == "StellarXdr$Reader.class")
      .flatMap(f => codeLengths(Files.readAllBytes(f))).toMap
    assert(sizes.get("buf()[B").contains(5), sizes)
  }

  /** Every method of `pkgs` at or over the limit, with its size. */
  private def hugeMethods(pkgs: String*): Seq[String] =
    for {
      pkg <- pkgs
      f <- classFiles(pkg)
      (method, size) <- codeLengths(Files.readAllBytes(f))
      if size >= HugeMethodLimit
    } yield s"${pkg}.${f.getFileName.toString.stripSuffix(".class")}" +
      s".$method: $size bytes"

  test("every method in graft.codec, graft.sources and graft.model is " +
      s"under HotSpot's $HugeMethodLimit-byte HugeMethodLimit") {
    val huge = hugeMethods("graft.codec", "graft.sources", "graft.model")
    assert(huge.isEmpty, huge.sorted.mkString("\n", "\n", ""))
  }

  // the per-op kernels (operation details, per-row codecs) run once per
  // exploded row, so they must stay JIT-compilable too
  test("graft.operators and graft.plans stay JIT-compilable") {
    val huge = hugeMethods("graft.operators", "graft.plans")
    assert(huge.isEmpty, huge.sorted.mkString("\n", "\n", ""))
  }
}
