package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every Scala source is plain text: no control byte other than tab,
  * newline or carriage return. A raw NUL inside a string literal makes
  * `grep` treat the whole file as binary; such a value is written as an
  * escape (`"\u0000"`). */
class SourceHygieneSpec extends AnyFunSuite {

  test("no src/**/*.scala file holds a control byte other than \\t, \\n, \\r") {
    val root = java.nio.file.Paths.get("src")
    assert(java.nio.file.Files.isDirectory(root.resolve("main/scala")),
      s"run from the project root (cwd ${System.getProperty("user.dir")})")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    assert(files.size > 50, s"only ${files.size} sources found under $root")
    val bad = files.flatMap { f =>
      val bytes = java.nio.file.Files.readAllBytes(f)
      bytes.indices.find { i =>
        val b = bytes(i) & 0xff
        b < 0x20 && b != '\t' && b != '\n' && b != '\r'
      }.map { i =>
        val line = bytes.take(i).count(_ == '\n') + 1
        f"$f:$line: byte 0x${bytes(i) & 0xff}%02x"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
