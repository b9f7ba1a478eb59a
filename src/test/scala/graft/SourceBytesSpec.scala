package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A raw C0 control byte in a source file (a NUL typed into a string
  * literal, say) makes `grep` and ripgrep treat the whole file as binary,
  * so every code search silently skips it. Such bytes belong in escapes
  * (`\u0000`), which compile to the same string. */
class SourceBytesSpec extends AnyFunSuite {

  test("no .scala file under src/ holds a C0 control byte other than \\n, \\r, \\t") {
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.nonEmpty, "no .scala files under src/ (wrong working directory?)")
    // ISO-8859-1 maps each byte to the char of the same value
    val hits = for {
      p <- files
      (line, i) <- new String(Files.readAllBytes(p), ISO_8859_1).split("\n", -1).zipWithIndex
      c <- line.find(c => c < 0x20 && c != '\r' && c != '\t')
    } yield f"$p:${i + 1}: byte 0x${c.toInt}%02x"
    assert(hits.isEmpty, hits.mkString("raw control bytes:\n", "\n", ""))
  }
}
