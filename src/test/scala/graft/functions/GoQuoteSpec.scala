package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Golden cases mirror Go strconv.Quote(string(b)) output byte-for-byte
  * (reference main.go:113 renders payloads with fmt %q). */
class GoQuoteSpec extends AnyFunSuite {
  private def q(bytes: Int*): String = GoQuote.quote(bytes.map(_.toByte).toArray)
  private def qs(s: String): String = GoQuote.quote(s.getBytes("UTF-8"))

  test("plain ascii") { assert(qs("hello") == "\"hello\"") }
  test("empty") { assert(qs("") == "\"\"") }
  test("quote and backslash escaped") {
    assert(qs("a\"b") == "\"a\\\"b\"")
    assert(qs("a\\b") == "\"a\\\\b\"")
  }
  test("control shorthands") {
    assert(qs("\n\t\r") == "\"\\n\\t\\r\"")
    assert(q(0x07, 0x08, 0x0b, 0x0c) == "\"\\a\\b\\v\\f\"")
  }
  test("other control bytes as \\xNN") {
    assert(q(0x00, 0x01, 0x1f, 0x7f) == "\"\\x00\\x01\\x1f\\x7f\"")
  }
  test("invalid utf-8 bytes as \\xNN") {
    assert(q(0xff, 0xfe) == "\"\\xff\\xfe\"")
    assert(q(0x80) == "\"\\x80\"") // stray continuation
    assert(q(0xc0, 0x80) == "\"\\xc0\\x80\"") // overlong NUL
    assert(q(0xed, 0xa0, 0x80) == "\"\\xed\\xa0\\x80\"") // surrogate
    assert(q(0xf4, 0x90, 0x80, 0x80) == "\"\\xf4\\x90\\x80\\x80\"") // >U+10FFFF
    assert(q('a', 0xc3) == "\"a\\xc3\"") // truncated tail
  }
  test("printable unicode passes through") {
    assert(qs("caf\u00e9") == "\"caf\u00e9\"")
    assert(qs("\u4e2d\u6587") == "\"\u4e2d\u6587\"")
    val smile = new String(Character.toChars(0x1f600))
    assert(qs(smile) == "\"" + smile + "\"")
  }
  test("non-printable unicode escapes") {
    assert(qs("\u00a0") == "\"\\u00a0\"") // no-break space: Zs, not printable
    assert(qs("\u200b") == "\"\\u200b\"") // zero-width space
    val tag = new String(Character.toChars(0xe0001)) // Cf beyond BMP
    assert(qs(tag) == "\"\\U000e0001\"")
  }

  test("property: printable-ascii round trip is identity modulo quotes") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val s = Seq.fill(rnd.nextInt(40))((0x20 + rnd.nextInt(0x5f)).toChar)
        .mkString.filterNot(c => c == '"' || c == '\\')
      assert(GoQuote.quote(s.getBytes("UTF-8")) == "\"" + s + "\"")
    }
  }
  test("native expression agrees with the kernel, handles null, works from SQL") {
    val spark = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val payloads: Seq[Array[Byte]] =
      Seq("plain".getBytes, Array[Byte](0, 0x7f, -1, -2), Array.emptyByteArray) ++
        Seq.fill(20)(Array.fill(rnd.nextInt(32))(rnd.nextInt(256).toByte))
    val viaExpr = payloads.toDF("p")
      .select(GoQuoteExpr.native(col("p"))).as[String].collect()
    assert(viaExpr.toSeq == payloads.map(GoQuote.quote))
    val nullRow = Seq(Option.empty[Array[Byte]]).toDF("p")
      .select(GoQuoteExpr.native(col("p"))).collect()
    assert(nullRow.head.isNullAt(0))
    // SQL surface via GraftExtensions
    val viaSql = spark.sql("SELECT go_quote(CAST('hi\n' AS BINARY)) AS q")
      .collect().head.getString(0)
    assert(viaSql == "\"hi\\n\"")
  }

  test("property: output is always quoted and never raw-control") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val bs = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      val out = GoQuote.quote(bs)
      assert(out.head == '"' && out.last == '"')
      assert(!out.exists(c => c < 0x20)) // all control bytes escaped
    }
  }

  test("exhaustive: byte kernel and quote are byte-identical to the oracle") {
    import java.nio.charset.StandardCharsets.UTF_8
    var checked = 0L
    def check(in: Array[Byte]): Unit = {
      val want = GoQuoteOracle.quote(in)
      val got = GoQuote.quoteUtf8(in)
      if (!java.util.Arrays.equals(got, want.getBytes(UTF_8)) || GoQuote.quote(in) != want)
        fail(s"input ${in.map(b => f"${b & 0xff}%02x").mkString(" ")}: " +
          s"oracle $want, kernel ${new String(got, UTF_8)}")
      checked += 1
    }
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // every 1- and 2-byte input
    for (a <- 0 until 256) {
      check(bytes(a))
      for (b <- 0 until 256) check(bytes(a, b))
    }
    // every 3-byte input with a non-ASCII lead and a continuation second byte
    for (a <- 0xc0 to 0xff; b <- 0x80 to 0xbf; c <- 0 until 256) check(bytes(a, b, c))
    // 4-byte leads with continuations at and around the valid band's edges
    val edges = Seq(0x00, 0x7f, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0)
    for (a <- 0xf0 to 0xf7; b <- edges; c <- edges; d <- edges) check(bytes(a, b, c, d))
    // the encoding of every scalar value, then every distinct truncation
    // of those encodings between ASCII neighbours
    val tails = scala.collection.mutable.LinkedHashSet[Seq[Byte]]()
    for (cp <- 0 to 0x10ffff if cp < 0xd800 || cp > 0xdfff) {
      val enc = new String(Character.toChars(cp)).getBytes(UTF_8)
      check(enc)
      for (k <- 1 until enc.length) tails += enc.take(k).toSeq
    }
    for (t <- tails) check(('a'.toByte +: t :+ 'b'.toByte).toArray)
    // random payloads with the ingest frame generator's size mix
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 400) {
      val u = rnd.nextDouble()
      val size =
        if (u < 0.10) 0
        else if (u < 0.45) 32 + rnd.nextInt(1024 - 32 + 1)
        else if (u < 0.90) 3072 + rnd.nextInt(5120 - 3072 + 1)
        else 8192 + rnd.nextInt(16384 - 8192 + 1)
      check(Array.fill(size)(rnd.nextInt(256).toByte))
    }
    assert(checked > 2200000L)
  }
}
