package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

/** Byte-exact port of Go's `fmt.Sprintf("%q", string(data))`
  * (strconv.Quote), the reference's quoted-string projection of a binary
  * payload (reference main.go:113, main.go:308).
  *
  * Semantics replicated:
  *  - strict UTF-8 decode (overlongs, surrogates, >U+10FFFF rejected);
  *    each invalid byte renders as `\xNN`,
  *  - `"` and `\` backslash-escaped,
  *  - Go-printable runes (Unicode L/M/N/P/S categories + ASCII space)
  *    pass through,
  *  - control shorthands \a \b \f \n \r \t \v,
  *  - other runes: `\xNN` below 0x80, `\uNNNN` below 0x10000, else
  *    `\UNNNNNNNN`.
  *
  * Printability uses the JVM's Unicode tables via Character.getType; Go
  * uses its own tables, so a handful of exotic codepoints could differ
  * between Unicode versions — ASCII and all common scripts agree.
  *
  * The column form is the codegen'd [[GoQuoteExpr]] (`go_quote` in SQL),
  * which hands [[quoteUtf8]]'s bytes straight to a `UTF8String`. The
  * kernel runs once per ingested record over payloads of a few KiB, most
  * of whose bytes are escapes on binary input, so it writes UTF-8 bytes
  * into one buffer sized for the worst case (`4 * n + 2`: every byte a
  * `\xNN`): no per-escape formatting, no intermediate String.
  */
object GoQuote {
  private final val Error = -1

  /** Decode one rune at offset i: `Error` (width 1), else
    * `codepoint << 3 | width`. */
  private def decode(b: Array[Byte], i: Int): Int = {
    val n = b.length
    val b0 = b(i) & 0xff
    @inline def cont(k: Int): Boolean = k < n && (b(k) & 0xc0) == 0x80
    @inline def cb(k: Int): Int = b(k) & 0x3f
    if (b0 < 0x80) b0 << 3 | 1
    else if (b0 < 0xc2) Error // stray continuation / overlong lead
    else if (b0 < 0xe0) {
      if (cont(i + 1)) (((b0 & 0x1f) << 6) | cb(i + 1)) << 3 | 2 else Error
    } else if (b0 < 0xf0) {
      // E0 second byte A0..BF (overlong), ED second byte 80..9F (surrogates)
      val lo = if (b0 == 0xe0) 0xa0 else 0x80
      val hi = if (b0 == 0xed) 0x9f else 0xbf
      val ok1 = i + 1 < n && { val x = b(i + 1) & 0xff; x >= lo && x <= hi }
      if (ok1 && cont(i + 2))
        (((b0 & 0x0f) << 12) | (cb(i + 1) << 6) | cb(i + 2)) << 3 | 3
      else Error
    } else if (b0 < 0xf5) {
      // F0 second byte 90..BF (overlong), F4 second byte 80..8F (>U+10FFFF)
      val lo = if (b0 == 0xf0) 0x90 else 0x80
      val hi = if (b0 == 0xf4) 0x8f else 0xbf
      val ok1 = i + 1 < n && { val x = b(i + 1) & 0xff; x >= lo && x <= hi }
      if (ok1 && cont(i + 2) && cont(i + 3))
        (((b0 & 0x07) << 18) | (cb(i + 1) << 12) | (cb(i + 2) << 6) | cb(i + 3)) << 3 | 4
      else Error
    } else Error
  }

  /** Go unicode.IsPrint: categories L, M, N, P, S plus U+0020. */
  private def printRule(r: Int): Boolean = {
    if (r == ' ') return true
    if (r < 0x20 || r == 0x7f) return false
    import Character._
    getType(r) match {
      case UPPERCASE_LETTER | LOWERCASE_LETTER | TITLECASE_LETTER |
          MODIFIER_LETTER | OTHER_LETTER | NON_SPACING_MARK |
          ENCLOSING_MARK | COMBINING_SPACING_MARK | DECIMAL_DIGIT_NUMBER |
          LETTER_NUMBER | OTHER_NUMBER | CONNECTOR_PUNCTUATION |
          DASH_PUNCTUATION | START_PUNCTUATION | END_PUNCTUATION |
          INITIAL_QUOTE_PUNCTUATION | FINAL_QUOTE_PUNCTUATION |
          OTHER_PUNCTUATION | MATH_SYMBOL | CURRENCY_SYMBOL |
          MODIFIER_SYMBOL | OTHER_SYMBOL => true
      case _ => false
    }
  }

  /** [[printRule]] over the BMP, evaluated once. */
  private val bmpPrint: Array[Boolean] = Array.tabulate(0x10000)(printRule)

  private def isPrint(r: Int): Boolean =
    if (r < 0x10000) bmpPrint(r) else printRule(r)

  private val hexDigit: Array[Byte] = "0123456789abcdef".getBytes(UTF_8)

  /** Writes `\` and `c` at `o`; returns the next write offset. */
  private def escapeChar(out: Array[Byte], o: Int, c: Char): Int = {
    out(o) = '\\'
    out(o + 1) = c.toByte
    o + 2
  }

  /** Writes `\` `tag` and the low `digits` hex digits of `v` at `o`;
    * returns the next write offset. */
  private def escapeHex(out: Array[Byte], o: Int, tag: Char, v: Int, digits: Int): Int = {
    var k = 0
    while (k < digits) {
      out(o + 1 + digits - k) = hexDigit((v >>> (4 * k)) & 0xf)
      k += 1
    }
    escapeChar(out, o, tag) + digits
  }

  /** Writes the escape of a non-printable rune at `o`; returns the next
    * write offset. */
  private def escapeRune(out: Array[Byte], o: Int, r: Int): Int = r match {
    case 0x07 => escapeChar(out, o, 'a')
    case 0x08 => escapeChar(out, o, 'b')
    case 0x0c => escapeChar(out, o, 'f')
    case 0x0a => escapeChar(out, o, 'n')
    case 0x0d => escapeChar(out, o, 'r')
    case 0x09 => escapeChar(out, o, 't')
    case 0x0b => escapeChar(out, o, 'v')
    case _ =>
      if (r < 0x80) escapeHex(out, o, 'x', r, 2)
      else if (r < 0x10000) escapeHex(out, o, 'u', r, 4)
      else escapeHex(out, o, 'U', r, 8)
  }

  /** The Go-%q rendering of `data`, as UTF-8 bytes. */
  def quoteUtf8(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    val out = new Array[Byte](4 * n + 2)
    out(0) = '"'
    var o = 1
    var i = 0
    while (i < n) {
      val b0 = data(i) & 0xff
      if (b0 >= 0x20 && b0 < 0x7f) { // printable ASCII
        if (b0 == '"' || b0 == '\\') o = escapeChar(out, o, b0.toChar)
        else { out(o) = b0.toByte; o += 1 }
        i += 1
      } else {
        val d = decode(data, i)
        if (d == Error) {
          o = escapeHex(out, o, 'x', b0, 2)
          i += 1
        } else {
          val r = d >>> 3
          val w = d & 7
          if (w > 1 && isPrint(r)) { // valid runes are copied as their source bytes
            System.arraycopy(data, i, out, o, w)
            o += w
          } else o = escapeRune(out, o, r)
          i += w
        }
      }
    }
    out(o) = '"'
    java.util.Arrays.copyOf(out, o + 1)
  }

  /** String form of [[quoteUtf8]]. */
  def quote(data: Array[Byte]): String = new String(quoteUtf8(data), UTF_8)
}
