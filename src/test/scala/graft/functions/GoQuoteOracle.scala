package graft.functions

/** Test oracle for [[GoQuote]]: the straightforward String-building form
  * of Go's strconv.Quote (strict UTF-8 decode, then one `StringBuilder`
  * append or `f"..."` escape per rune). Slow on binary input, written to
  * be read, and the reference the byte kernel is compared against. */
object GoQuoteOracle {
  private final val Error = -1

  /** Decode one rune at offset i; returns (codepoint | Error, width). */
  private def decode(b: Array[Byte], i: Int): (Int, Int) = {
    val n = b.length
    val b0 = b(i) & 0xff
    @inline def cont(k: Int): Boolean = k < n && (b(k) & 0xc0) == 0x80
    @inline def cb(k: Int): Int = b(k) & 0x3f
    if (b0 < 0x80) (b0, 1)
    else if (b0 < 0xc2) (Error, 1) // stray continuation / overlong lead
    else if (b0 < 0xe0) {
      if (cont(i + 1)) (((b0 & 0x1f) << 6) | cb(i + 1), 2) else (Error, 1)
    } else if (b0 < 0xf0) {
      // E0 second byte A0..BF (overlong), ED second byte 80..9F (surrogates)
      val lo = if (b0 == 0xe0) 0xa0 else 0x80
      val hi = if (b0 == 0xed) 0x9f else 0xbf
      val ok1 = i + 1 < n && { val x = b(i + 1) & 0xff; x >= lo && x <= hi }
      if (ok1 && cont(i + 2))
        (((b0 & 0x0f) << 12) | (cb(i + 1) << 6) | cb(i + 2), 3)
      else (Error, 1)
    } else if (b0 < 0xf5) {
      // F0 second byte 90..BF (overlong), F4 second byte 80..8F (>U+10FFFF)
      val lo = if (b0 == 0xf0) 0x90 else 0x80
      val hi = if (b0 == 0xf4) 0x8f else 0xbf
      val ok1 = i + 1 < n && { val x = b(i + 1) & 0xff; x >= lo && x <= hi }
      if (ok1 && cont(i + 2) && cont(i + 3))
        (((b0 & 0x07) << 18) | (cb(i + 1) << 12) | (cb(i + 2) << 6) | cb(i + 3), 4)
      else (Error, 1)
    } else (Error, 1)
  }

  /** Go unicode.IsPrint: categories L, M, N, P, S plus U+0020. */
  private def isPrint(r: Int): Boolean = {
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

  def quote(data: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(data.length + 8)
    sb.append('"')
    var i = 0
    while (i < data.length) {
      val (r, w) = decode(data, i)
      if (r == Error) sb.append(f"\\x${data(i) & 0xff}%02x")
      else if (r == '"') sb.append("\\\"")
      else if (r == '\\') sb.append("\\\\")
      else if (isPrint(r)) sb.appendCodePoint(r)
      else r match {
        case 0x07 => sb.append("\\a")
        case 0x08 => sb.append("\\b")
        case 0x0c => sb.append("\\f")
        case 0x0a => sb.append("\\n")
        case 0x0d => sb.append("\\r")
        case 0x09 => sb.append("\\t")
        case 0x0b => sb.append("\\v")
        case _ =>
          if (r < 0x80) sb.append(f"\\x$r%02x")
          else if (r < 0x10000) sb.append(f"\\u$r%04x")
          else sb.append(f"\\U$r%08x")
      }
      i += w
    }
    sb.append('"')
    sb.toString
  }
}
