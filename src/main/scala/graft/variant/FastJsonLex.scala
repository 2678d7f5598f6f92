package graft.variant

/** Shared byte-level JSON lexing core for the fast paths in
  * [[VariantJsonCodec]] (json→variant encode) and the one fused walk
  * over `variant_from_json` (`JsonFused.walk`: navigate a path, hand the
  * value to one consumer of `JsonPathExtract`'s table — cast, keys,
  * size, typeof or schema — then close out and validate the rest).
  * [[scalar]] is the one rule for how a JSON scalar becomes a variant
  * scalar: the encode writes it into the row, the fused consumers into
  * a scratch buffer that the variant reader then reads.
  * Everything here follows one contract: accept a strict SUBSET of what
  * Jackson's default feature set accepts, and throw the stackless
  * [[FastJsonLex.Miss]] on ANYTHING doubtful — the caller then re-runs
  * the row through its fallback (the codec's Jackson walk; for a fused
  * expression, the unfused pipeline it replaced), which owns all error
  * semantics. In particular the lex must never accept what Jackson
  * rejects (it validates UTF-8, escape letters, number grammar, and raw
  * control chars even when merely SKIPPING a value).
  */
private[graft] object FastJsonLex {

  /** Stackless control-flow signal: "this row is not fast-path simple". */
  object Miss extends RuntimeException(null, null, false, false)

  final class Cursor(val b: Array[Byte], var i: Int, val end: Int) {
    /** Scratch slot for scanNumber's digit-start (avoids a result box). */
    var numStart: Int = 0
    /** Scratch slot for [[integer]]'s long result. */
    var longValue: Long = 0L

    def skipWs(): Unit = {
      while (i < end && {
        val c = b(i)
        c == ' ' || c == '\n' || c == '\t' || c == '\r'
      }) i += 1
    }
    def peek: Byte = { if (i >= end) throw Miss; b(i) }
    def expect(c: Int): Unit = { if (i >= end || (b(i) & 0xff) != c) throw Miss; i += 1 }
  }

  /** Scan a string body starting AFTER the opening quote; returns the
    * index of the closing quote if the string is escape-free (validating
    * UTF-8 and rejecting raw control chars on the way), or -1 the moment
    * a backslash is seen (cursor unmoved; caller takes an escape-aware
    * routine). */
  def scanSimpleString(c: Cursor): Int = {
    val b = c.b
    var j = c.i
    while (j < c.end) {
      val x = b(j) & 0xff
      if (x == '"') {
        if (j - c.i > MAX_STRING_LEN) throw Miss // Jackson's 20M-char cap governs
        return j
      }
      else if (x == '\\') return -1
      else if (x < 0x20) throw Miss // raw control char: Jackson rejects
      else if (x < 0x80) j += 1
      else j = validUtf8(b, j, c.end)
    }
    throw Miss // unterminated
  }

  /** Validate one multibyte UTF-8 sequence at `j`; returns the index
    * after it. Rejects overlongs, surrogates, out-of-range, truncation. */
  def validUtf8(b: Array[Byte], j: Int, end: Int): Int = {
    val x = b(j) & 0xff
    @inline def cont(k: Int, lo: Int, hi: Int): Boolean =
      k < end && { val y = b(k) & 0xff; y >= lo && y <= hi }
    if (x >= 0xc2 && x <= 0xdf) {
      if (!cont(j + 1, 0x80, 0xbf)) throw Miss; j + 2
    } else if (x == 0xe0) {
      if (!cont(j + 1, 0xa0, 0xbf) || !cont(j + 2, 0x80, 0xbf)) throw Miss; j + 3
    } else if (x == 0xed) {
      if (!cont(j + 1, 0x80, 0x9f) || !cont(j + 2, 0x80, 0xbf)) throw Miss; j + 3
    } else if (x >= 0xe1 && x <= 0xef) { // e1-ec, ee, ef
      if (!cont(j + 1, 0x80, 0xbf) || !cont(j + 2, 0x80, 0xbf)) throw Miss; j + 3
    } else if (x == 0xf0) {
      if (!cont(j + 1, 0x90, 0xbf) || !cont(j + 2, 0x80, 0xbf) ||
        !cont(j + 3, 0x80, 0xbf)) throw Miss
      j + 4
    } else if (x >= 0xf1 && x <= 0xf3) {
      if (!cont(j + 1, 0x80, 0xbf) || !cont(j + 2, 0x80, 0xbf) ||
        !cont(j + 3, 0x80, 0xbf)) throw Miss
      j + 4
    } else if (x == 0xf4) {
      if (!cont(j + 1, 0x80, 0x8f) || !cont(j + 2, 0x80, 0xbf) ||
        !cont(j + 3, 0x80, 0xbf)) throw Miss
      j + 4
    } else throw Miss // 0x80-0xc1 (bare continuation / overlong), 0xf5+
  }

  /** Unescape a string body (cursor AFTER the opening quote) into
    * `scratch` as UTF-8; leaves the cursor AFTER the closing quote.
    * Lone surrogates miss (Jackson's lenient substitution owns them). */
  private def unescapeString(c: Cursor, scratch: ByteBuf): Unit = {
    val b = c.b
    val start0 = c.i
    var run = c.i
    while (true) {
      if (c.i >= c.end) throw Miss
      val x = b(c.i) & 0xff
      if (x == '"') {
        if (c.i - start0 > MAX_STRING_LEN) throw Miss // source bytes ≥ decoded chars: conservative vs Jackson's cap
        scratch.addBytes(b, run, c.i - run)
        c.i += 1
        return
      } else if (x == '\\') {
        scratch.addBytes(b, run, c.i - run)
        if (c.i + 1 >= c.end) throw Miss
        (b(c.i + 1) & 0xff) match {
          case '"' => scratch.addByte('"'); c.i += 2
          case '\\' => scratch.addByte('\\'); c.i += 2
          case '/' => scratch.addByte('/'); c.i += 2
          case 'b' => scratch.addByte('\b'); c.i += 2
          case 'f' => scratch.addByte('\f'); c.i += 2
          case 'n' => scratch.addByte('\n'); c.i += 2
          case 'r' => scratch.addByte('\r'); c.i += 2
          case 't' => scratch.addByte('\t'); c.i += 2
          case 'u' =>
            val cp0 = hex4(b, c.i + 2, c.end)
            c.i += 6
            var cp = cp0
            if (cp0 >= 0xd800 && cp0 <= 0xdbff) {
              if (c.i + 1 >= c.end || b(c.i) != '\\' || b(c.i + 1) != 'u') throw Miss
              val lo = hex4(b, c.i + 2, c.end)
              if (lo < 0xdc00 || lo > 0xdfff) throw Miss
              c.i += 6
              cp = 0x10000 + ((cp0 - 0xd800) << 10) + (lo - 0xdc00)
            } else if (cp0 >= 0xdc00 && cp0 <= 0xdfff) throw Miss
            writeCodePoint(scratch, cp)
          case _ => throw Miss
        }
        run = c.i
      } else if (x < 0x20) throw Miss
      else if (x < 0x80) c.i += 1
      else c.i = validUtf8(b, c.i, c.end)
    }
  }

  /** Skip a string body (cursor AFTER the opening quote) without
    * materializing it, with the SAME validation Jackson applies while
    * tokenizing: escape letters, \\u hex digits, UTF-8, control chars.
    * (Surrogate pairing of skipped \\u escapes is NOT enforced — Jackson
    * is lenient there on both read and skip.) */
  def skipString(c: Cursor): Unit = {
    val b = c.b
    val start0 = c.i
    while (true) {
      if (c.i >= c.end) throw Miss
      val x = b(c.i) & 0xff
      if (x == '"') {
        if (c.i - start0 > MAX_STRING_LEN) throw Miss // Jackson's cap governs (source bytes ≥ chars)
        c.i += 1; return
      }
      else if (x == '\\') {
        if (c.i + 1 >= c.end) throw Miss
        (b(c.i + 1) & 0xff) match {
          case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => c.i += 2
          case 'u' => hex4(b, c.i + 2, c.end); c.i += 6
          case _ => throw Miss
        }
      } else if (x < 0x20) throw Miss
      else if (x < 0x80) c.i += 1
      else c.i = validUtf8(b, c.i, c.end)
    }
  }

  def hex4(b: Array[Byte], j: Int, end: Int): Int = {
    if (j + 4 > end) throw Miss
    var v = 0
    var k = j
    while (k < j + 4) {
      val c = b(k) & 0xff
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else throw Miss
      v = (v << 4) | d
      k += 1
    }
    v
  }

  def writeCodePoint(out: ByteBuf, cp: Int): Unit = {
    if (cp < 0x80) out.addByte(cp)
    else if (cp < 0x800) {
      out.addByte(0xc0 | (cp >> 6)); out.addByte(0x80 | (cp & 0x3f))
    } else if (cp < 0x10000) {
      out.addByte(0xe0 | (cp >> 12)); out.addByte(0x80 | ((cp >> 6) & 0x3f))
      out.addByte(0x80 | (cp & 0x3f))
    } else {
      out.addByte(0xf0 | (cp >> 18)); out.addByte(0x80 | ((cp >> 12) & 0x3f))
      out.addByte(0x80 | ((cp >> 6) & 0x3f)); out.addByte(0x80 | (cp & 0x3f))
    }
  }

  /** Validate and consume one JSON number. Returns true iff it is an
    * integer (no '.'/exponent); `c.numStart` is left at the first DIGIT
    * (after any '-'). Grammar: '-'? ('0'|[1-9][0-9]*) ('.'[0-9]+)?
    * ([eE][+-]?[0-9]+)? — leading zeros and bare '.'/'e' miss, exactly
    * what Jackson rejects. */
  def scanNumber(c: Cursor): Boolean = {
    val b = c.b
    val tokStart = c.i
    if (c.peek == '-') c.i += 1
    if (c.i >= c.end) throw Miss
    c.numStart = c.i
    if (b(c.i) == '0') c.i += 1
    else if (b(c.i) >= '1' && b(c.i) <= '9') {
      while (c.i < c.end && b(c.i) >= '0' && b(c.i) <= '9') c.i += 1
    } else throw Miss
    var isInt = true
    if (c.i < c.end && b(c.i) == '.') {
      isInt = false
      c.i += 1
      val fs = c.i
      while (c.i < c.end && b(c.i) >= '0' && b(c.i) <= '9') c.i += 1
      if (c.i == fs) throw Miss
    }
    if (c.i < c.end && (b(c.i) == 'e' || b(c.i) == 'E')) {
      isInt = false
      c.i += 1
      if (c.i < c.end && (b(c.i) == '+' || b(c.i) == '-')) c.i += 1
      val es = c.i
      while (c.i < c.end && b(c.i) >= '0' && b(c.i) <= '9') c.i += 1
      if (c.i == es) throw Miss
    }
    if (c.i - tokStart > MAX_NUM_LEN) throw Miss // Jackson's 1000-char number cap governs
    isInt
  }

  /** Jackson's rule for the integer literal [[scanNumber]] just consumed
    * (`start` = its first byte, sign included): a value that fits 63 bits
    * lands in `c.longValue` and the result is null; one that fits 127 bits
    * is returned (a scale-0 decimal in the variant); a wider one misses,
    * so the fallback raises the unfused pipeline's i128 error. Literals
    * of at most 18 digits always fit a long and never allocate. */
  def integer(c: Cursor, start: Int): java.math.BigInteger = {
    val b = c.b
    if (c.i - c.numStart <= 18) {
      var v = 0L
      var k = c.numStart
      while (k < c.i) { v = v * 10 + (b(k) - '0'); k += 1 }
      c.longValue = if (start < c.numStart) -v else v
      null
    } else {
      val bi = new java.math.BigInteger(
        new String(b, start, c.i - start, java.nio.charset.StandardCharsets.US_ASCII))
      if (bi.bitLength() <= 63) { c.longValue = bi.longValue(); null }
      else if (bi.bitLength() < 128) bi
      else throw Miss
    }
  }

  /** Write the JSON scalar at the cursor to `out` as a variant scalar,
    * with the reference's coercions (json.rs:202-246): an escape-free
    * string as a copy of its bytes, an integer by [[integer]]'s rule (a
    * long, else Decimal16 scale 0; 2^127 and beyond miss), any other
    * number as a double parsed exactly as Jackson does. A container
    * misses. */
  def scalar(c: Cursor, out: ByteBuf): Unit = (c.peek & 0xff) match {
    case 'n' => literal(c, "null"); VariantWriter.writeNull(out)
    case 't' => literal(c, "true"); VariantWriter.writeBoolean(out, true)
    case 'f' => literal(c, "false"); VariantWriter.writeBoolean(out, false)
    case '"' =>
      c.i += 1
      val close = scanSimpleString(c)
      if (close >= 0) {
        VariantWriter.writeStringSlice(out, c.b, c.i, close - c.i)
        c.i = close + 1
      } else {
        val text = new ByteBuf(32)
        unescapeString(c, text)
        VariantWriter.writeStringSlice(out, text.rawBytes, 0, text.length)
      }
    case x if x == '-' || (x >= '0' && x <= '9') =>
      val start = c.i
      if (scanNumber(c)) {
        val big = integer(c, start)
        if (big == null) VariantWriter.writeLong(out, c.longValue)
        else VariantWriter.writeDecimal(out, big, 0)
      } else VariantWriter.writeDouble(out, java.lang.Double.parseDouble(
        new String(c.b, start, c.i - start, java.nio.charset.StandardCharsets.US_ASCII)))
    case _ => throw Miss
  }

  def literal(c: Cursor, lit: String): Unit = {
    if (c.i + lit.length > c.end) throw Miss
    var k = 0
    while (k < lit.length) {
      if (c.b(c.i + k) != lit.charAt(k)) throw Miss
      k += 1
    }
    c.i += lit.length
  }

  /** Byte-compare a slice of the input against a stored UTF-8 key. */
  @inline def sliceEq(b: Array[Byte], off: Int, len: Int, key: Array[Byte]): Boolean = {
    if (key.length != len) return false
    var k = 0
    while (k < len) {
      if (b(off + k) != key(k)) return false
      k += 1
    }
    true
  }

  /** Skip (and fully validate) one JSON value of any shape. Depth-bounded
    * like the encoding walks. */
  def skipValue(c: Cursor, depth: Int = 0): Unit = {
    (c.peek & 0xff) match {
      case 'n' => literal(c, "null")
      case 't' => literal(c, "true")
      case 'f' => literal(c, "false")
      case '"' => c.i += 1; skipString(c)
      case '[' | '{' => members(c, depth, null)
      case x if x == '-' || (x >= '0' && x <= '9') =>
        // even SKIPPED integers carry the unfused pipeline's i128 bound:
        // ≤38 digits always fit i128; longer ones take [[integer]]'s rule
        val start = c.i
        if (scanNumber(c) && c.i - c.numStart > 38) integer(c, start)
      case _ => throw Miss
    }
  }

  /** Skip an object KEY string (cursor AFTER the opening quote),
    * enforcing Jackson's max-name-length constraint on top of
    * [[skipString]]'s validation. Source bytes ≥ decoded chars, so the
    * byte-length check is conservative: anything it passes, Jackson's
    * char-count check also passes. */
  def skipName(c: Cursor): Unit = {
    val start0 = c.i
    skipString(c)
    if (c.i - 1 - start0 > MAX_NAME_LEN) throw Miss
  }

  /** Nesting bound mirroring Jackson's default StreamReadConstraints max
    * depth (1000): deeper rows miss, Jackson's error is the behavior. */
  final val MAX_DEPTH = 1000

  /** The one nesting rule every byte walk applies where it opens a `[`
    * or `{`: `depth` counts the containers already open around it, and
    * a container that takes the nesting past [[MAX_DEPTH]] misses —
    * Jackson checks at the same point, so an empty innermost container
    * counts like any other. */
  @inline def openContainer(depth: Int): Unit = if (depth >= MAX_DEPTH) throw Miss

  /** A member visitor for [[members]] (a SAM type, so its Int
    * arguments are not boxed per call). */
  trait Visit { def apply(index: Int, keyOff: Int, keyLen: Int): Boolean }

  /** Walk the members of the object or array at the cursor, `depth`
    * containers around it, and return their count. `visit(index, keyOff,
    * keyLen)` sees each member with the cursor on its value (an element
    * has no key: −1, −1) and either consumes the value and returns false,
    * or returns true to stop there with the container still open; then
    * the result is −1. With no `visit` each value is skipped; with one,
    * an escaped key misses.
    */
  def members(c: Cursor, depth: Int, visit: Visit): Int = {
    val close = if ((c.peek & 0xff) == '{') '}' else ']'
    openContainer(depth)
    c.i += 1
    c.skipWs()
    var n = 0
    var more = !(c.i < c.end && c.b(c.i) == close)
    if (!more) c.i += 1
    while (more) {
      c.skipWs()
      var kOff, kLen = -1
      if (close == '}') {
        c.expect('"')
        if (visit == null) skipName(c) // no visitor reads the key: escapes are fine
        else {
          val end = scanSimpleString(c)
          if (end < 0) throw Miss // escaped key: the unfused plan
          kOff = c.i
          kLen = end - c.i
          if (kLen > MAX_NAME_LEN) throw Miss // escape-free: bytes == chars
          c.i = end + 1
        }
        c.skipWs(); c.expect(':'); c.skipWs()
      }
      if (visit == null) skipValue(c, depth + 1)
      else if (visit(n, kOff, kLen)) return -1
      n += 1
      c.skipWs()
      (c.peek & 0xff) match {
        case ',' => c.i += 1
        case x if x == close => c.i += 1; more = false
        case _ => throw Miss
      }
    }
    n
  }

  /** Jackson 2.x default StreamReadConstraints, mirrored so the fast
    * path never accepts a document the Jackson fallback would reject:
    * max number literal length 1000, max field-name length 50k, max
    * string value length 20M (chars there; enforced on SOURCE bytes here,
    * which only over-rejects — over-rejection routes to Jackson via Miss
    * and keeps its error semantics). */
  final val MAX_NUM_LEN = 1000
  final val MAX_NAME_LEN = 50000
  final val MAX_STRING_LEN = 20000000
}
