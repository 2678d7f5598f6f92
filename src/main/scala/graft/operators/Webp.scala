package graft.operators

/** Lossless WebP (VP8L) codec in pure byte/bit arithmetic — zero codec
  * dependencies; the round-8 sibling of [[Jpeg]] and the PNG/BMP/WAV
  * decoders in [[Multimodal]]. Follows the public "WebP Lossless
  * Bitstream Specification" (RIFF container, LSB-first bit packing,
  * canonical prefix codes, green/red/blue/alpha/distance code quintet,
  * color cache, LZ77 backward references).
  *
  * Scope (round 11+): the DECODER covers the COMPLETE VP8L still
  * format — all four pixel transforms (predictor with its 14 spatial
  * modes, cross-color, subtract-green, color-indexing with pixel
  * bundling), meta prefix groups, color cache, every prefix-code form
  * (simple 1-2-symbol, full normal with 16/17/18 RLE), and LZ77 with
  * both direct and the 120 neighbor-mapped short distance codes —
  * verified bit-exactly against real libwebp encoder output
  * (Vp8RealStreamSpec). The ENCODER emits a minimal legal stream: no
  * transforms, no LZ77, fixed complete length-8/9 literal codes,
  * 1-symbol codes for the constant alpha and the unused distance
  * alphabet. Lossless: decode(encode(x)) == x bit-exactly for EVERY
  * image — the `mm_webp_decode` oracle contract (no exactness corner
  * needed, unlike JPEG).
  */
object Webp {
  /** Decoded image: pixels top-down row-major 0xRRGGBB (alpha dropped;
    * encoder writes alpha = 255).
    */
  case class WebpImage(width: Int, height: Int, pixels: Array[Int])

  // ---------------------------------------------------------------
  // LSB-first bit IO (VP8L convention, unlike JPEG's MSB-first)
  // ---------------------------------------------------------------

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream(1024)
    private var acc = 0L
    private var nBits = 0
    /** Write `len` bits of `v`, LSB first. */
    def writeBits(v: Int, len: Int): Unit = {
      acc |= (v.toLong & ((1L << len) - 1)) << nBits
      nBits += len
      while (nBits >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; nBits -= 8 }
    }
    /** Write a prefix CODE: its bits MSB-first into the LSB-first stream
      * (the decoder reads bit-by-bit, appending at the LSB of the code).
      * Equivalent to writing the bit-reversed code in one writeBits call.
      */
    def writeCode(code: Int, len: Int): Unit = {
      var rev = 0
      var c = code
      var i = 0
      while (i < len) { rev = (rev << 1) | (c & 1); c >>= 1; i += 1 }
      writeBits(rev, len)
    }
    def toBytes: Array[Byte] = {
      if (nBits > 0) { out.write((acc & 0xff).toInt); acc = 0; nBits = 0 }
      out.toByteArray
    }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int, val end: Int) {
    private var acc = 0L
    private var nBits = 0
    def readBits(len: Int): Int = {
      while (nBits < len) {
        if (pos >= end) throw new IllegalArgumentException("webp: truncated bitstream")
        acc |= (bytes(pos) & 0xffL) << nBits
        pos += 1; nBits += 8
      }
      val v = (acc & ((1L << len) - 1)).toInt
      acc >>>= len; nBits -= len
      v
    }
  }

  // ---------------------------------------------------------------
  // Canonical prefix codes (deflate-style: codes increase with
  // (length, symbol); read MSB-of-code first)
  // ---------------------------------------------------------------

  /** codes+lengths per symbol from a lengths array (0 = absent). */
  private def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val maxLen = lengths.max
    val codes = new Array[Int](lengths.length)
    if (maxLen == 0) return codes
    val blCount = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) blCount(l) += 1)
    val nextCode = new Array[Int](maxLen + 2)
    var code = 0
    var l = 1
    while (l <= maxLen) { code = (code + blCount(l - 1)) << 1; nextCode(l) = code; l += 1 }
    var s = 0
    while (s < lengths.length) {
      if (lengths(s) > 0) { codes(s) = nextCode(lengths(s)); nextCode(lengths(s)) += 1 }
      s += 1
    }
    codes
  }

  /** Prefix decoder over a lengths array; single-symbol codes cost 0
    * bits (the VP8L trivial-code rule). Canonical min/max/valPtr
    * arithmetic per length — O(1) per consumed bit, no allocation.
    */
  private final class PrefixDecoder(lengths: Array[Int]) {
    private var nPresent = 0
    private var singleSym = -1
    private var maxLen = 0
    locally {
      var s = 0
      while (s < lengths.length) {
        if (lengths(s) > 0) {
          nPresent += 1; singleSym = s
          if (lengths(s) > maxLen) maxLen = lengths(s)
        }
        s += 1
      }
      require(nPresent > 0, "webp: empty prefix code")
      if (nPresent > 1) singleSym = -1
    }
    private val minCode = new Array[Int](maxLen + 1)
    private val maxCode = new Array[Int](maxLen + 1)
    private val valPtr = new Array[Int](maxLen + 1)
    private val sorted = new Array[Int](nPresent) // symbols by (len, symbol)
    locally {
      if (singleSym < 0) {
        val blCount = new Array[Int](maxLen + 1)
        lengths.foreach(l => if (l > 0) blCount(l) += 1)
        var code = 0
        var k = 0
        var l = 1
        while (l <= maxLen) {
          if (blCount(l) == 0) { maxCode(l) = -1 }
          else {
            valPtr(l) = k
            minCode(l) = code
            code += blCount(l); k += blCount(l)
            maxCode(l) = code - 1
          }
          code <<= 1
          l += 1
        }
        var i = 0
        var s = 0
        val next = valPtr.clone()
        while (s < lengths.length) {
          if (lengths(s) > 0) { sorted(next(lengths(s))) = s; next(lengths(s)) += 1; i += 1 }
          s += 1
        }
      }
    }
    def decode(br: BitReader): Int = {
      if (singleSym >= 0) return singleSym
      var code = br.readBits(1)
      var len = 1
      while (maxCode(len) < 0 || code > maxCode(len)) {
        if (len >= maxLen) throw new IllegalArgumentException("webp: invalid prefix code")
        code = (code << 1) | br.readBits(1)
        len += 1
      }
      sorted(valPtr(len) + code - minCode(len))
    }
  }

  /** kCodeLengthCodeOrder (VP8L spec). */
  private val ClcOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  // ---------------------------------------------------------------
  // Encoder
  // ---------------------------------------------------------------

  /** Fixed complete code for the green alphabet (256 literals + 24
    * length prefixes, no cache): symbols 0..231 get 8 bits, 232..279
    * get 9 bits (232/256 + 48/512 = 1 — exactly complete).
    */
  private val GreenLengths: Array[Int] =
    Array.tabulate(280)(s => if (s < 232) 8 else 9)
  private val GreenCodes: Array[Int] = canonicalCodes(GreenLengths)
  /** All-256-at-8-bits code for red/blue (256/256 = complete). */
  private val ByteLengths: Array[Int] = Array.fill(256)(8)
  private val ByteCodes: Array[Int] = canonicalCodes(ByteLengths)

  /** Write one normal (non-simple) code whose lengths use at most the
    * two values 8 and 9: code-length code gives 8→"0" and 9→"1" (or a
    * 0-bit single-symbol code when only 8 occurs).
    */
  private def writeCodeLengths(bw: BitWriter, lengths: Array[Int]): Unit = {
    val has9 = lengths.exists(_ == 9)
    bw.writeBits(0, 1) // not simple
    // cl-code lengths in ClcOrder; symbol 8 at index 13, 9 at index 14
    val num = if (has9) 15 else 14
    bw.writeBits(num - 4, 4)
    var i = 0
    while (i < num) {
      val clLen = ClcOrder(i) match {
        case 8 => 1
        case 9 => if (has9) 1 else 0
        case _ => 0
      }
      bw.writeBits(clLen, 3)
      i += 1
    }
    bw.writeBits(0, 1) // no max_symbol shortcut
    if (has9) {
      // canonical over {8→0, 9→1}, 1 bit per symbol
      lengths.foreach(l => bw.writeBits(if (l == 9) 1 else 0, 1))
    } // else single-symbol cl-code: 0 bits per length, nothing to write
  }

  /** Write a simple 1-symbol code (0 bits per decoded symbol). */
  private def writeSingleSymbol(bw: BitWriter, sym: Int): Unit = {
    bw.writeBits(1, 1) // simple
    bw.writeBits(0, 1) // num symbols - 1 = 0
    if (sym < 2) { bw.writeBits(0, 1); bw.writeBits(sym, 1) }
    else { bw.writeBits(1, 1); bw.writeBits(sym, 8) }
  }

  /** Encode an RGB image as lossless WebP (VP8L), alpha = 255.
    * Constant-color images take 1-symbol simple codes for every
    * alphabet — 0 bits per pixel, the format's minimal legal encoding
    * of a flat image (a production encoder would reach for LZ77; the
    * 1-symbol form is smaller still and exercises the decoder's
    * trivial-code rule).
    */
  def encodeWebpLossless(width: Int, height: Int, px: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 16384 && height <= 16384)
    val pixels = new Array[Int](width * height)
    var constant = true
    locally {
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val p = px(x, y) & 0xffffff
          pixels(y * width + x) = p
          if (p != pixels(0)) constant = false
          x += 1
        }
        y += 1
      }
    }
    val bw = new BitWriter
    bw.writeBits(width - 1, 14)
    bw.writeBits(height - 1, 14)
    bw.writeBits(0, 1) // no alpha hint
    bw.writeBits(0, 3) // version 0
    bw.writeBits(0, 1) // no transforms
    bw.writeBits(0, 1) // no color cache
    bw.writeBits(0, 1) // no meta prefix image
    if (constant) {
      val p0 = pixels(0)
      writeSingleSymbol(bw, (p0 >> 8) & 0xff) // green
      writeSingleSymbol(bw, (p0 >> 16) & 0xff) // red
      writeSingleSymbol(bw, p0 & 0xff) // blue
      writeSingleSymbol(bw, 255) // alpha
      writeSingleSymbol(bw, 0) // distance
      // every per-pixel symbol is a 0-bit trivial code: no scan bits
    } else {
      writeCodeLengths(bw, GreenLengths) // green+length alphabet
      writeCodeLengths(bw, ByteLengths) // red
      writeCodeLengths(bw, ByteLengths) // blue
      writeSingleSymbol(bw, 255) // alpha: constant 255, 0 bits/pixel
      writeSingleSymbol(bw, 0) // distance: unused (no LZ77)
      var i = 0
      val n = width * height
      while (i < n) {
        val p = pixels(i)
        val g = (p >> 8) & 0xff
        bw.writeCode(GreenCodes(g), GreenLengths(g))
        bw.writeCode(ByteCodes((p >> 16) & 0xff), 8)
        bw.writeCode(ByteCodes(p & 0xff), 8)
        i += 1
      }
    }
    val payload = bw.toBytes
    // RIFF container: VP8L chunk = signature byte + bitstream
    val vp8l = 1 + payload.length
    val padded = vp8l + (vp8l & 1)
    val riffSize = 4 + 8 + padded // "WEBP" + VP8L header + padded chunk
    val out = new Array[Byte](8 + riffSize)
    def put4(off: Int, s: String): Unit = (0 until 4).foreach(i => out(off + i) = s(i).toByte)
    def putU32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    put4(0, "RIFF"); putU32(4, riffSize); put4(8, "WEBP")
    put4(12, "VP8L"); putU32(16, vp8l)
    out(20) = 0x2f // VP8L signature
    System.arraycopy(payload, 0, out, 21, payload.length)
    out
  }

  // ---------------------------------------------------------------
  // Decoder
  // ---------------------------------------------------------------

  private def readPrefixCode(br: BitReader, alphabet: Int): PrefixDecoder = {
    if (br.readBits(1) == 1) { // simple code: 1 or 2 symbols
      val nSym = br.readBits(1) + 1
      val first8 = br.readBits(1)
      val sym0 = if (first8 == 1) br.readBits(8) else br.readBits(1)
      val lengths = new Array[Int](alphabet)
      require(sym0 < alphabet, "webp: simple-code symbol out of range")
      if (nSym == 1) { lengths(sym0) = 1; return new PrefixDecoder(lengths) }
      val sym1 = br.readBits(8)
      require(sym1 < alphabet, "webp: simple-code symbol out of range")
      lengths(sym0) = 1; lengths(sym1) = 1
      return new PrefixDecoder(lengths)
    }
    // normal code: code-length code first
    val numClc = br.readBits(4) + 4
    require(numClc <= ClcOrder.length, "webp: bad code-length-code count")
    val clLengths = new Array[Int](19)
    var i = 0
    while (i < numClc) { clLengths(ClcOrder(i)) = br.readBits(3); i += 1 }
    val clDec = new PrefixDecoder(clLengths)
    // optional max_symbol shortcut
    var maxSymbol = alphabet
    if (br.readBits(1) == 1) {
      val nbits = 2 + 2 * br.readBits(3)
      maxSymbol = 2 + br.readBits(nbits)
      require(maxSymbol <= alphabet, "webp: max_symbol out of range")
    }
    val lengths = new Array[Int](alphabet)
    var sym = 0
    var prev = 8
    while (sym < alphabet && maxSymbol > 0) {
      maxSymbol -= 1
      val cl = clDec.decode(br)
      cl match {
        case c if c < 16 =>
          lengths(sym) = c; sym += 1
          if (c != 0) prev = c
        case 16 =>
          val n = 3 + br.readBits(2)
          var j = 0
          while (j < n && sym < alphabet) { lengths(sym) = prev; sym += 1; j += 1 }
        case 17 =>
          sym += 3 + br.readBits(3)
        case 18 =>
          sym += 11 + br.readBits(7)
      }
    }
    require(sym <= alphabet, "webp: code lengths overflow alphabet")
    new PrefixDecoder(lengths)
  }

  private def lz77Value(code: Int, br: BitReader): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      ((2 + (code & 1)) << extra) + br.readBits(extra) + 1
    }

  /** Decode a lossless WebP (VP8L) stream within the documented scope. */
  def decodeWebpLossless(bytes: Array[Byte]): WebpImage =
    try decodeWebp0(bytes)
    catch {
      case _: ArrayIndexOutOfBoundsException =>
        throw new IllegalArgumentException("webp: truncated stream")
    }

  /** Decode any still WebP: VP8L chunks through the lossless path,
    * lossy VP8 key frames through [[Vp8]] (bit-exact RFC 6386 YUV
    * reconstruction + the shared BT.601 fixed-point RGB conversion),
    * and extended (VP8X) stills with an ALPH alpha sidecar — the alpha
    * plane lands in bits 24-31 of the packed pixels. Raw and
    * VP8L-compressed alpha payloads (including transform-compressed
    * streams) are decoded, with all four inverse row filters. */
  def decodeWebp(bytes: Array[Byte]): WebpImage = {
    require(bytes.length >= 16, "webp: too short")
    def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    def u32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    require(tag(0) == "RIFF" && tag(8) == "WEBP", "webp: not a RIFF/WEBP file")
    var off = 12
    var alph: Option[(Int, Int)] = None // (offset, len) of ALPH payload
    while (off + 8 <= bytes.length) {
      val t = tag(off)
      val len = u32(off + 4)
      require(len >= 0 && off + 8 + len <= bytes.length,
        s"webp: chunk '$t' overruns the container")
      t match {
        case "VP8 " =>
          val img = Vp8.decodeWebpLossy(bytes)
          val rgb = img.toRgb
          alph.foreach { case (ao, al) =>
            val a = decodeAlpha(bytes, ao, al, img.width, img.height)
            var i = 0
            while (i < rgb.length) { rgb(i) |= a(i) << 24; i += 1 }
          }
          return WebpImage(img.width, img.height, rgb)
        case "VP8L" =>
          // decode at THIS walk's offset — a VP8L chunk inside a VP8X
          // extended container (e.g. lossless + EXIF/ICC) must not be
          // re-located by the lossless-only walk, which rejects VP8X
          return (try decodeVp8lChunk(bytes, off + 8, len)
            catch {
              case _: ArrayIndexOutOfBoundsException =>
                throw new IllegalArgumentException("webp: truncated stream")
            })
        case "ALPH" => alph = Some((off + 8, len))
        case "ANIM" | "ANMF" =>
          throw new IllegalArgumentException(
            "webp: animated file — use decodeWebpAnim")
        case _ => () // VP8X/ICCP/EXIF/XMP metadata
      }
      off += 8 + len + (len & 1)
    }
    throw new IllegalArgumentException("webp: no image chunk")
  }

  /** Decode an ALPH chunk payload into a w*h plane of 0..255 values
    * (container spec: 1 header byte — 2 reserved, 2 preprocessing,
    * 2 filtering, 2 compression bits — then the filtered plane, raw or
    * as a VP8L image stream with the alpha in the green channel). */
  private[operators] def decodeAlpha(bytes: Array[Byte], off: Int, len: Int,
      w: Int, h: Int): Array[Int] = {
    require(len >= 1, "webp: empty ALPH chunk")
    val hdr = bytes(off) & 0xff
    require((hdr >> 6) == 0, "webp: reserved ALPH bits set")
    val filter = (hdr >> 2) & 3
    val comp = hdr & 3
    val a = new Array[Int](w * h)
    comp match {
      case 0 =>
        require(len >= 1 + w * h, "webp: raw ALPH payload too short")
        var i = 0
        while (i < w * h) { a(i) = bytes(off + 1 + i) & 0xff; i += 1 }
      case 1 =>
        // a headerless VP8L image stream (no signature, no dims);
        // alpha values ride in the GREEN channel
        val br = new BitReader(bytes, off + 1, off + len)
        val argb = decodeVp8lStream(br, w, h)
        var i = 0
        while (i < w * h) { a(i) = (argb(i) >> 8) & 0xff; i += 1 }
      case _ =>
        throw new IllegalArgumentException(s"webp: bad ALPH compression $comp")
    }
    // inverse row filters (libwebp filter semantics: the row-0/col-0
    // fallbacks chain through the already-reconstructed neighbors)
    if (filter > 0) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val pred =
            if (x == 0 && y == 0) 0
            else filter match {
              case 1 => if (x > 0) a(y * w + x - 1) else a((y - 1) * w)
              case 2 => if (y > 0) a((y - 1) * w + x) else a(x - 1)
              case _ => // gradient
                if (y == 0) a(x - 1)
                else if (x == 0) a((y - 1) * w)
                else {
                  val l = a(y * w + x - 1)
                  val t = a((y - 1) * w + x)
                  val tl = a((y - 1) * w + x - 1)
                  math.max(0, math.min(255, l + t - tl))
                }
            }
          a(y * w + x) = (a(y * w + x) + pred) & 0xff
          x += 1
        }
        y += 1
      }
    }
    a
  }

  private def decodeWebp0(bytes: Array[Byte]): WebpImage = {
    require(bytes.length >= 21, "webp: too short")
    def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    def u32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    require(tag(0) == "RIFF" && tag(8) == "WEBP", "webp: not a RIFF/WEBP file")
    // walk chunks to VP8L (tolerates leading metadata chunks)
    var off = 12
    var vp8lOff = -1
    var vp8lLen = 0
    while (vp8lOff < 0) {
      require(off + 8 <= bytes.length, "webp: no VP8L chunk")
      val t = tag(off)
      val len = u32(off + 4)
      require(len >= 0 && off + 8 + len <= bytes.length, "webp: bad chunk length")
      if (t == "VP8L") { vp8lOff = off + 8; vp8lLen = len }
      else if (t == "VP8 " || t == "VP8X")
        throw new IllegalArgumentException(s"webp: $t (lossy/extended) unsupported, VP8L only")
      else off += 8 + len + (len & 1)
    }
    decodeVp8lChunk(bytes, vp8lOff, vp8lLen)
  }

  /** Decode a located VP8L chunk payload (signature byte + 14/14-bit
    * dims + image stream) — shared by the lossless-only entry point and
    * [[decodeWebp]]'s container walk (which may find the chunk inside a
    * VP8X extended container). */
  private def decodeVp8lChunk(bytes: Array[Byte], vp8lOff: Int,
      vp8lLen: Int): WebpImage = {
    val img = decodeVp8lChunkArgb(bytes, vp8lOff, vp8lLen)
    var i = 0
    while (i < img.pixels.length) { img.pixels(i) &= 0xffffff; i += 1 }
    img
  }

  /** Like [[decodeVp8lChunk]] but keeps the VP8L stream's native alpha
    * channel in bits 24-31 — the form the animation compositor needs. */
  private def decodeVp8lChunkArgb(bytes: Array[Byte], vp8lOff: Int,
      vp8lLen: Int): WebpImage = {
    require(vp8lLen >= 5 && (bytes(vp8lOff) & 0xff) == 0x2f,
      "webp: bad VP8L signature")
    val br = new BitReader(bytes, vp8lOff + 1, vp8lOff + vp8lLen)
    val width = br.readBits(14) + 1
    val height = br.readBits(14) + 1
    br.readBits(1) // alpha hint
    require(br.readBits(3) == 0, "webp: unsupported VP8L version")
    WebpImage(width, height, decodeVp8lStream(br, width, height))
  }

  /** Neighbor-mapped LZ77 distance codes 1..120 (VP8L spec): each byte
    * is (dy << 4) | (8 - dx); dist = dy*width + dx, floored at 1. */
  private val KCodeToPlane: Array[Int] = Array(
    24, 7, 23, 25, 40, 6, 39, 41, 22, 26, 38, 42, 56, 5, 55, 57,
    21, 27, 54, 58, 37, 43, 72, 4, 71, 73, 20, 28, 53, 59, 70, 74,
    36, 44, 88, 69, 75, 52, 60, 3, 87, 89, 19, 29, 86, 90, 35, 45,
    68, 76, 85, 91, 51, 61, 104, 2, 103, 105, 18, 30, 102, 106, 34, 46,
    84, 92, 67, 77, 101, 107, 50, 62, 120, 1, 119, 121, 83, 93, 17, 31,
    100, 108, 66, 78, 118, 122, 33, 47, 117, 123, 49, 63, 99, 109, 82, 94,
    0, 116, 124, 65, 79, 16, 32, 98, 110, 48, 115, 125, 81, 95, 64, 114,
    126, 97, 111, 80, 113, 127, 96, 112)

  /** Decode a headerless VP8L image stream (the part after the
    * signature/dims — also the exact payload shape of a
    * lossless-compressed ALPH chunk) into ARGB pixels: the COMPLETE
    * lossless format — all four transforms (predictor with its 14
    * spatial modes, cross-color, subtract-green, color-indexing with
    * pixel bundling), meta prefix images, color cache, every
    * prefix-code form, and LZ77 with direct and neighbor-mapped
    * distances. Verified bit-exactly against real libwebp lossless and
    * alpha encoder output (Vp8RealStreamSpec). */
  private[operators] def decodeVp8lStream(br: BitReader, width: Int,
      height: Int): Array[Int] =
    decodeImageStream(br, width, height, level0 = true)

  private def addPixels(a: Int, b: Int): Int = {
    (((a >>> 24) + (b >>> 24)) & 0xff) << 24 |
      ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) & 0xff) << 16 |
      ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) & 0xff) << 8 |
      (((a & 0xff) + (b & 0xff)) & 0xff)
  }

  private def subSize(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  // one parsed transform: kind 0=predictor 1=cross-color 2=subtract-green
  // 3=color-indexing; `w` is the image width at READ time (pre-reduction
  // for palettes), `bits` the tile/bundling bits, `data` the sub-image
  // (tiles or delta-accumulated palette)
  private final case class Vp8lXform(kind: Int, bits: Int, w: Int,
      data: Array[Int])

  private def decodeImageStream(br: BitReader, w0: Int, h: Int,
      level0: Boolean): Array[Int] = {
    var w = w0
    val xforms = scala.collection.mutable.ArrayBuffer.empty[Vp8lXform]
    if (level0) {
      var seen = 0
      while (br.readBits(1) == 1) {
        val t = br.readBits(2)
        require((seen & (1 << t)) == 0, "webp: duplicate transform")
        seen |= 1 << t
        t match {
          case 0 | 1 => // predictor / cross-color: tile bits + sub-image
            val bits = br.readBits(3) + 2
            val sub = decodeImageStream(br, subSize(w, bits),
              subSize(h, bits), level0 = false)
            xforms += Vp8lXform(t, bits, w, sub)
          case 2 =>
            xforms += Vp8lXform(2, 0, w, null)
          case _ => // color indexing: palette + optional pixel bundling
            val palSize = br.readBits(8) + 1
            val pal = decodeImageStream(br, palSize, 1, level0 = false)
            var i = 1
            while (i < palSize) { pal(i) = addPixels(pal(i), pal(i - 1)); i += 1 }
            val wBits =
              if (palSize <= 2) 3
              else if (palSize <= 4) 2
              else if (palSize <= 16) 1
              else 0
            xforms += Vp8lXform(3, wBits, w, pal)
            if (wBits > 0) w = subSize(w, wBits)
        }
      }
    }

    val cacheBits = if (br.readBits(1) == 1) br.readBits(4) else 0
    require(cacheBits >= 0 && cacheBits <= 11, "webp: bad color-cache size")
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = new Array[Int](math.max(cacheSize, 1))

    // meta prefix image (level 0 only): per-tile prefix-group ids
    var metaBits = 0
    var meta: Array[Int] = null
    var nGroups = 1
    if (level0 && br.readBits(1) == 1) {
      metaBits = br.readBits(3) + 2
      meta = decodeImageStream(br, subSize(w, metaBits), subSize(h, metaBits),
        level0 = false)
      var g = 0
      meta.foreach(p => g = math.max(g, (p >> 8) & 0xffff))
      nGroups = g + 1
    }
    val metaW = if (meta != null) subSize(w, metaBits) else 0

    val groups = Array.fill(nGroups)(Array(
      readPrefixCode(br, 256 + 24 + cacheSize),
      readPrefixCode(br, 256),
      readPrefixCode(br, 256),
      readPrefixCode(br, 256),
      readPrefixCode(br, 40)))

    val n = w * h
    val argb = new Array[Int](n)
    var i = 0
    var x = 0
    var y = 0
    def cachePut(p: Int): Unit = if (cacheBits > 0)
      cache(((p * 0x1e35a7bd) >>> (32 - cacheBits)) & (cacheSize - 1)) = p
    def advance(k: Int): Unit = {
      i += k; x += k
      while (x >= w) { x -= w; y += 1 }
    }
    while (i < n) {
      val grp =
        if (meta == null) groups(0)
        else groups((meta((y >> metaBits) * metaW + (x >> metaBits)) >> 8) & 0xffff)
      val g = grp(0).decode(br)
      if (g < 256) {
        val r = grp(1).decode(br)
        val b = grp(2).decode(br)
        val a = grp(3).decode(br)
        val p = (a << 24) | (r << 16) | (g << 8) | b
        argb(i) = p; cachePut(p); advance(1)
      } else if (g < 256 + 24) {
        val len = lz77Value(g - 256, br)
        val distCode = lz77Value(grp(4).decode(br), br)
        val dist =
          if (distCode > 120) distCode - 120
          else {
            val pc = KCodeToPlane(distCode - 1)
            val d = (pc >> 4) * w + (8 - (pc & 0xf))
            if (d >= 1) d else 1
          }
        require(dist <= i && i + len <= n, "webp: LZ77 reference out of range")
        var j = 0
        while (j < len) {
          val p = argb(i - dist); argb(i) = p; cachePut(p)
          j += 1; i += 1; x += 1
          if (x >= w) { x -= w; y += 1 }
        }
      } else {
        require(cacheBits > 0, "webp: cache reference without cache")
        argb(i) = cache(g - 256 - 24)
        advance(1)
      }
    }

    // inverse transforms, reverse read order; track the running width
    var img = argb
    var curW = w
    xforms.reverseIterator.foreach { xf =>
      xf.kind match {
        case 0 => inversePredictor(img, curW, h, xf.bits, xf.data)
        case 1 => inverseColorTransform(img, curW, h, xf.bits, xf.data)
        case 2 =>
          var k = 0
          while (k < img.length) {
            val p = img(k)
            val g = (p >> 8) & 0xff
            img(k) = (p & 0xff00ff00) |
              ((((p >> 16) & 0xff) + g) & 0xff) << 16 |
              (((p & 0xff) + g) & 0xff)
            k += 1
          }
        case _ =>
          img = inversePalette(img, curW, h, xf.w, xf.bits, xf.data)
          curW = xf.w
      }
    }
    img
  }

  private def inversePredictor(img: Array[Int], w: Int, h: Int, bits: Int,
      tiles: Array[Int]): Unit = {
    val tw = subSize(w, bits)
    def avg2(a: Int, b: Int): Int = {
      (((a >>> 24) + (b >>> 24)) >> 1) << 24 |
        ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) >> 1) << 16 |
        ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) >> 1) << 8 |
        (((a & 0xff) + (b & 0xff)) >> 1)
    }
    def clip(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pos = y * w + x
        val pred =
          if (x == 0 && y == 0) 0xff000000
          else if (y == 0) img(pos - 1)
          else if (x == 0) img(pos - w)
          else {
            val l = img(pos - 1)
            val t = img(pos - w)
            val tl = img(pos - w - 1)
            // top-right via contiguous indexing: for the last column
            // this wraps to the CURRENT row's first pixel, matching
            // the format's reference behavior
            val tr = img(pos - w + 1)
            ((tiles((y >> bits) * tw + (x >> bits)) >> 8) & 0xf) match {
              case 0 => 0xff000000
              case 1 => l
              case 2 => t
              case 3 => tr
              case 4 => tl
              case 5 => avg2(avg2(l, tr), t)
              case 6 => avg2(l, tl)
              case 7 => avg2(l, t)
              case 8 => avg2(tl, t)
              case 9 => avg2(t, tr)
              case 10 => avg2(avg2(l, tl), avg2(t, tr))
              case 11 => // Select
                val pa = (l >>> 24) + (t >>> 24) - (tl >>> 24)
                val pr = ((l >> 16) & 0xff) + ((t >> 16) & 0xff) - ((tl >> 16) & 0xff)
                val pg = ((l >> 8) & 0xff) + ((t >> 8) & 0xff) - ((tl >> 8) & 0xff)
                val pb = (l & 0xff) + (t & 0xff) - (tl & 0xff)
                val pL = math.abs(pa - (l >>> 24)) + math.abs(pr - ((l >> 16) & 0xff)) +
                  math.abs(pg - ((l >> 8) & 0xff)) + math.abs(pb - (l & 0xff))
                val pT = math.abs(pa - (t >>> 24)) + math.abs(pr - ((t >> 16) & 0xff)) +
                  math.abs(pg - ((t >> 8) & 0xff)) + math.abs(pb - (t & 0xff))
                if (pL < pT) l else t
              case 12 => // ClampAddSubtractFull
                clip((l >>> 24) + (t >>> 24) - (tl >>> 24)) << 24 |
                  clip(((l >> 16) & 0xff) + ((t >> 16) & 0xff) - ((tl >> 16) & 0xff)) << 16 |
                  clip(((l >> 8) & 0xff) + ((t >> 8) & 0xff) - ((tl >> 8) & 0xff)) << 8 |
                  clip((l & 0xff) + (t & 0xff) - (tl & 0xff))
              case 13 => // ClampAddSubtractHalf (int division truncates to 0)
                val av = avg2(l, t)
                def half(a: Int, b: Int): Int = clip(a + (a - b) / 2)
                half(av >>> 24, tl >>> 24) << 24 |
                  half((av >> 16) & 0xff, (tl >> 16) & 0xff) << 16 |
                  half((av >> 8) & 0xff, (tl >> 8) & 0xff) << 8 |
                  half(av & 0xff, tl & 0xff)
              case m =>
                throw new IllegalArgumentException(s"webp: bad predictor mode $m")
            }
          }
        img(pos) = addPixels(img(pos), pred)
        x += 1
      }
      y += 1
    }
  }

  private def inverseColorTransform(img: Array[Int], w: Int, h: Int,
      bits: Int, tiles: Array[Int]): Unit = {
    val tw = subSize(w, bits)
    def delta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cte = tiles((y >> bits) * tw + (x >> bits))
        val g2r = cte & 0xff
        val g2b = (cte >> 8) & 0xff
        val r2b = (cte >> 16) & 0xff
        val p = img(y * w + x)
        val g = (p >> 8) & 0xff
        val r = (((p >> 16) & 0xff) + delta(g2r, g)) & 0xff
        val b = ((p & 0xff) + delta(g2b, g) + delta(r2b, r)) & 0xff
        img(y * w + x) = (p & 0xff00ff00) | (r << 16) | b
        x += 1
      }
      y += 1
    }
  }

  private def inversePalette(packed: Array[Int], packedW: Int, h: Int,
      outW: Int, wBits: Int, pal: Array[Int]): Array[Int] = {
    val out = new Array[Int](outW * h)
    // pixels per packed byte = 1 << wBits; bits per index = 8 >> wBits
    val ppb = 1 << wBits
    val bpi = 8 >> wBits
    val mask = (1 << bpi) - 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < outW) {
        val g = (packed(y * packedW + (x >> wBits)) >> 8) & 0xff
        val sub = if (wBits > 0) x & (ppb - 1) else 0
        val idx = if (wBits > 0) (g >> (sub * bpi)) & mask else g
        out(y * outW + x) = if (idx < pal.length) pal(idx) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  // -----------------------------------------------------------------
  // Animated WebP (round 12): ANIM/ANMF frame walk + spec compositing.
  // Each ANMF payload is a standard ALPH?+VP8/VP8L chunk pair decoded
  // by the SAME still-image decoders proven bit-exact against libwebp;
  // the container walk and compositing rules are this layer's only new
  // logic. No libwebpdemux exists in the container, so the per-frame
  // pixel truth comes from libwebp stills (tools/webp_anim_check.py
  // assembles animations from real libwebp encoder payloads and
  // composites expected canvases per spec); blending with FRACTIONAL
  // alpha uses the documented integer formula below — exact for the
  // binary-alpha (0/255) fixtures all gated lanes use.
  // -----------------------------------------------------------------

  /** One animation frame: placement on the canvas (even coordinates
    * per the container format), duration, the blend flag (false =
    * overwrite the rect) and dispose flag (true = fill the rect with
    * the ANIM background color after rendering), plus decoded ARGB
    * pixels (alpha 255 when the payload carries none). */
  final case class WebpFrame(x: Int, y: Int, width: Int, height: Int,
      durationMs: Int, blend: Boolean, disposeToBackground: Boolean,
      pixels: Array[Int])

  /** A decoded animation: canvas dims, loop count, ANIM background
    * color (ARGB), every frame. */
  final case class WebpAnim(width: Int, height: Int, loopCount: Int,
      background: Int, frames: Vector[WebpFrame]) {

    /** Composite per the container spec into one ARGB canvas snapshot
      * per frame. The canvas starts fully transparent; a frame either
      * alpha-blends onto its rect (blend flag) or overwrites it; after
      * the snapshot, dispose-to-background fills the frame's rect with
      * the ANIM background color (applied literally, as specified —
      * renderers that prefer transparency can pass background = 0).
      * Integer blend formula (identical in the Python verifier):
      * da2 = da*(255-sa)/255; ao = sa+da2;
      * c = (cs*sa + cd*da2)/ao (0 when ao == 0). */
    def composite: Vector[Array[Int]] = {
      val n = width * height
      val canvas = new Array[Int](n)
      val out = Vector.newBuilder[Array[Int]]
      frames.foreach { f =>
        var fy = 0
        while (fy < f.height) {
          val row = (f.y + fy) * width
          var fx = 0
          while (fx < f.width) {
            val src = f.pixels(fy * f.width + fx)
            val at = row + f.x + fx
            canvas(at) =
              if (!f.blend) src
              else {
                val sa = src >>> 24
                if (sa == 255) src
                else if (sa == 0) canvas(at)
                else {
                  val dst = canvas(at)
                  val da2 = ((dst >>> 24) * (255 - sa)) / 255
                  val ao = sa + da2
                  if (ao == 0) 0
                  else {
                    def ch(sh: Int): Int =
                      (((src >> sh) & 0xff) * sa + ((dst >> sh) & 0xff) * da2) / ao
                    (ao << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
                  }
                }
              }
            fx += 1
          }
          fy += 1
        }
        out += java.util.Arrays.copyOf(canvas, n)
        if (f.disposeToBackground) {
          var y = 0
          while (y < f.height) {
            java.util.Arrays.fill(canvas, (f.y + y) * width + f.x,
              (f.y + y) * width + f.x + f.width, background)
            y += 1
          }
        }
      }
      out.result()
    }
  }

  /** Decode a still WebP keeping alpha in bits 24-31 (255 when the
    * payload has no alpha): VP8L natively, VP8 with an optional ALPH
    * sidecar. The animation path decodes every frame through here. */
  def decodeWebpArgb(bytes: Array[Byte]): WebpImage = {
    require(bytes.length >= 16, "webp: too short")
    def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    def u32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    require(tag(0) == "RIFF" && tag(8) == "WEBP", "webp: not a RIFF/WEBP file")
    var off = 12
    var alph: Option[(Int, Int)] = None
    while (off + 8 <= bytes.length) {
      val t = tag(off)
      val len = u32(off + 4)
      require(len >= 0 && off + 8 + len <= bytes.length,
        s"webp: chunk '$t' overruns the container")
      t match {
        case "VP8 " =>
          val img = Vp8.decodeWebpLossy(bytes)
          val rgb = img.toRgb
          alph match {
            case Some((ao, al)) =>
              val a = decodeAlpha(bytes, ao, al, img.width, img.height)
              var i = 0
              while (i < rgb.length) { rgb(i) |= a(i) << 24; i += 1 }
            case None =>
              var i = 0
              while (i < rgb.length) { rgb(i) |= 0xff000000; i += 1 }
          }
          return WebpImage(img.width, img.height, rgb)
        case "VP8L" =>
          return (try decodeVp8lChunkArgb(bytes, off + 8, len)
            catch {
              case _: ArrayIndexOutOfBoundsException =>
                throw new IllegalArgumentException("webp: truncated stream")
            })
        case "ALPH" => alph = Some((off + 8, len))
        case "ANIM" | "ANMF" =>
          throw new IllegalArgumentException(
            "webp: animated file — use decodeWebpAnim")
        case _ => ()
      }
      off += 8 + len + (len & 1)
    }
    throw new IllegalArgumentException("webp: no image chunk")
  }

  /** Decode an animated WebP: VP8X canvas, ANIM background/loop, and
    * every ANMF frame — each frame's ALPH?+VP8/VP8L payload goes
    * through the bit-exact still decoders. */
  def decodeWebpAnim(bytes: Array[Byte]): WebpAnim =
    try decodeWebpAnim0(bytes)
    catch {
      case _: ArrayIndexOutOfBoundsException =>
        throw new IllegalArgumentException("webp: truncated stream")
    }

  private def decodeWebpAnim0(bytes: Array[Byte]): WebpAnim = {
    require(bytes.length >= 30, "webp: too short")
    def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    def u32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    def u24(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16)
    require(tag(0) == "RIFF" && tag(8) == "WEBP", "webp: not a RIFF/WEBP file")
    var off = 12
    var canvasW = -1
    var canvasH = -1
    var sawAnim = false
    var background = 0
    var loopCount = 0
    val frames = Vector.newBuilder[WebpFrame]
    var nFrames = 0
    while (off + 8 <= bytes.length) {
      val t = tag(off)
      val len = u32(off + 4)
      require(len >= 0 && off + 8 + len <= bytes.length,
        s"webp: chunk '$t' overruns the container")
      val p = off + 8
      t match {
        case "VP8X" =>
          require(len == 10, "webp: bad VP8X length")
          require((bytes(p) & 0x02) != 0, "webp: VP8X without animation flag")
          canvasW = u24(p + 4) + 1
          canvasH = u24(p + 7) + 1
        case "ANIM" =>
          require(len == 6, "webp: bad ANIM length")
          // background is stored B,G,R,A
          background = ((bytes(p + 3) & 0xff) << 24) |
            ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 1) & 0xff) << 8) |
            (bytes(p) & 0xff)
          loopCount = (bytes(p + 4) & 0xff) | ((bytes(p + 5) & 0xff) << 8)
          sawAnim = true
        case "ANMF" =>
          require(sawAnim, "webp: ANMF before ANIM")
          require(len >= 16, "webp: bad ANMF length")
          val fx = u24(p) * 2
          val fy = u24(p + 3) * 2
          val fw = u24(p + 6) + 1
          val fh = u24(p + 9) + 1
          val dur = u24(p + 12)
          val flags = bytes(p + 15) & 0xff
          val blend = (flags & 0x02) == 0 // B bit set = do NOT blend
          val dispose = (flags & 0x01) != 0
          require(canvasW > 0 && fx + fw <= canvasW && fy + fh <= canvasH,
            "webp: frame rect off-canvas")
          // frame data: ALPH? + VP8/VP8L sub-chunks — rewrap into a
          // minimal still container and reuse the proven decoders
          val still = wrapStill(bytes, p + 16, len - 16)
          val img = decodeWebpArgb(still)
          require(img.width == fw && img.height == fh,
            "webp: frame payload dims disagree with ANMF header")
          frames += WebpFrame(fx, fy, fw, fh, dur, blend, dispose, img.pixels)
          nFrames += 1
        case _ => () // ICCP/EXIF/XMP/padding
      }
      off += 8 + len + (len & 1)
    }
    require(nFrames > 0, "webp: no ANMF frame")
    WebpAnim(canvasW, canvasH, loopCount, background, frames.result())
  }

  private def wrapStill(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len + 12)
    out.write("RIFF".getBytes("US-ASCII"))
    val total = 4 + len
    out.write(total & 0xff); out.write((total >> 8) & 0xff)
    out.write((total >> 16) & 0xff); out.write((total >> 24) & 0xff)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write(bytes, off, len)
    out.toByteArray
  }

  /** Assemble an animated WebP container from per-frame STILL WebP
    * byte streams (their ALPH/VP8/VP8L chunks are lifted into ANMF
    * frames verbatim — e.g. [[encodeWebpLossless]] output or real
    * libwebp encodes). Frame x/y must be even. */
  def encodeWebpAnim(canvasW: Int, canvasH: Int, background: Int,
      loopCount: Int,
      frames: Seq[(Int, Int, Int, Boolean, Boolean, Array[Byte])]): Array[Byte] = {
    require(canvasW > 0 && canvasH > 0 && frames.nonEmpty, "webp: empty animation")
    val body = new java.io.ByteArrayOutputStream()
    def w32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
      o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
    }
    def w24(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff); o.write((v >> 16) & 0xff)
    }
    def chunk(o: java.io.ByteArrayOutputStream, tag: String,
        payload: Array[Byte]): Unit = {
      o.write(tag.getBytes("US-ASCII"))
      w32(o, payload.length)
      o.write(payload, 0, payload.length)
      if ((payload.length & 1) == 1) o.write(0)
    }
    val vp8x = new java.io.ByteArrayOutputStream()
    vp8x.write(0x02) // animation flag
    vp8x.write(0); vp8x.write(0); vp8x.write(0)
    w24(vp8x, canvasW - 1); w24(vp8x, canvasH - 1)
    chunk(body, "VP8X", vp8x.toByteArray)
    val anim = new java.io.ByteArrayOutputStream()
    // background stored B,G,R,A
    anim.write(background & 0xff)          // B
    anim.write((background >> 8) & 0xff)   // G
    anim.write((background >> 16) & 0xff)  // R
    anim.write((background >>> 24) & 0xff) // A
    anim.write(loopCount & 0xff); anim.write((loopCount >> 8) & 0xff)
    chunk(body, "ANIM", anim.toByteArray)
    frames.foreach { case (fx, fy, dur, blend, dispose, still) =>
      require(fx % 2 == 0 && fy % 2 == 0, "webp: frame origin must be even")
      // lift the image chunks out of the still container
      val inner = new java.io.ByteArrayOutputStream()
      var w = -1
      var h = -1
      def tag(o: Int): String = new String(still, o, 4, "US-ASCII")
      def u32(o: Int): Int =
        (still(o) & 0xff) | ((still(o + 1) & 0xff) << 8) |
          ((still(o + 2) & 0xff) << 16) | ((still(o + 3) & 0xff) << 24)
      require(tag(0) == "RIFF" && tag(8) == "WEBP", "webp: bad still frame")
      var o = 12
      while (o + 8 <= still.length) {
        val t = tag(o)
        val len = u32(o + 4)
        t match {
          case "ALPH" | "VP8 " | "VP8L" =>
            inner.write(still, o, 8 + len + (len & 1))
            if (t != "ALPH" && w < 0) {
              val img = decodeWebpArgb(wrapStill(still, 12, still.length - 12))
              w = img.width; h = img.height
            }
          case _ => ()
        }
        o += 8 + len + (len & 1)
      }
      require(w > 0, "webp: still frame has no image chunk")
      require(fx + w <= canvasW && fy + h <= canvasH, "webp: frame off-canvas")
      val anmf = new java.io.ByteArrayOutputStream()
      w24(anmf, fx / 2); w24(anmf, fy / 2)
      w24(anmf, w - 1); w24(anmf, h - 1)
      w24(anmf, dur)
      anmf.write((if (blend) 0 else 0x02) | (if (dispose) 0x01 else 0))
      val innerB = inner.toByteArray
      anmf.write(innerB, 0, innerB.length)
      chunk(body, "ANMF", anmf.toByteArray)
    }
    val bodyB = body.toByteArray
    val out = new java.io.ByteArrayOutputStream(bodyB.length + 12)
    out.write("RIFF".getBytes("US-ASCII"))
    w32(out, 4 + bodyB.length)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write(bodyB, 0, bodyB.length)
    out.toByteArray
  }
}
