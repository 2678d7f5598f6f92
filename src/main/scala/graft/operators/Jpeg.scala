package graft.operators

/** Baseline-sequential JPEG codec (ITU T.81) in pure byte/double
  * arithmetic — zero codec dependencies, the round-8 sibling of the
  * BMP/WAV/PNG decoders in [[Multimodal]]. Scope: baseline (SOF0) and
  * progressive (SOF2) DCT, 8-bit precision, grayscale or 3-component
  * YCbCr with sampling factors 1-2 (4:4:4 / 4:2:2 / 4:2:0), arbitrary
  * huffman tables, restart intervals (DRI/RSTn), JFIF container.
  * Arithmetic coding and 12-bit precision throw with a clear message.
  * The entropy layer is verified against real libjpeg encoder output
  * at the quantized-coefficient level — the representation T.81 pins
  * down exactly — across quality/progression/restart/subsampling/
  * optimized-table combinations (JpegRealStreamSpec,
  * tools/jpeg_crosscheck.py).
  *
  * Exactness contracts used by the `mm_jpeg_decode` oracle:
  *
  *  1. Block-constant roundtrip — with all-ones quantization tables
  *     (the encoder's choice), a block whose pixels are CONSTANT has
  *     an exactly-representable DC (8·(v−128)) and mathematically-zero
  *     AC terms (cosine sums cancel; double noise ~1e-13 rounds to 0),
  *     so decode(encode(x)) == x bit-exactly for block-constant GRAY
  *     images (gray makes the YCbCr transform the identity).
  *  2. Non-constant-block decode (round 9) — the decoder's IDCT is
  *     FIXED-POINT INTEGER ([[IdctTab]], single final rounding shift),
  *     so decode(encodeJpegGrayCoeffs(F)) is a pure integer function
  *     of the coefficients that a DuckDB oracle replays term-for-term:
  *     real DCT content (gradient blocks, nonzero AC) goes through the
  *     hash gate, not just the constant corner.
  *
  * Arbitrary images round-trip within a provable error envelope
  * (≤0.5 per quantized coefficient through the IDCT ≤ ~7.5, ±1 IDCT
  * table quantization, plus ±2 color-transform rounding) — pinned in
  * MultimodalSpec.
  */
object Jpeg {
  /** Decoded image: pixels top-down row-major, one Int per pixel
    * holding 0xRRGGBB (grayscale files replicate Y into all three).
    */
  case class JpegImage(width: Int, height: Int, pixels: Array[Int])

  // ---------------------------------------------------------------
  // Tables (ITU T.81 Annex K — public spec constants)
  // ---------------------------------------------------------------

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val DcLumBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = (0 to 11).toArray
  private val DcChrBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrVals = (0 to 11).toArray

  private val AcLumBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  private val AcChrBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChrVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** cos((2x+1)·u·π/16) — shared by FDCT and IDCT. */
  private val CosTab: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0); u += 1
      }
      x += 1
    }
    t
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  // ---------------------------------------------------------------
  // Canonical huffman code construction (T.81 C.2)
  // ---------------------------------------------------------------

  /** (codes, lengths) indexed by symbol, from a BITS(1..16)/HUFFVAL spec. */
  private def buildEncodeTable(bits: Array[Int], vals: Array[Int]): (Array[Int], Array[Int]) = {
    val codes = new Array[Int](256)
    val lens = new Array[Int](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len)) {
        codes(vals(k)) = code; lens(vals(k)) = len
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    (codes, lens)
  }

  /** Decode tables: minCode/maxCode/valPtr per length (T.81 F.2.2.3). */
  private final class HuffDecoder(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len) == 0) { maxCode(len) = -1 }
        else {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len); k += bits(len)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
    def decode(br: BitReader): Int = {
      var len = 1
      var code = br.readBit()
      while (len < 16 && (maxCode(len) < 0 || code > maxCode(len))) {
        code = (code << 1) | br.readBit(); len += 1
      }
      if (maxCode(len) < 0 || code > maxCode(len))
        throw new IllegalArgumentException("jpeg: invalid huffman code")
      vals(valPtr(len) + code - minCode(len))
    }
  }

  // ---------------------------------------------------------------
  // Bit IO over entropy-coded segments (0xFF byte stuffing)
  // ---------------------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nBits = 0
    def write(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); nBits += 1
        if (nBits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00)
          acc = 0; nBits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nBits > 0) { // pad with 1s (T.81 F.1.2.3)
      acc = (acc << (8 - nBits)) | ((1 << (8 - nBits)) - 1)
      out.write(acc)
      if (acc == 0xff) out.write(0x00)
      acc = 0; nBits = 0
    }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nBits = 0
    def readBit(): Int = {
      if (nBits == 0) {
        if (pos >= bytes.length) throw new IllegalArgumentException("jpeg: truncated entropy data")
        var b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= bytes.length) throw new IllegalArgumentException("jpeg: truncated after 0xFF")
          val m = bytes(pos) & 0xff; pos += 1
          if (m == 0x00) { /* stuffed byte */ }
          else if (m == 0xd9) { b = 0 /* EOI inside read: pad zeros */ ; pos -= 2 }
          else throw new IllegalArgumentException(f"jpeg: unexpected marker 0xFF$m%02X in scan")
        }
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    /** Byte-align and consume the expected RSTn marker (T.81 E.2.4 /
      * F.2.1.3.1): discard the partial byte, skip optional 0xFF fill,
      * and require the cyclic restart marker 0xFFD0+n. */
    def consumeRst(n: Int): Unit = {
      acc = 0; nBits = 0
      if (pos + 1 >= bytes.length)
        throw new IllegalArgumentException("jpeg: truncated at restart marker")
      require((bytes(pos) & 0xff) == 0xff, "jpeg: expected restart marker")
      while (pos + 1 < bytes.length && (bytes(pos + 1) & 0xff) == 0xff) pos += 1
      val m = bytes(pos + 1) & 0xff
      require(m == 0xd0 + n,
        f"jpeg: expected RST$n%d, got marker 0x$m%02X")
      pos += 2
    }
  }

  /** T.81 F.2.2.1 EXTEND: map `n`-bit magnitude bits to signed value. */
  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

  private def magnitudeCategory(v: Int): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  // ---------------------------------------------------------------
  // DCT
  // ---------------------------------------------------------------

  /** Forward DCT of one level-shifted 8x8 block (in row-major). */
  private def fdct(in: Array[Double], out: Array[Double]): Unit = {
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          val cy = CosTab(y * 8 + u)
          while (x < 8) {
            s += in(y * 8 + x) * cy * CosTab(x * 8 + v); x += 1
          }
          y += 1
        }
        val cu = if (u == 0) InvSqrt2 else 1.0
        val cv = if (v == 0) InvSqrt2 else 1.0
        out(u * 8 + v) = 0.25 * cu * cv * s
        v += 1
      }
      u += 1
    }
  }

  /** Fixed-point IDCT basis table (round 9): T(y*8+u) = round(2^15 ·
    * (1/2) · c_u · cos((2y+1)uπ/16)), c_0 = 1/√2. PUBLIC because the
    * mm_jpeg_decode oracle generator inlines these 64 constants so
    * DuckDB replays the decoder's exact integer arithmetic. */
  val IdctTab: Array[Int] = {
    val t = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        val cu = if (u == 0) InvSqrt2 else 1.0
        t(y * 8 + u) =
          math.round(32768.0 * 0.5 * cu * CosTab(y * 8 + u)).toInt
        u += 1
      }
      y += 1
    }
    t
  }

  /** Fixed-point inverse DCT (round 9, replacing the decoder's double
    * form): direct 64-term sum per sample in Long arithmetic with ONE
    * final rounding shift —
    *   out(y,x) = ((Σ_{u,v} F(u,v)·T(y,u)·T(x,v)) + 2^29) >> 30.
    * A production decoder would use a separable AAN factorization (two
    * 1-D passes, ~80 mults); the direct single-rounding form is chosen
    * deliberately: a cross-engine oracle can replay it exactly — one
    * rounding point, floor semantics shared by Scala's `>>` and
    * DuckDB's `//` — which is what turns "JPEG decode on non-constant
    * blocks" into a hash-exact driver gate. Deterministic on any JVM
    * (pure integer ops). Bit-exact on block-constant input
    * (T(·,0)²·8c + 2^29 >> 30 == c for |c| ≤ 12192, T(·,0) = 11585)
    * and within ±1 of the real-valued IDCT elsewhere (each table entry
    * carries ≤0.5/2^15 quantization) — the MultimodalSpec error
    * envelope absorbs it. */
  private def idctInt(in: Array[Int], out: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0L
        var u = 0
        while (u < 8) {
          val ty = IdctTab(y * 8 + u).toLong
          var v = 0
          while (v < 8) {
            val f = in(u * 8 + v)
            if (f != 0) s += f * ty * IdctTab(x * 8 + v)
            v += 1
          }
          u += 1
        }
        out(y * 8 + x) = ((s + (1L << 29)) >> 30).toInt
        x += 1
      }
      y += 1
    }
  }

  // ---------------------------------------------------------------
  // Encoder
  // ---------------------------------------------------------------

  /** Encode an RGB image as baseline JFIF (3-component YCbCr 4:4:4,
    * all-ones quantization tables, standard huffman tables). Pixels
    * come from `px(x, y) -> 0xRRGGBB`; dims need not be multiples of 8
    * (edge replication pads the partial blocks).
    */
  def encodeJpegRgb(width: Int, height: Int, px: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff)
    // color transform, replicated to block multiples
    val bw = (width + 7) / 8 * 8
    val bh = (height + 7) / 8 * 8
    val yP = new Array[Double](bw * bh)
    val cbP = new Array[Double](bw * bh)
    val crP = new Array[Double](bw * bh)
    var yy = 0
    while (yy < bh) {
      val sy = math.min(yy, height - 1)
      var xx = 0
      while (xx < bw) {
        val sx = math.min(xx, width - 1)
        val p = px(sx, sy)
        val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
        val i = yy * bw + xx
        yP(i) = 0.299 * r + 0.587 * g + 0.114 * b
        cbP(i) = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        crP(i) = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        xx += 1
      }
      yy += 1
    }

    val out = new java.io.ByteArrayOutputStream(1024)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }

    marker(0xd8) // SOI
    marker(0xe0); w16(16) // APP0 JFIF
    Seq('J', 'F', 'I', 'F', 0).foreach(c => w8(c.toInt))
    w16(0x0101); w8(0); w16(1); w16(1); w8(0); w8(0)
    // DQT: two all-ones tables (id 0 luma, id 1 chroma)
    marker(0xdb); w16(2 + 2 * 65)
    Seq(0, 1).foreach { id => w8(id); (0 until 64).foreach(_ => w8(1)) }
    // SOF0: 8-bit, 3 components, 1x1 sampling each
    marker(0xc0); w16(8 + 3 * 3); w8(8); w16(height); w16(width); w8(3)
    w8(1); w8(0x11); w8(0) // Y → quant 0
    w8(2); w8(0x11); w8(1) // Cb → quant 1
    w8(3); w8(0x11); w8(1) // Cr → quant 1
    // DHT: four standard tables
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); w16(2 + 1 + 16 + vals.length); w8((cls << 4) | id)
      (1 to 16).foreach(l => w8(bits(l))); vals.foreach(w8)
    }
    dht(0, 0, DcLumBits, DcLumVals); dht(1, 0, AcLumBits, AcLumVals)
    dht(0, 1, DcChrBits, DcChrVals); dht(1, 1, AcChrBits, AcChrVals)
    // SOS
    marker(0xda); w16(6 + 2 * 3); w8(3)
    w8(1); w8(0x00); w8(2); w8(0x11); w8(3); w8(0x11)
    w8(0); w8(63); w8(0) // Ss/Se/Ah-Al (baseline fixed)

    val (dcLumC, dcLumL) = buildEncodeTable(DcLumBits, DcLumVals)
    val (acLumC, acLumL) = buildEncodeTable(AcLumBits, AcLumVals)
    val (dcChrC, dcChrL) = buildEncodeTable(DcChrBits, DcChrVals)
    val (acChrC, acChrL) = buildEncodeTable(AcChrBits, AcChrVals)
    val bwr = new BitWriter(out)
    val block = new Array[Double](64)
    val coefs = new Array[Double](64)
    val quant = new Array[Int](64)
    val prevDc = new Array[Int](3)

    def encodeBlock(plane: Array[Double], bx: Int, by: Int, comp: Int): Unit = {
      var j = 0
      while (j < 8) {
        var i = 0
        while (i < 8) {
          block(j * 8 + i) = plane((by * 8 + j) * bw + bx * 8 + i) - 128.0; i += 1
        }
        j += 1
      }
      fdct(block, coefs)
      var k = 0
      while (k < 64) { quant(k) = math.round(coefs(Zigzag(k))).toInt; k += 1 }
      val (dcC, dcL, acC, acL) =
        if (comp == 0) (dcLumC, dcLumL, acLumC, acLumL)
        else (dcChrC, dcChrL, acChrC, acChrL)
      prevDc(comp) = writeEntropyBlock(bwr, quant, prevDc(comp), dcC, dcL, acC, acL)
    }

    var by = 0
    while (by < bh / 8) {
      var bx = 0
      while (bx < bw / 8) {
        encodeBlock(yP, bx, by, 0)
        encodeBlock(cbP, bx, by, 1)
        encodeBlock(crP, bx, by, 2)
        bx += 1
      }
      by += 1
    }
    bwr.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Entropy-encode one ZIGZAG-ordered quantized block (T.81 F.1.2):
    * DC as diff-from-previous in its magnitude category, AC as
    * run/size pairs with ZRL and EOB. Returns the block's DC value
    * (the caller's next prevDc). Shared by the pixel-domain encoder
    * and [[encodeJpegGrayCoeffs]]. */
  private def writeEntropyBlock(bwr: BitWriter, quant: Array[Int], prevDc: Int,
      dcC: Array[Int], dcL: Array[Int], acC: Array[Int], acL: Array[Int]): Int = {
    val diff = quant(0) - prevDc
    require(diff > -2048 && diff < 2048,
      s"jpeg: |DC diff| $diff exceeds baseline category 11 (< 2048)")
    val cat = magnitudeCategory(diff)
    bwr.write(dcC(cat), dcL(cat))
    if (cat > 0) bwr.write(if (diff < 0) diff + (1 << cat) - 1 else diff, cat)
    var run = 0
    var kk = 1
    while (kk < 64) {
      val v = quant(kk)
      if (v == 0) run += 1
      else {
        while (run >= 16) { bwr.write(acC(0xf0), acL(0xf0)); run -= 16 }
        require(v > -1024 && v < 1024,
          s"jpeg: |AC| $v exceeds baseline category 10 (< 1024)")
        val sz = magnitudeCategory(v)
        val sym = (run << 4) | sz
        bwr.write(acC(sym), acL(sym))
        bwr.write(if (v < 0) v + (1 << sz) - 1 else v, sz)
        run = 0
      }
      kk += 1
    }
    if (run > 0) bwr.write(acC(0x00), acL(0x00)) // EOB
    quant(0)
  }

  /** Write a baseline 1-component (grayscale) JFIF file directly from
    * QUANTIZED DCT coefficients under all-ones quant tables:
    * `coef(bx, by)` returns each block's 64 NATURAL-order (u*8+v)
    * values. This is the DCT-domain construction a transcoder uses —
    * and the fixture side of the mm_jpeg_decode non-constant-block
    * exactness pin: baseline entropy coding is exactly invertible, so
    * decode(encodeJpegGrayCoeffs(F)) is precisely the fixed-point IDCT
    * of F — a pure integer function the DuckDB oracle replays from
    * [[IdctTab]]. Dims must be multiples of 8; coefficient magnitudes
    * must fit their huffman categories (|DC diff| < 2048, |AC| < 1024 —
    * enforced fail-fast in the entropy writer: a violation would
    * otherwise index past the Annex-K tables and emit a zero-length
    * code, i.e. a silently corrupt bitstream).
    */
  def encodeJpegGrayCoeffs(width: Int, height: Int,
      coef: (Int, Int) => Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && width % 8 == 0 && height % 8 == 0 &&
      width <= 0xffff && height <= 0xffff, "jpeg: dims must be 8-multiples")
    val out = new java.io.ByteArrayOutputStream(1024)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }
    marker(0xd8) // SOI
    marker(0xe0); w16(16) // APP0 JFIF
    Seq('J', 'F', 'I', 'F', 0).foreach(c => w8(c.toInt))
    w16(0x0101); w8(0); w16(1); w16(1); w8(0); w8(0)
    marker(0xdb); w16(2 + 65); w8(0); (0 until 64).foreach(_ => w8(1)) // all-ones DQT
    marker(0xc0); w16(8 + 3); w8(8); w16(height); w16(width); w8(1)
    w8(1); w8(0x11); w8(0) // one component, 1x1, quant 0
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); w16(2 + 1 + 16 + vals.length); w8((cls << 4) | id)
      (1 to 16).foreach(l => w8(bits(l))); vals.foreach(w8)
    }
    dht(0, 0, DcLumBits, DcLumVals); dht(1, 0, AcLumBits, AcLumVals)
    marker(0xda); w16(6 + 2); w8(1); w8(1); w8(0x00); w8(0); w8(63); w8(0) // SOS
    val (dcC, dcL) = buildEncodeTable(DcLumBits, DcLumVals)
    val (acC, acL) = buildEncodeTable(AcLumBits, AcLumVals)
    val bwr = new BitWriter(out)
    val quant = new Array[Int](64)
    var prevDc = 0
    var by = 0
    while (by < height / 8) {
      var bx = 0
      while (bx < width / 8) {
        val cf = coef(bx, by)
        require(cf.length == 64, "jpeg: coefficient block must have 64 entries")
        var k = 0
        while (k < 64) { quant(k) = cf(Zigzag(k)); k += 1 }
        prevDc = writeEntropyBlock(bwr, quant, prevDc, dcC, dcL, acC, acL)
        bx += 1
      }
      by += 1
    }
    bwr.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Write a baseline 3-component 4:2:0 (Y 2x2, Cb/Cr 1x1) JFIF file
    * directly from QUANTIZED DCT coefficients under all-ones quant
    * tables — the chroma-subsampled sibling of
    * [[encodeJpegGrayCoeffs]] and the fixture side of the
    * `mm_jpeg_color` exactness pin: baseline entropy coding is exactly
    * invertible, so the decode is precisely fixed-point IDCT per plane
    * + box upsampling + the fixed-point YCbCr->RGB — all pure integer
    * functions a DuckDB oracle replays. `coefY(bx, by)` indexes Y
    * blocks (dims/8 of them per axis), `coefCb`/`coefCr` index chroma
    * blocks (dims/16). Dims must be multiples of 16; coefficient
    * magnitudes must fit their huffman categories (enforced in the
    * entropy writer).
    */
  def encodeJpeg420Coeffs(width: Int, height: Int,
      coefY: (Int, Int) => Array[Int],
      coefCb: (Int, Int) => Array[Int],
      coefCr: (Int, Int) => Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && width % 16 == 0 && height % 16 == 0 &&
      width <= 0xffff && height <= 0xffff, "jpeg: 4:2:0 dims must be 16-multiples")
    val out = new java.io.ByteArrayOutputStream(1024)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }
    marker(0xd8) // SOI
    marker(0xe0); w16(16) // APP0 JFIF
    Seq('J', 'F', 'I', 'F', 0).foreach(c => w8(c.toInt))
    w16(0x0101); w8(0); w16(1); w16(1); w8(0); w8(0)
    // two all-ones DQTs (0 luma, 1 chroma)
    marker(0xdb); w16(2 + 65); w8(0); (0 until 64).foreach(_ => w8(1))
    marker(0xdb); w16(2 + 65); w8(1); (0 until 64).foreach(_ => w8(1))
    marker(0xc0); w16(8 + 9); w8(8); w16(height); w16(width); w8(3)
    w8(1); w8(0x22); w8(0) // Y: 2x2 sampling, quant 0
    w8(2); w8(0x11); w8(1) // Cb: 1x1, quant 1
    w8(3); w8(0x11); w8(1) // Cr: 1x1, quant 1
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); w16(2 + 1 + 16 + vals.length); w8((cls << 4) | id)
      (1 to 16).foreach(l => w8(bits(l))); vals.foreach(w8)
    }
    dht(0, 0, DcLumBits, DcLumVals); dht(1, 0, AcLumBits, AcLumVals)
    dht(0, 1, DcChrBits, DcChrVals); dht(1, 1, AcChrBits, AcChrVals)
    marker(0xda); w16(6 + 6); w8(3)
    w8(1); w8(0x00); w8(2); w8(0x11); w8(3); w8(0x11)
    w8(0); w8(63); w8(0) // Ss, Se, AhAl
    val (dcLC, dcLL) = buildEncodeTable(DcLumBits, DcLumVals)
    val (acLC, acLL) = buildEncodeTable(AcLumBits, AcLumVals)
    val (dcCC, dcCL) = buildEncodeTable(DcChrBits, DcChrVals)
    val (acCC, acCL) = buildEncodeTable(AcChrBits, AcChrVals)
    val bwr = new BitWriter(out)
    val quant = new Array[Int](64)
    val prevDc = new Array[Int](3)
    def block(cf: Array[Int], comp: Int): Unit = {
      require(cf.length == 64, "jpeg: coefficient block must have 64 entries")
      var k = 0
      while (k < 64) { quant(k) = cf(Zigzag(k)); k += 1 }
      prevDc(comp) =
        if (comp == 0) writeEntropyBlock(bwr, quant, prevDc(comp), dcLC, dcLL, acLC, acLL)
        else writeEntropyBlock(bwr, quant, prevDc(comp), dcCC, dcCL, acCC, acCL)
    }
    val mcusX = width / 16
    val mcusY = height / 16
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        // T.81 interleave order: Y(2x2 raster), Cb, Cr
        block(coefY(mx * 2, my * 2), 0)
        block(coefY(mx * 2 + 1, my * 2), 0)
        block(coefY(mx * 2, my * 2 + 1), 0)
        block(coefY(mx * 2 + 1, my * 2 + 1), 0)
        block(coefCb(mx, my), 1)
        block(coefCr(mx, my), 2)
        mx += 1
      }
      my += 1
    }
    bwr.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Progressive encoding (ITU T.81 Annex G.1) — fixture side of the
  // mm_jpeg_progressive exactness pin
  // ---------------------------------------------------------------

  /** Huffman table for progressive AC scans: all 176 symbols
    * (r << 4) | s for r 0..15, s 0..10 — EOBn (s=0, r<=14), ZRL
    * (0xF0) and every run/size a |AC| < 1024 stream can emit — coded
    * at a uniform 8 bits. Annex K's AC tables lack the EOBn symbols
    * progressive needs (they only define EOB0), so a custom table is
    * mandatory; a uniform-length one keeps construction trivially
    * canonical (codes 0..175, the all-ones code unused per C.2).
    */
  private val ProgAcBits: Array[Int] = { val b = new Array[Int](17); b(8) = 176; b }
  private val ProgAcVals: Array[Int] =
    (for (r <- 0 until 16; s <- 0 to 10) yield (r << 4) | s).toArray

  /** Entropy writer for progressive AC scans (T.81 G.1.2.2/G.1.2.3,
    * the libjpeg-style EOB-run + buffered-correction-bit procedure —
    * reimplemented from the spec figures, not copied): `firstBlock`
    * codes the band at precision Al with EOB runs across blocks;
    * `refineBlock` emits newly-significant coefficients as (run,1)
    * codes with sign bits and buffers correction bits of
    * already-significant coefficients until the next emitted symbol
    * (or the pending EOB run). `endScan` MUST be called before the
    * byte-align flush.
    */
  private final class ProgAcWriter(bwr: BitWriter, acC: Array[Int], acL: Array[Int]) {
    private var eobrun = 0
    private val beBits = new scala.collection.mutable.ArrayBuffer[Int]()

    private def emitEobrun(): Unit = if (eobrun > 0) {
      val nbits = 31 - Integer.numberOfLeadingZeros(eobrun)
      require(nbits <= 14, "jpeg: EOB run exceeds EOB14")
      bwr.write(acC(nbits << 4), acL(nbits << 4))
      if (nbits > 0) bwr.write(eobrun - (1 << nbits), nbits)
      eobrun = 0
      beBits.foreach(b => bwr.write(b, 1))
      beBits.clear()
    }

    def firstBlock(cf: Array[Int], ss: Int, se: Int, al: Int): Unit = {
      var r = 0
      var k = ss
      while (k <= se) {
        val v = cf(Zigzag(k))
        // AC point transform: divide by 2^Al truncating toward zero
        val t = if (v < 0) -((-v) >> al) else v >> al
        if (t == 0) r += 1
        else {
          emitEobrun()
          while (r > 15) { bwr.write(acC(0xf0), acL(0xf0)); r -= 16 }
          val s = magnitudeCategory(t)
          require(s <= 10, s"jpeg: |AC| ${t} exceeds category 10")
          bwr.write(acC((r << 4) | s), acL((r << 4) | s))
          bwr.write(if (t < 0) t + (1 << s) - 1 else t, s)
          r = 0
        }
        k += 1
      }
      if (r > 0) { eobrun += 1; if (eobrun == 0x7fff) emitEobrun() }
    }

    def refineBlock(cf: Array[Int], ss: Int, se: Int, al: Int): Unit = {
      // pre-pass: magnitudes at this precision + last newly-significant
      var eobPos = ss - 1
      val absv = new Array[Int](se + 1)
      var k = ss
      while (k <= se) {
        val a = math.abs(cf(Zigzag(k))) >> al
        absv(k) = a
        if (a == 1) eobPos = k
        k += 1
      }
      var r = 0 // run length counts ZERO-HISTORY coefficients only
      val brBits = new scala.collection.mutable.ArrayBuffer[Int]()
      k = ss
      while (k <= se) {
        val t = absv(k)
        if (t == 0) r += 1
        else {
          // ZRLs not emittable past the last newly-significant coef:
          // trailing runs fold into the EOB run instead
          while (r > 15 && k <= eobPos) {
            emitEobrun()
            bwr.write(acC(0xf0), acL(0xf0)); r -= 16
            brBits.foreach(b => bwr.write(b, 1)); brBits.clear()
          }
          if (t > 1) brBits += (t & 1) // already significant: correction bit
          else { // newly significant: (run,1) + sign + buffered bits
            emitEobrun()
            bwr.write(acC((r << 4) | 1), acL((r << 4) | 1))
            bwr.write(if (cf(Zigzag(k)) < 0) 0 else 1, 1)
            brBits.foreach(b => bwr.write(b, 1)); brBits.clear()
            r = 0
          }
        }
        k += 1
      }
      if (r > 0 || brBits.nonEmpty) {
        eobrun += 1
        beBits ++= brBits
        if (eobrun == 0x7fff) emitEobrun()
      }
    }

    def endScan(): Unit = emitEobrun()
  }

  /** Progressive (SOF2) sibling of [[encodeJpeg420Coeffs]]: the SAME
    * quantized-coefficient fixture written as a 10-scan progressive
    * stream — interleaved DC first at Al=1, spectral-selection AC
    * first scans (Y split 1-5 / 6-63, chroma 1-63) at Al=1, the four
    * AC refinements to Al=0, and the interleaved DC refinement.
    * Baseline entropy coding and the progressive scan script are both
    * exactly invertible, so decode(progressive) must equal
    * decode(baseline) pixel-for-pixel — the mm_jpeg_progressive lane
    * reuses mm_jpeg_color's generated oracle unchanged, and
    * MediaCodecPropertySpec pins the equality on random fixtures.
    */
  def encodeJpeg420ProgCoeffs(width: Int, height: Int,
      coefY: (Int, Int) => Array[Int],
      coefCb: (Int, Int) => Array[Int],
      coefCr: (Int, Int) => Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && width % 16 == 0 && height % 16 == 0 &&
      width <= 0xffff && height <= 0xffff, "jpeg: 4:2:0 dims must be 16-multiples")
    val out = new java.io.ByteArrayOutputStream(1024)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }
    marker(0xd8) // SOI
    marker(0xe0); w16(16) // APP0 JFIF
    Seq('J', 'F', 'I', 'F', 0).foreach(c => w8(c.toInt))
    w16(0x0101); w8(0); w16(1); w16(1); w8(0); w8(0)
    marker(0xdb); w16(2 + 65); w8(0); (0 until 64).foreach(_ => w8(1))
    marker(0xdb); w16(2 + 65); w8(1); (0 until 64).foreach(_ => w8(1))
    marker(0xc2); w16(8 + 9); w8(8); w16(height); w16(width); w8(3) // SOF2
    w8(1); w8(0x22); w8(0) // Y: 2x2 sampling, quant 0
    w8(2); w8(0x11); w8(1) // Cb
    w8(3); w8(0x11); w8(1) // Cr
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); w16(2 + 1 + 16 + vals.length); w8((cls << 4) | id)
      (1 to 16).foreach(l => w8(bits(l))); vals.foreach(w8)
    }
    dht(0, 0, DcLumBits, DcLumVals)
    dht(0, 1, DcChrBits, DcChrVals)
    dht(1, 0, ProgAcBits, ProgAcVals) // shared progressive AC table
    val (dcLC, dcLL) = buildEncodeTable(DcLumBits, DcLumVals)
    val (dcCC, dcCL) = buildEncodeTable(DcChrBits, DcChrVals)
    val (acC, acL) = buildEncodeTable(ProgAcBits, ProgAcVals)
    val mcusX = width / 16
    val mcusY = height / 16

    def sos(compIds: Seq[(Int, Int)], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda); w16(6 + 2 * compIds.length); w8(compIds.length)
      compIds.foreach { case (id, tt) => w8(id); w8(tt) }
      w8(ss); w8(se); w8((ah << 4) | al)
    }

    /** One block per Y position in T.81 interleave order with `f`. */
    def mcuLoop(f: (Int, Array[Int]) => Unit): Unit = {
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          f(0, coefY(mx * 2, my * 2)); f(0, coefY(mx * 2 + 1, my * 2))
          f(0, coefY(mx * 2, my * 2 + 1)); f(0, coefY(mx * 2 + 1, my * 2 + 1))
          f(1, coefCb(mx, my)); f(2, coefCr(mx, my))
          mx += 1
        }
        my += 1
      }
    }

    // scan 1: DC first, interleaved, Al=1 (arithmetic shift — G.1.2.1)
    sos(Seq((1, 0x00), (2, 0x10), (3, 0x10)), 0, 0, 0, 1)
    locally {
      val bwr = new BitWriter(out)
      val prevDc = new Array[Int](3)
      mcuLoop { (comp, cf) =>
        val dcv = cf(0) >> 1
        val diff = dcv - prevDc(comp)
        prevDc(comp) = dcv
        val cat = magnitudeCategory(diff)
        val (c, l) = if (comp == 0) (dcLC, dcLL) else (dcCC, dcCL)
        bwr.write(c(cat), l(cat))
        if (cat > 0) bwr.write(if (diff < 0) diff + (1 << cat) - 1 else diff, cat)
      }
      bwr.flush()
    }

    /** AC scan over one component's full block raster. */
    def acScan(comp: Int, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      sos(Seq((comp + 1, 0x00)), ss, se, ah, al) // Ta = prog AC table 0
      val bwr = new BitWriter(out)
      val w = new ProgAcWriter(bwr, acC, acL)
      val (bw, bh) = if (comp == 0) (mcusX * 2, mcusY * 2) else (mcusX, mcusY)
      def cf(bx: Int, by: Int) = comp match {
        case 0 => coefY(bx, by)
        case 1 => coefCb(bx, by)
        case _ => coefCr(bx, by)
      }
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          if (ah == 0) w.firstBlock(cf(bx, by), ss, se, al)
          else w.refineBlock(cf(bx, by), ss, se, al)
          bx += 1
        }
        by += 1
      }
      w.endScan()
      bwr.flush()
    }

    acScan(0, 1, 5, 0, 1); acScan(0, 6, 63, 0, 1) // Y spectral bands, first
    acScan(1, 1, 63, 0, 1); acScan(2, 1, 63, 0, 1) // chroma, first
    acScan(0, 1, 5, 1, 0); acScan(0, 6, 63, 1, 0) // Y refinements
    acScan(1, 1, 63, 1, 0); acScan(2, 1, 63, 1, 0) // chroma refinements

    // final scan: DC refinement, interleaved, raw bits (no tables)
    sos(Seq((1, 0x00), (2, 0x00), (3, 0x00)), 0, 0, 1, 0)
    locally {
      val bwr = new BitWriter(out)
      mcuLoop { (_, cf) => bwr.write(cf(0) & 1, 1) }
      bwr.flush()
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Progressive grayscale sibling of [[encodeJpegGrayCoeffs]] — same
    * coefficient fixture, 6-scan progressive script with NON-interleaved
    * DC scans (the single-component layout real grayscale progressive
    * files use). decode ≡ the baseline decode of the same coefficients.
    */
  def encodeJpegGrayProgCoeffs(width: Int, height: Int,
      coef: (Int, Int) => Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && width % 8 == 0 && height % 8 == 0 &&
      width <= 0xffff && height <= 0xffff, "jpeg: dims must be 8-multiples")
    val out = new java.io.ByteArrayOutputStream(1024)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }
    marker(0xd8)
    marker(0xe0); w16(16)
    Seq('J', 'F', 'I', 'F', 0).foreach(c => w8(c.toInt))
    w16(0x0101); w8(0); w16(1); w16(1); w8(0); w8(0)
    marker(0xdb); w16(2 + 65); w8(0); (0 until 64).foreach(_ => w8(1))
    marker(0xc2); w16(8 + 3); w8(8); w16(height); w16(width); w8(1) // SOF2
    w8(1); w8(0x11); w8(0)
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); w16(2 + 1 + 16 + vals.length); w8((cls << 4) | id)
      (1 to 16).foreach(l => w8(bits(l))); vals.foreach(w8)
    }
    dht(0, 0, DcLumBits, DcLumVals)
    dht(1, 0, ProgAcBits, ProgAcVals)
    val (dcC, dcL) = buildEncodeTable(DcLumBits, DcLumVals)
    val (acC, acL) = buildEncodeTable(ProgAcBits, ProgAcVals)
    val bw = width / 8
    val bh = height / 8

    def sos(ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda); w16(8); w8(1); w8(1); w8(0x00)
      w8(ss); w8(se); w8((ah << 4) | al)
    }
    def raster(f: Array[Int] => Unit): Unit = {
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) { f(coef(bx, by)); bx += 1 }
        by += 1
      }
    }

    sos(0, 0, 0, 1) // DC first at Al=1
    locally {
      val bwr = new BitWriter(out)
      var prevDc = 0
      raster { cf =>
        val dcv = cf(0) >> 1
        val diff = dcv - prevDc
        prevDc = dcv
        val cat = magnitudeCategory(diff)
        bwr.write(dcC(cat), dcL(cat))
        if (cat > 0) bwr.write(if (diff < 0) diff + (1 << cat) - 1 else diff, cat)
      }
      bwr.flush()
    }
    def acScan(ss: Int, se: Int, ah: Int, al: Int): Unit = {
      sos(ss, se, ah, al)
      val bwr = new BitWriter(out)
      val w = new ProgAcWriter(bwr, acC, acL)
      raster { cf =>
        if (ah == 0) w.firstBlock(cf, ss, se, al) else w.refineBlock(cf, ss, se, al)
      }
      w.endScan()
      bwr.flush()
    }
    acScan(1, 5, 0, 1); acScan(6, 63, 0, 1)
    acScan(1, 5, 1, 0); acScan(6, 63, 1, 0)
    sos(0, 0, 1, 0) // DC refinement: raw bits
    locally {
      val bwr = new BitWriter(out)
      raster { cf => bwr.write(cf(0) & 1, 1) }
      bwr.flush()
    }
    marker(0xd9)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Decoder
  // ---------------------------------------------------------------

  private final case class Component(id: Int, quantId: Int,
    h: Int, v: Int, var dcTable: Int = 0, var acTable: Int = 0)

  /** Decode a baseline JFIF/JPEG stream. Supports SOF0, 8-bit, 1 or 3
    * components, sampling factors 1..2 per axis (4:4:4, 4:2:0, 4:2:2,
    * 4:4:0) with interleaved MCUs, box (nearest) chroma upsampling and
    * FIXED-POINT integer YCbCr->RGB (single >>16 rounding point per
    * channel, so the color path is oracle-replayable the same way the
    * IDCT is); progressive (SOF2) streams and restart intervals decode;
    * throws IllegalArgumentException on anything else (arithmetic
    * coding, 12-bit precision).
    */
  def decodeJpeg(bytes: Array[Byte]): JpegImage =
    try decodeJpeg0(bytes, null)
    catch { // any out-of-bounds read is a truncation, not a crash
      case _: ArrayIndexOutOfBoundsException =>
        throw new IllegalArgumentException("jpeg: truncated stream")
    }

  /** Per-component QUANTIZED coefficient planes over the exact
    * ceil(dim/8) block grid, natural order within each 64-entry block —
    * the entropy layer's output BEFORE dequantization/IDCT, which T.81
    * defines exactly (unlike the IDCT), so it is byte-comparable
    * across independent implementations (JpegRealStreamSpec pins it
    * against libjpeg's jpeg_read_coefficients on real encoder
    * output). */
  final case class JpegCoefs(width: Int, height: Int,
      blocksW: Array[Int], blocksH: Array[Int], planes: Array[Array[Int]])

  def decodeJpegCoefficients(bytes: Array[Byte]): JpegCoefs = {
    val sink = new CoefSink
    try decodeJpeg0(bytes, sink)
    catch {
      case _: ArrayIndexOutOfBoundsException =>
        throw new IllegalArgumentException("jpeg: truncated stream")
    }
    JpegCoefs(sink.width, sink.height, sink.blocksW, sink.blocksH, sink.planes)
  }

  private final class CoefSink {
    var width = 0
    var height = 0
    var blocksW: Array[Int] = null
    var blocksH: Array[Int] = null
    var planes: Array[Array[Int]] = null
    def init(w: Int, h: Int, bw: Array[Int], bh: Array[Int]): Unit = {
      width = w; height = h; blocksW = bw; blocksH = bh
      planes = Array.tabulate(bw.length)(i => new Array[Int](bw(i) * bh(i) * 64))
    }
    /** Store one natural-order quantized block if inside the exact grid. */
    def put(ci: Int, bx: Int, by: Int, blk: Array[Int]): Unit =
      if (bx < blocksW(ci) && by < blocksH(ci))
        System.arraycopy(blk, 0, planes(ci), (by * blocksW(ci) + bx) * 64, 64)
  }

  private def decodeJpeg0(bytes: Array[Byte], sink: CoefSink): JpegImage = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "jpeg: missing SOI")
    var pos = 2
    def u8(): Int = { val v = bytes(pos) & 0xff; pos += 1; v }
    def u16(): Int = { val v = ((bytes(pos) & 0xff) << 8) | (bytes(pos + 1) & 0xff); pos += 2; v }

    val quantTables = new Array[Array[Int]](4)
    val dcTables = new Array[HuffDecoder](4)
    val acTables = new Array[HuffDecoder](4)
    var width = 0
    var height = 0
    var comps: Array[Component] = null
    var progressive = false
    var restartInterval = 0

    // progressive state, initialized at the first SOS: per-component
    // RAW coefficient planes (natural order, padded to the MCU grid;
    // dequantization happens once, at IDCT time after ALL scans)
    var pHMax = 0; var pVMax = 0; var pMcusX = 0; var pMcusY = 0
    var coefPlanes: Array[Array[Int]] = null
    var padW: Array[Int] = null // blocks per padded row, per component

    var scanStart = -1 // baseline: entropy start; progressive decodes in-loop
    var headerDone = false
    while (!headerDone) {
      if (pos + 2 > bytes.length) throw new IllegalArgumentException("jpeg: truncated before SOS")
      var m = u8()
      if (m != 0xff) throw new IllegalArgumentException(f"jpeg: expected marker, got 0x$m%02X")
      m = u8()
      m match {
        case 0xd8 => // stray SOI: ignore
        case 0xd9 =>
          if (progressive && coefPlanes != null) headerDone = true // EOI ends the scan loop
          else throw new IllegalArgumentException("jpeg: EOI before SOS")
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
          progressive = m == 0xc2
          val segLen0 = u16()
          val segEnd = pos + segLen0 - 2 // end of segment content
          val precision = u8()
          require(precision == 8, s"jpeg: unsupported precision $precision")
          height = u16(); width = u16()
          val n = u8()
          require(n == 1 || n == 3, s"jpeg: unsupported component count $n")
          comps = Array.fill(n)(null)
          var i = 0
          while (i < n) {
            val id = u8(); val samp = u8(); val q = u8()
            val sh = samp >> 4; val sv = samp & 0x0f
            require(sh >= 1 && sh <= 2 && sv >= 1 && sv <= 2,
              f"jpeg: unsupported sampling 0x$samp%02X (factors 1..2 only)")
            // T.81 A.2.2: a single-component scan is NON-interleaved —
            // one data unit per MCU in raster order over ceil(w/8) x
            // ceil(h/8) blocks; the declared sampling factors do not
            // shape the scan. Forcing 1x1 here makes the interleaved
            // MCU loop below degenerate to exactly that geometry
            // (decoding 2x2-declared grayscale as h*v blocks per MCU
            // would garble any image wider than one MCU).
            comps(i) = if (n == 1) Component(id, q, 1, 1) else Component(id, q, sh, sv)
            i += 1
          }
          pos = segEnd
        case x if x >= 0xc1 && x <= 0xcf && x != 0xc4 && x != 0xc8 && x != 0xcc =>
          throw new IllegalArgumentException(f"jpeg: unsupported SOF 0x$x%02X")
        case 0xc4 => // DHT (possibly several tables in one segment)
          val dhtLen = u16()
          val end = pos + dhtLen - 2
          while (pos < end) {
            val tc = u8()
            val cls = tc >> 4; val id = tc & 0x0f
            require(id < 4, "jpeg: huffman table id out of range")
            val bits = new Array[Int](17)
            var total = 0
            var l = 1
            while (l <= 16) { bits(l) = u8(); total += bits(l); l += 1 }
            val vals = new Array[Int](total)
            var i = 0
            while (i < total) { vals(i) = u8(); i += 1 }
            val dec = new HuffDecoder(bits, vals)
            if (cls == 0) dcTables(id) = dec else acTables(id) = dec
          }
        case 0xdb => // DQT
          val dqtLen = u16()
          val end = pos + dqtLen - 2
          while (pos < end) {
            val pq = u8()
            require(pq >> 4 == 0, "jpeg: 16-bit quant tables unsupported")
            val id = pq & 0x0f
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(i) = u8(); i += 1 }
            quantTables(id) = t
          }
        case 0xdd => // DRI: restart interval in MCUs (data units when
          // the scan is non-interleaved), 0 disables
          val l = u16()
          require(l == 4, "jpeg: bad DRI length")
          restartInterval = u16()
        case 0xda => // SOS
          val segLen = u16()
          val n = u8()
          require(comps != null, "jpeg: SOS before SOF")
          require(segLen == 6 + 2 * n, "jpeg: bad SOS length")
          if (!progressive) {
            require(n == comps.length, "jpeg: SOS component count mismatch")
            var i = 0
            while (i < n) {
              val id = u8(); val tt = u8()
              val c = comps.find(_.id == id).getOrElse(
                throw new IllegalArgumentException("jpeg: SOS references unknown component"))
              c.dcTable = tt >> 4; c.acTable = tt & 0x0f
              i += 1
            }
            pos += 3 // Ss, Se, AhAl
            scanStart = pos
            headerDone = true
          } else {
            // progressive scan: decode it here, then resume the marker
            // loop at the next marker (T.81 G.2)
            if (coefPlanes == null) {
              pHMax = comps.map(_.h).max; pVMax = comps.map(_.v).max
              pMcusX = (width + 8 * pHMax - 1) / (8 * pHMax)
              pMcusY = (height + 8 * pVMax - 1) / (8 * pVMax)
              padW = comps.map(c => pMcusX * c.h)
              coefPlanes = comps.zipWithIndex.map { case (c, i) =>
                new Array[Int](padW(i) * pMcusY * c.v * 64)
              }
            }
            val scanComps = new Array[Int](n)
            var i = 0
            while (i < n) {
              val id = u8(); val tt = u8()
              val ci = comps.indexWhere(_.id == id)
              require(ci >= 0, "jpeg: SOS references unknown component")
              comps(ci).dcTable = tt >> 4; comps(ci).acTable = tt & 0x0f
              scanComps(i) = ci; i += 1
            }
            val ss = u8(); val se = u8(); val ahAl = u8()
            val br = new BitReader(bytes, pos)
            decodeProgScan(br, comps, scanComps, ss, se, ahAl >> 4, ahAl & 0x0f,
              coefPlanes, padW, pMcusX, pMcusY, pHMax, pVMax, width, height,
              dcTables, acTables, restartInterval)
            // resume at the next non-stuffed marker
            var p = br.pos
            while (p + 1 < bytes.length &&
              !((bytes(p) & 0xff) == 0xff && bytes(p + 1) != 0x00)) p += 1
            pos = p
          }
        case x if x >= 0xe0 && x <= 0xef => // APPn: skip len-2 content bytes
          val l = u16(); pos += l - 2
        case 0xfe => // COM
          val l = u16(); pos += l - 2
        case other => throw new IllegalArgumentException(f"jpeg: unsupported marker 0x$other%02X")
      }
    }
    require(width > 0 && height > 0, "jpeg: missing SOF dims")

    val nComp = comps.length
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    if (sink != null) {
      def exW(c: Component): Int = ((width * c.h + hMax - 1) / hMax + 7) / 8
      def exH(c: Component): Int = ((height * c.v + vMax - 1) / vMax + 7) / 8
      sink.init(width, height, comps.map(exW), comps.map(exH))
    }
    // interleaved-scan geometry (T.81 A.2.3): MCU = 8*hMax x 8*vMax
    // pixels; component ci contributes h*v blocks per MCU into a plane
    // of mcusX*h x mcusY*v blocks
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val strides = comps.map(c => mcusX * c.h * 8)
    val planes = comps.zipWithIndex.map { case (c, i) =>
      new Array[Int](strides(i) * mcusY * c.v * 8)
    }
    val coefs = new Array[Int](64)
    val rawCoefs = new Array[Int](64)
    val spatial = new Array[Int](64)

    /** IDCT one natural-order coefficient block into the pixel plane. */
    def storeBlock(ci: Int, bxBlocks: Int, byBlocks: Int): Unit = {
      idctInt(coefs, spatial)
      val plane = planes(ci)
      val stride = strides(ci)
      val px0 = bxBlocks * 8
      val py0 = byBlocks * 8
      var j = 0
      while (j < 8) {
        var i = 0
        while (i < 8) {
          val v = spatial(j * 8 + i) + 128
          plane((py0 + j) * stride + px0 + i) =
            if (v < 0) 0 else if (v > 255) 255 else v
          i += 1
        }
        j += 1
      }
    }

    if (!progressive) {
      val br = new BitReader(bytes, scanStart)
      val prevDc = new Array[Int](nComp)
      var mcuCount = 0
      var rstN = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var ci = 0
          while (ci < nComp) {
            val c = comps(ci)
            val q = quantTables(c.quantId)
            require(q != null, "jpeg: missing quant table")
            val dcDec = dcTables(c.dcTable)
            val acDec = acTables(c.acTable)
            require(dcDec != null && acDec != null, "jpeg: missing huffman table")
            var sby = 0
            while (sby < c.v) {
              var sbx = 0
              while (sbx < c.h) {
                java.util.Arrays.fill(coefs, 0)
                if (sink != null) java.util.Arrays.fill(rawCoefs, 0)
                val cat = dcDec.decode(br)
                val diff = extend(br.receive(cat), cat)
                prevDc(ci) += diff
                coefs(Zigzag(0)) = prevDc(ci) * q(0)
                if (sink != null) rawCoefs(Zigzag(0)) = prevDc(ci)
                var k = 1
                var eob = false
                while (k < 64 && !eob) {
                  val rs = acDec.decode(br)
                  val run = rs >> 4; val sz = rs & 0x0f
                  if (sz == 0) {
                    if (run == 15) k += 16 // ZRL
                    else eob = true // EOB
                  } else {
                    k += run
                    require(k < 64, "jpeg: AC index overflow")
                    val v = extend(br.receive(sz), sz)
                    coefs(Zigzag(k)) = v * q(k)
                    if (sink != null) rawCoefs(Zigzag(k)) = v
                    k += 1
                  }
                }
                if (sink != null)
                  sink.put(ci, mx * c.h + sbx, my * c.v + sby, rawCoefs)
                storeBlock(ci, mx * c.h + sbx, my * c.v + sby)
                sbx += 1
              }
              sby += 1
            }
            ci += 1
          }
          // restart markers every `restartInterval` MCUs (not after the
          // last): byte-align, consume the cyclic RSTn, reset DC preds
          mcuCount += 1
          if (restartInterval > 0 && mcuCount % restartInterval == 0 &&
            !(my == mcusY - 1 && mx == mcusX - 1)) {
            br.consumeRst(rstN)
            rstN = (rstN + 1) & 7
            java.util.Arrays.fill(prevDc, 0)
          }
          mx += 1
        }
        my += 1
      }
    } else {
      // progressive: all scans already accumulated RAW coefficients in
      // coefPlanes — dequantize and IDCT each padded block once
      require(coefPlanes != null, "jpeg: progressive stream had no scans")
      if (sink != null) {
        var ci = 0
        while (ci < nComp) {
          val bw = padW(ci)
          var by = 0
          while (by < sink.blocksH(ci)) {
            var bx = 0
            while (bx < sink.blocksW(ci)) {
              System.arraycopy(coefPlanes(ci), (by * bw + bx) * 64, rawCoefs, 0, 64)
              sink.put(ci, bx, by, rawCoefs)
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
      }
      var ci = 0
      while (ci < nComp) {
        val c = comps(ci)
        val q = quantTables(c.quantId)
        require(q != null, "jpeg: missing quant table")
        val raw = coefPlanes(ci)
        val bw = padW(ci)
        val bh = pMcusY * c.v
        var by = 0
        while (by < bh) {
          var bx = 0
          while (bx < bw) {
            val off = (by * bw + bx) * 64
            var k = 0
            while (k < 64) {
              // raw plane is natural-order; quant table zigzag-order
              coefs(Zigzag(k)) = raw(off + Zigzag(k)) * q(k); k += 1
            }
            storeBlock(ci, bx, by)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
    }

    val px = new Array[Int](width * height)
    var yv = 0
    while (yv < height) {
      var xv = 0
      while (xv < width) {
        val p =
          if (nComp == 1) {
            val g = planes(0)(yv * strides(0) + xv)
            (g << 16) | (g << 8) | g
          } else {
            // box upsampling: component sample at (x*h/hMax, y*v/vMax)
            def sample(ci: Int): Int = {
              val c = comps(ci)
              val sx = xv * c.h / hMax
              val sy = yv * c.v / vMax
              planes(ci)(sy * strides(ci) + sx)
            }
            val y = sample(0)
            val cb = sample(1) - 128
            val cr = sample(2) - 128
            // fixed-point BT.601 inverse, ONE rounding shift per
            // channel (floor of >>16 after +32768): 91881/65536=1.402,
            // 22554/65536=0.344136, 46802/65536=0.714136,
            // 116130/65536=1.772 — replayed term-for-term by the
            // mm_jpeg_color DuckDB oracle (offset trick keeps the
            // numerator non-negative there so // == >>)
            val r = clamp8(y + ((91881 * cr + 32768) >> 16))
            val g = clamp8(y - ((22554 * cb + 46802 * cr + 32768) >> 16))
            val b = clamp8(y + ((116130 * cb + 32768) >> 16))
            (r << 16) | (g << 8) | b
          }
        px(yv * width + xv) = p
        xv += 1
      }
      yv += 1
    }
    JpegImage(width, height, px)
  }

  @inline private def clamp8(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  // ---------------------------------------------------------------
  // Progressive scan decoding (ITU T.81 Annex G.2)
  // ---------------------------------------------------------------

  /** Decode ONE progressive scan's entropy data into the raw
    * (natural-order, un-dequantized) coefficient planes. Covers all
    * four scan kinds: DC first (interleaved or single-component), DC
    * refinement (one raw bit per block), AC first with EOB runs
    * (G.2.2), and AC successive-approximation refinement with
    * correction bits (the figure-G.7 procedure). Coefficients
    * accumulate across scans; dequantization happens once at IDCT
    * time, after EOI.
    */
  private def decodeProgScan(br: BitReader, comps: Array[Component],
      scanComps: Array[Int], ss: Int, se: Int, ah: Int, al: Int,
      coefPlanes: Array[Array[Int]], padW: Array[Int],
      mcusX: Int, mcusY: Int, hMax: Int, vMax: Int, width: Int, height: Int,
      dcTables: Array[HuffDecoder], acTables: Array[HuffDecoder],
      restartInterval: Int): Unit = {
    require(ss >= 0 && se <= 63 && ss <= se, "jpeg: bad spectral band")
    require(ah >= 0 && ah <= 13 && al >= 0 && al <= 13, "jpeg: bad successive approximation")

    /** Exact (non-interleaved) data-unit grid of component ci —
      * ceil(compDim/8) per T.81 A.2.2, NOT the MCU-padded grid. */
    def exactW(ci: Int): Int = ((width * comps(ci).h + hMax - 1) / hMax + 7) / 8
    def exactH(ci: Int): Int = ((height * comps(ci).v + vMax - 1) / vMax + 7) / 8
    def blockOff(ci: Int, bx: Int, by: Int): Int = (by * padW(ci) + bx) * 64

    if (ss == 0) {
      require(se == 0, "jpeg: progressive DC scan must have Se=0 (T.81 G.1.1.1.1)")
      val prevDc = new Array[Int](comps.length)
      def dcUnit(ci: Int, bx: Int, by: Int): Unit = {
        val plane = coefPlanes(ci)
        val off = blockOff(ci, bx, by)
        if (ah == 0) { // first pass: baseline-style diff, shifted by Al
          val dcDec = dcTables(comps(ci).dcTable)
          require(dcDec != null, "jpeg: missing huffman table")
          val cat = dcDec.decode(br)
          val diff = extend(br.receive(cat), cat)
          prevDc(ci) += diff
          plane(off) = prevDc(ci) << al
        } else { // refinement: one raw bit per block
          if (br.readBit() != 0) plane(off) |= 1 << al
        }
      }
      var unitCount = 0
      var rstN = 0
      def maybeRestart(isLast: Boolean): Unit = {
        unitCount += 1
        if (restartInterval > 0 && unitCount % restartInterval == 0 && !isLast) {
          br.consumeRst(rstN)
          rstN = (rstN + 1) & 7
          java.util.Arrays.fill(prevDc, 0)
        }
      }
      if (scanComps.length > 1) { // interleaved MCU order
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            var si = 0
            while (si < scanComps.length) {
              val ci = scanComps(si)
              val c = comps(ci)
              var sby = 0
              while (sby < c.v) {
                var sbx = 0
                while (sbx < c.h) {
                  dcUnit(ci, mx * c.h + sbx, my * c.v + sby); sbx += 1
                }
                sby += 1
              }
              si += 1
            }
            maybeRestart(my == mcusY - 1 && mx == mcusX - 1)
            mx += 1
          }
          my += 1
        }
      } else { // single component: raster over the exact grid
        val ci = scanComps(0)
        val (ew, eh) = (exactW(ci), exactH(ci))
        var by = 0
        while (by < eh) {
          var bx = 0
          while (bx < ew) {
            dcUnit(ci, bx, by)
            maybeRestart(by == eh - 1 && bx == ew - 1)
            bx += 1
          }
          by += 1
        }
      }
    } else { // AC scan: always non-interleaved, one component
      require(scanComps.length == 1, "jpeg: progressive AC scans are non-interleaved")
      val ci = scanComps(0)
      val plane = coefPlanes(ci)
      val acDec = acTables(comps(ci).acTable)
      require(acDec != null, "jpeg: missing huffman table")
      val (ew, eh) = (exactW(ci), exactH(ci))
      var eobrun = 0
      val p1 = 1 << al
      val m1 = -1 << al

      def acFirstBlock(off: Int): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        var k = ss
        while (k <= se) {
          val rs = acDec.decode(br)
          val r = rs >> 4; val s = rs & 0x0f
          if (s != 0) {
            k += r
            require(k <= se, "jpeg: AC index past band end")
            plane(off + Zigzag(k)) = extend(br.receive(s), s) << al
            k += 1
          } else {
            if (r != 15) { // EOBn: run of 2^r + ext - 1 FURTHER blocks
              eobrun = (1 << r) - 1
              if (r > 0) eobrun += br.receive(r)
              return
            }
            k += 16 // ZRL
          }
        }
      }

      def acRefineBlock(off: Int): Unit = {
        var k = ss
        if (eobrun == 0) {
          var done = false
          while (k <= se && !done) {
            val rs = acDec.decode(br)
            var r = rs >> 4; val s = rs & 0x0f
            var newVal = 0
            if (s != 0) {
              require(s == 1, "jpeg: refinement scan size must be 1 (G.1.2.3)")
              newVal = if (br.readBit() != 0) p1 else m1
            } else if (r != 15) {
              eobrun = 1 << r
              if (r > 0) eobrun += br.receive(r)
              done = true
            }
            if (!done) {
              // advance over r zero-HISTORY coefficients, applying
              // correction bits to already-nonzero ones passed over
              var placed = false
              while (k <= se && !placed) {
                val idx = off + Zigzag(k)
                if (plane(idx) != 0) {
                  if (br.readBit() != 0 && (plane(idx) & p1) == 0)
                    plane(idx) += (if (plane(idx) >= 0) p1 else m1)
                  k += 1
                } else if (r == 0) {
                  if (newVal != 0) { plane(idx) = newVal; k += 1 }
                  else k += 1 // ZRL consumed its 16th zero-history coef
                  placed = true
                } else { r -= 1; k += 1 }
              }
            }
          }
        }
        if (eobrun > 0) {
          // whole remaining band: correction bits on nonzero history
          while (k <= se) {
            val idx = off + Zigzag(k)
            if (plane(idx) != 0) {
              if (br.readBit() != 0 && (plane(idx) & p1) == 0)
                plane(idx) += (if (plane(idx) >= 0) p1 else m1)
            }
            k += 1
          }
          eobrun -= 1
        }
      }

      var unitCount = 0
      var rstN = 0
      var by = 0
      while (by < eh) {
        var bx = 0
        while (bx < ew) {
          val off = blockOff(ci, bx, by)
          if (ah == 0) acFirstBlock(off) else acRefineBlock(off)
          // restarts count data units in a non-interleaved scan; the
          // encoder must terminate any EOB run at the boundary, so the
          // decoder resets it with the entropy state (T.81 G.1.2.2)
          unitCount += 1
          if (restartInterval > 0 && unitCount % restartInterval == 0 &&
            !(by == eh - 1 && bx == ew - 1)) {
            br.consumeRst(rstN)
            rstN = (rstN + 1) & 7
            eobrun = 0
          }
          bx += 1
        }
        by += 1
      }
    }
  }
}
