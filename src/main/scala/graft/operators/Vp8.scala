package graft.operators

import Vp8Tables._

/** Lossy WebP: a complete VP8 key-frame (intra) decoder per RFC 6386 —
  * the still-image half of VP8, which is what every lossy .webp file
  * contains. Implements the full normative pipeline: boolean
  * arithmetic decoder (RFC 7), frame/segmentation/filter/quantizer
  * headers (RFC 9-10), key-frame intra mode decoding incl. contextual
  * 4x4 sub-modes (RFC 11), multi-partition DCT token decoding with
  * per-band/context probabilities and per-frame updates (RFC 13),
  * dequantization (RFC 14.1), the exact integer inverse WHT/DCT
  * (RFC 14.3-14.4), all intra predictors (RFC 12), and the normal +
  * simple in-loop deblocking filters (RFC 15).
  *
  * VP8 reconstruction is bit-exact by specification; this decoder is
  * verified against the system libwebp on real encoder output (every
  * byte of every Y/U/V plane equal across sizes, qualities, and filter
  * settings — Vp8RealStreamSpec, tools/vp8_crosscheck.py) and in the
  * reverse direction (graft's fixture encoder's streams decode
  * identically through libwebp).
  *
  * Like the T.81 JPEG codec beside it ([[Jpeg]]), everything is pure
  * integer math, so decode results are deterministic across
  * partitions/retries — the property the multimodal lanes' digests
  * rely on at 100 TB.
  */
object Vp8 {

  final case class Vp8Image(
      width: Int, height: Int,
      y: Array[Int],           // width*height, 0..255
      u: Array[Int], v: Array[Int]) { // cw*ch each, cw=(w+1)/2
    def cw: Int = (width + 1) / 2
    def ch: Int = (height + 1) / 2

    /** Packed 0xRRGGBB pixels. The YUV→RGB step is NOT normative in
      * VP8 (only the YUV reconstruction is); this uses box chroma
      * upsampling and the same BT.601 fixed-point integer matrix as
      * the JPEG codec ([[Jpeg]]) so the two lossy formats share one
      * documented, deterministic color path. */
    def toRgb: Array[Int] = {
      val out = new Array[Int](width * height)
      val cwv = cw
      var yy = 0
      while (yy < height) {
        var xx = 0
        while (xx < width) {
          val lum = y(yy * width + xx)
          val ci = (yy / 2) * cwv + (xx / 2)
          val cb = u(ci) - 128
          val cr = v(ci) - 128
          def cl(v0: Int): Int = if (v0 < 0) 0 else if (v0 > 255) 255 else v0
          val r = cl(lum + ((91881 * cr + 32768) >> 16))
          val g = cl(lum - ((22554 * cb + 46802 * cr + 32768) >> 16))
          val b = cl(lum + ((116130 * cb + 32768) >> 16))
          out(yy * width + xx) = (r << 16) | (g << 8) | b
          xx += 1
        }
        yy += 1
      }
      out
    }
  }

  // ------------------------------------------------------------------
  // Boolean arithmetic coder (RFC 6386 section 7)
  // ------------------------------------------------------------------

  final class BoolDecoder(buf: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var range = 255
    private var value = (next() << 8) | next()
    private var bitCount = 0

    private def next(): Int = {
      val b = if (pos < end) buf(pos) & 0xff else 0
      pos += 1
      b
    }

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val big = split << 8
      var ret = 0
      if (value >= big) {
        ret = 1
        range -= split
        value -= big
      } else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= next() }
      }
      ret
    }

    /** n-bit unsigned literal, MSB first (RFC 9.1 "L(n)"). */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }

    /** Magnitude-then-sign signed literal (RFC 9.3). */
    def signedLiteral(n: Int): Int = {
      val v = literal(n)
      if (bool(128) == 1) -v else v
    }

    /** Walk a token tree (RFC 8.2); `at` lets callers skip the EOB arm. */
    def tree(t: Array[Int], probs: Array[Int], at: Int = 0): Int = {
      var i = at
      var leaf = t(i + bool(probs(i >> 1)))
      while (leaf > 0) {
        i = leaf
        leaf = t(i + bool(probs(i >> 1)))
      }
      -leaf
    }

    /** Tree walk with probabilities offset into a flat array. */
    def treeFlat(t: Array[Int], probs: Array[Int], pOff: Int, at: Int): Int = {
      var i = at
      var leaf = t(i + bool(probs(pOff + (i >> 1))))
      while (leaf > 0) {
        i = leaf
        leaf = t(i + bool(probs(pOff + (i >> 1))))
      }
      -leaf
    }
  }

  /** Boolean encoder (RFC 6386 section 7.2 + appendix): used by the
    * fixture writer ([[encodeVp8Fixture]]) and the roundtrip property
    * specs; its streams must decode identically through libwebp. */
  final class BoolEncoder {
    private val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24

    private def carry(): Unit = {
      var i = out.length - 1
      while (out(i) == -1) { out(i) = 0; i -= 1 }
      out(i) = (out(i) + 1).toByte
    }

    def bool(b: Int, prob: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (b != 0) { bottom += split; range -= split }
      else range = split
      while (range < 128) {
        range <<= 1
        if ((bottom & 0x80000000L) != 0) carry()
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          out += ((bottom >> 24) & 0xff).toByte
          bottom &= 0xffffffL
          bitCount = 8
        }
      }
    }

    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool((v >> i) & 1, 128); i -= 1 }
    }

    def signedLiteral(v: Int, n: Int): Unit = {
      literal(math.abs(v), n)
      bool(if (v < 0) 1 else 0, 128)
    }

    /** Encode the path to leaf value `leaf` through tree `t` (leaves
      * are stored non-positive, internal node indices >= 2). */
    def tree(t: Array[Int], probs: Array[Int], leaf: Int, at: Int = 0): Unit = {
      def contains(node: Int): Boolean =
        if (node <= 0) -node == leaf
        else contains(t(node)) || contains(t(node + 1))
      var i = at
      var done = false
      while (!done) {
        val b = if (contains(t(i))) 0 else 1
        bool(b, probs(i >> 1))
        val nxt = t(i + b)
        if (nxt <= 0) done = true else i = nxt
      }
    }

    /** Tree encode with probabilities offset into a flat array. */
    def treeFlat(t: Array[Int], probs: Array[Int], pOff: Int, leaf: Int,
        at: Int): Unit = {
      def contains(node: Int): Boolean =
        if (node <= 0) -node == leaf
        else contains(t(node)) || contains(t(node + 1))
      var i = at
      var done = false
      while (!done) {
        val b = if (contains(t(i))) 0 else 1
        bool(b, probs(pOff + (i >> 1)))
        val nxt = t(i + b)
        if (nxt <= 0) done = true else i = nxt
      }
    }

    def toBytes: Array[Byte] = {
      // flush by encoding 32 zero bits at prob 128 (vp8_stop_encode's
      // approach): every meaningful bit is forced out of the window,
      // and any decoder reads the stream identically — no hand-rolled
      // carry/alignment arithmetic to get subtly wrong
      var i = 0
      while (i < 32) { bool(0, 128); i += 1 }
      out.toArray
    }
  }

  // ------------------------------------------------------------------
  // Inverse transforms (RFC 6386 section 14.3-14.4) — exact integers
  // ------------------------------------------------------------------

  private def mul2(v: Int): Int = (v * 35468) >> 16       // sinpi8sqrt2

  /** In-place 4x4 inverse DCT: input/output raster order. */
  def idct4x4(b: Array[Int]): Unit = {
    val t = new Array[Int](16)
    var c = 0
    while (c < 4) {
      val i0 = b(c); val i1 = b(4 + c); val i2 = b(8 + c); val i3 = b(12 + c)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = mul2(i1) - (i3 + ((i3 * 20091) >> 16))
      val d1 = (i1 + ((i1 * 20091) >> 16)) + mul2(i3)
      t(c) = a1 + d1
      t(12 + c) = a1 - d1
      t(4 + c) = b1 + c1
      t(8 + c) = b1 - c1
      c += 1
    }
    var r = 0
    while (r < 4) {
      val i0 = t(r * 4); val i1 = t(r * 4 + 1); val i2 = t(r * 4 + 2); val i3 = t(r * 4 + 3)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = mul2(i1) - (i3 + ((i3 * 20091) >> 16))
      val d1 = (i1 + ((i1 * 20091) >> 16)) + mul2(i3)
      b(r * 4) = (a1 + d1 + 4) >> 3
      b(r * 4 + 3) = (a1 - d1 + 4) >> 3
      b(r * 4 + 1) = (b1 + c1 + 4) >> 3
      b(r * 4 + 2) = (b1 - c1 + 4) >> 3
      r += 1
    }
  }

  /** In-place 4x4 inverse Walsh-Hadamard (the Y2 DC transform). */
  def iwht4x4(b: Array[Int]): Unit = {
    val t = new Array[Int](16)
    var c = 0
    while (c < 4) {
      val a1 = b(c) + b(12 + c)
      val b1 = b(4 + c) + b(8 + c)
      val c1 = b(4 + c) - b(8 + c)
      val d1 = b(c) - b(12 + c)
      t(c) = a1 + b1
      t(4 + c) = c1 + d1
      t(8 + c) = a1 - b1
      t(12 + c) = d1 - c1
      c += 1
    }
    var r = 0
    while (r < 4) {
      val a1 = t(r * 4) + t(r * 4 + 3)
      val b1 = t(r * 4 + 1) + t(r * 4 + 2)
      val c1 = t(r * 4 + 1) - t(r * 4 + 2)
      val d1 = t(r * 4) - t(r * 4 + 3)
      b(r * 4) = (a1 + b1 + 3) >> 3
      b(r * 4 + 1) = (c1 + d1 + 3) >> 3
      b(r * 4 + 2) = (a1 - b1 + 3) >> 3
      b(r * 4 + 3) = (d1 - c1 + 3) >> 3
      r += 1
    }
  }

  // ------------------------------------------------------------------
  // Frame state
  // ------------------------------------------------------------------

  private final class Header {
    var width = 0
    var height = 0
    var mbW = 0
    var mbH = 0
    // segmentation
    var segEnabled = false
    var segUpdateMap = false
    var segAbsDelta = false
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    // filter
    var filterType = 0 // 0 = normal per WebP convention? RFC bit: 1 = simple
    var filterLevel = 0
    var sharpness = 0
    var lfDeltaEnabled = false
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    // quant
    var yAcQi = 0
    var yDcDelta = 0
    var y2DcDelta = 0
    var y2AcDelta = 0
    var uvDcDelta = 0
    var uvAcDelta = 0
    // skip
    var noSkipToken = false
    var probSkipFalse = 0
    // token probs [4][8][3][11] flat
    val coeffProbs: Array[Int] = DefaultCoeffProbsFlat.clone()
  }

  /** Dev-probe visibility into the last decoded frame's per-MB modes
    * (threadlocal; populated only when [[debugCapture]] is set). */
  private[graft] val debugCapture = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private[graft] val debugMbs =
    new ThreadLocal[Array[(Int, Int, Boolean, Array[Int])]]

  private final class MbInfo {
    var segment = 0
    var skip = false
    var yMode = 0
    var uvMode = 0
    val bModes = new Array[Int](16)
    var hasCoeffs = false
  }

  // per-segment dequant factors: [y1dc, y1ac, y2dc, y2ac, uvdc, uvac]
  private def dequantFactors(h: Header, seg: Int): Array[Int] = {
    val base =
      if (h.segEnabled) {
        if (h.segAbsDelta) h.segQuant(seg) else h.yAcQi + h.segQuant(seg)
      } else h.yAcQi
    def clampQ(v: Int, hi: Int = 127): Int = math.max(0, math.min(hi, v))
    val y1dc = DcQLookup(clampQ(base + h.yDcDelta))
    val y1ac = AcQLookup(clampQ(base))
    val y2dc = DcQLookup(clampQ(base + h.y2DcDelta)) * 2
    val y2ac = math.max(8, AcQLookup(clampQ(base + h.y2AcDelta)) * 155 / 100)
    // chroma DC index saturates at 117 (its value tops out at 132 per
    // RFC 14.1's table note)
    val uvdc = DcQLookup(clampQ(base + h.uvDcDelta, 117))
    val uvac = AcQLookup(clampQ(base + h.uvAcDelta))
    Array(y1dc, y1ac, y2dc, y2ac, uvdc, uvac)
  }

  // ------------------------------------------------------------------
  // Decode entry points
  // ------------------------------------------------------------------

  /** Decode a .webp container holding a lossy VP8 frame. Extended
    * (VP8X) still containers are walked through to their VP8 chunk;
    * animation and alpha sidecars are out of scope with clear errors,
    * and truncated streams fail with a message, never an
    * out-of-bounds. */
  def decodeWebpLossy(bytes: Array[Byte]): Vp8Image =
    try decodeWebpLossy0(bytes)
    catch {
      case _: ArrayIndexOutOfBoundsException =>
        throw new IllegalArgumentException("vp8: truncated stream")
    }

  private def decodeWebpLossy0(bytes: Array[Byte]): Vp8Image = {
    require(bytes.length >= 20, "vp8: short webp")
    def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    def u32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    require(tag(0) == "RIFF" && tag(8) == "WEBP", "vp8: not a webp")
    var off = 12
    while (off + 8 <= bytes.length) {
      val t = tag(off)
      val size = u32(off + 4)
      require(size >= 0 && off + 8 + size <= bytes.length,
        s"vp8: chunk '$t' overruns the container")
      t match {
        case "VP8 " => return decodeFrame(bytes, off + 8, size)
        case "ANIM" | "ANMF" =>
          throw new IllegalArgumentException(
            "vp8: animated webp not supported (still images only)")
        case _ => () // VP8X/ALPH/ICCP/EXIF/XMP: skip to the frame — this
        // entry returns the YUV planes only; Webp.decodeWebp is the
        // container-level API that merges the ALPH sidecar into RGBA
      }
      off += 8 + size + (size & 1)
    }
    throw new IllegalArgumentException(
      "vp8: no VP8 chunk (lossless VP8L? use Webp.decodeWebp)")
  }

  /** Decode a raw VP8 key frame. */
  def decodeFrame(buf: Array[Byte], off: Int, len: Int): Vp8Image = {
    require(len >= 10, "short vp8 frame")
    val b0 = buf(off) & 0xff
    val b1 = buf(off + 1) & 0xff
    val b2 = buf(off + 2) & 0xff
    val keyFrame = (b0 & 1) == 0
    require(keyFrame, "not a key frame (stills are always key frames)")
    val firstPartSize = (b0 >> 5) | (b1 << 3) | (b2 << 11)
    require((buf(off + 3) & 0xff) == 0x9d && (buf(off + 4) & 0xff) == 0x01 &&
      (buf(off + 5) & 0xff) == 0x2a, "bad start code")
    val h = new Header
    val w16 = (buf(off + 6) & 0xff) | ((buf(off + 7) & 0xff) << 8)
    val h16 = (buf(off + 8) & 0xff) | ((buf(off + 9) & 0xff) << 8)
    h.width = w16 & 0x3fff
    h.height = h16 & 0x3fff
    h.mbW = (h.width + 15) / 16
    h.mbH = (h.height + 15) / 16
    val part0 = off + 10
    val bd = new BoolDecoder(buf, part0, part0 + firstPartSize)

    bd.literal(1) // color space (must be 0 for compliant streams)
    bd.literal(1) // clamping type (pixels are clamped either way here)

    // --- segmentation (RFC 9.3) ---
    h.segEnabled = bd.bool(128) == 1
    if (h.segEnabled) {
      h.segUpdateMap = bd.bool(128) == 1
      val updateData = bd.bool(128) == 1
      if (updateData) {
        h.segAbsDelta = bd.bool(128) == 1
        var i = 0
        while (i < 4) {
          if (bd.bool(128) == 1) h.segQuant(i) = bd.signedLiteral(7)
          i += 1
        }
        i = 0
        while (i < 4) {
          if (bd.bool(128) == 1) h.segFilter(i) = bd.signedLiteral(6)
          i += 1
        }
      }
      if (h.segUpdateMap) {
        var i = 0
        while (i < 3) {
          h.segTreeProbs(i) = if (bd.bool(128) == 1) bd.literal(8) else 255
          i += 1
        }
      }
    }

    // --- loop filter (RFC 9.4) ---
    h.filterType = bd.literal(1) // 1 = simple filter
    h.filterLevel = bd.literal(6)
    h.sharpness = bd.literal(3)
    h.lfDeltaEnabled = bd.bool(128) == 1
    if (h.lfDeltaEnabled) {
      if (bd.bool(128) == 1) { // deltas updated this frame
        var i = 0
        while (i < 4) {
          if (bd.bool(128) == 1) h.refLfDelta(i) = bd.signedLiteral(6)
          i += 1
        }
        i = 0
        while (i < 4) {
          if (bd.bool(128) == 1) h.modeLfDelta(i) = bd.signedLiteral(6)
          i += 1
        }
      }
    }

    // --- token partitions (RFC 9.5) ---
    val nParts = 1 << bd.literal(2)
    val partsStart = part0 + firstPartSize
    val partOffsets = new Array[Int](nParts)
    val partEnds = new Array[Int](nParts)
    val dataStart = partsStart + 3 * (nParts - 1)
    var pi = 0
    var cursor = dataStart
    while (pi < nParts) {
      val size =
        if (pi < nParts - 1) {
          val o = partsStart + 3 * pi
          (buf(o) & 0xff) | ((buf(o + 1) & 0xff) << 8) | ((buf(o + 2) & 0xff) << 16)
        } else off + len - cursor
      partOffsets(pi) = cursor
      partEnds(pi) = cursor + size
      cursor += size
      pi += 1
    }
    val tokenBd = Array.tabulate(nParts)(i =>
      new BoolDecoder(buf, partOffsets(i), partEnds(i)))

    // --- quantizer indices (RFC 9.6) ---
    h.yAcQi = bd.literal(7)
    def qDelta(): Int = if (bd.bool(128) == 1) bd.signedLiteral(4) else 0
    h.yDcDelta = qDelta()
    h.y2DcDelta = qDelta()
    h.y2AcDelta = qDelta()
    h.uvDcDelta = qDelta()
    h.uvAcDelta = qDelta()

    bd.literal(1) // refresh entropy probs (irrelevant for a still)

    // --- token probability updates (RFC 13.4) ---
    var i = 0
    while (i < 4 * 8 * 3 * 11) {
      if (bd.bool(CoeffUpdateProbsFlat(i)) == 1) h.coeffProbs(i) = bd.literal(8)
      i += 1
    }

    h.noSkipToken = bd.bool(128) == 1
    if (h.noSkipToken) h.probSkipFalse = bd.literal(8)

    decodeMbs(h, bd, tokenBd)
  }

  // token ids
  private val TokEob = 0
  private val TokZero = 1

  private def decodeMbs(h: Header, bd: BoolDecoder,
      tokenBd: Array[BoolDecoder]): Vp8Image = {
    val mbW = h.mbW; val mbH = h.mbH
    val pw = mbW * 16; val ph = mbH * 16
    val cw = mbW * 8; val chh = mbH * 8
    val yPlane = new Array[Int](pw * ph)
    val uPlane = new Array[Int](cw * chh)
    val vPlane = new Array[Int](cw * chh)

    // --- pass 1: mode data for every MB (all in the first partition) ---
    val mbs = Array.fill(mbW * mbH)(new MbInfo)
    val dqBySeg = Array.tabulate(4)(s => dequantFactors(h, s))
    var mby = 0
    while (mby < mbH) {
      var mbx = 0
      while (mbx < mbW) {
        val mb = mbs(mby * mbW + mbx)
        if (h.segEnabled && h.segUpdateMap) {
          // segment_id tree: {2, 4, -0, -1, -2, -3} over 3 probs
          mb.segment =
            if (bd.bool(h.segTreeProbs(0)) == 0) bd.bool(h.segTreeProbs(1))
            else 2 + bd.bool(h.segTreeProbs(2))
        }
        if (h.noSkipToken) mb.skip = bd.bool(h.probSkipFalse) == 1
        mb.yMode = bd.tree(KfYModeTree, KfYModeProbs)
        if (mb.yMode == B_PRED) {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above =
              if (sy > 0) mb.bModes(sb - 4)
              else if (mby > 0) mbs((mby - 1) * mbW + mbx).bModes(12 + sx)
              else B_DC
            val left =
              if (sx > 0) mb.bModes(sb - 1)
              else if (mbx > 0) mbs(mby * mbW + mbx - 1).bModes(sy * 4 + 3)
              else B_DC
            mb.bModes(sb) = bd.treeFlat(BModeTree, KfBModeProbs,
              (above * 10 + left) * 9, 0)
            sb += 1
          }
        } else {
          // implied sub-modes for the bmode context of later MBs
          val implied = mb.yMode match {
            case DC_PRED => B_DC
            case V_PRED => B_VE
            case H_PRED => B_HE
            case _ => B_TM
          }
          java.util.Arrays.fill(mb.bModes, implied)
        }
        mb.uvMode = bd.tree(UvModeTree, KfUvModeProbs)
        mbx += 1
      }
      mby += 1
    }

    // --- pass 2: residuals + reconstruction, MB raster order ---
    // nonzero contexts: per MB column, 4 Y + 2 U + 2 V + 1 Y2 flags
    val aboveNz = Array.fill(mbW)(new Array[Int](9))
    val leftNz = new Array[Int](9)
    val coeffs = new Array[Int](25 * 16) // 16 Y, 4 U, 4 V, 1 Y2

    mby = 0
    while (mby < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      val tbd = tokenBd(mby % tokenBd.length)
      var mbx = 0
      while (mbx < mbW) {
        val mb = mbs(mby * mbW + mbx)
        val dq = dqBySeg(if (h.segEnabled) mb.segment else 0)
        val hasY2 = mb.yMode != B_PRED
        java.util.Arrays.fill(coeffs, 0)
        val aNz = aboveNz(mbx)

        if (mb.skip) {
          // skipped MB: zero coefficients; clear the Y/U/V contexts and,
          // when the mode has a Y2 block, the Y2 context as well — a
          // skipped B_PRED MB leaves the Y2 context UNCHANGED (RFC 13.1)
          var k = 0
          while (k < 8) { aNz(k) = 0; leftNz(k) = 0; k += 1 }
          if (hasY2) { aNz(8) = 0; leftNz(8) = 0 }
          mb.hasCoeffs = false
        } else {
          // The context arrays update IN PLACE as blocks decode: when
          // block (sx,sy) is reached, aNz(sx) holds the flag of the
          // block directly above it (this MB's (sx,sy-1) for sy>0, the
          // above MB's bottom row otherwise) and leftNz(sy) the block
          // to its left — the RFC 13.3 neighbor rule with no extra
          // bookkeeping.
          var anyNz = false
          // Y2 block (type 1)
          if (hasY2) {
            val nz = decodeBlock(tbd, h.coeffProbs, 1,
              leftNz(8) + aNz(8), 0, coeffs, 24 * 16, dq(2), dq(3))
            val f = if (nz) 1 else 0
            leftNz(8) = f
            aNz(8) = f
            if (nz) anyNz = true
          }
          // 16 Y blocks (type 0 with Y2, else type 3)
          val yType = if (hasY2) 0 else 3
          val firstCoeff = if (hasY2) 1 else 0
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val nz = decodeBlock(tbd, h.coeffProbs, yType,
              leftNz(sy) + aNz(sx), firstCoeff, coeffs, sb * 16, dq(0), dq(1))
            val f = if (nz) 1 else 0
            leftNz(sy) = f
            aNz(sx) = f
            if (nz) anyNz = true
            sb += 1
          }
          // U (type 2) then V (type 2)
          var plane = 0
          while (plane < 2) {
            val base = if (plane == 0) 16 else 20
            val ci = 4 + plane * 2
            var cb = 0
            while (cb < 4) {
              val sx = cb & 1; val sy = cb >> 1
              val nz = decodeBlock(tbd, h.coeffProbs, 2,
                leftNz(ci + sy) + aNz(ci + sx), 0,
                coeffs, (base + cb) * 16, dq(4), dq(5))
              val f = if (nz) 1 else 0
              leftNz(ci + sy) = f
              aNz(ci + sx) = f
              if (nz) anyNz = true
              cb += 1
            }
            plane += 1
          }
          mb.hasCoeffs = anyNz
        }

        reconstructMb(h, mb, mbx, mby, coeffs, yPlane, uPlane, vPlane, pw, cw)
        mbx += 1
      }
      mby += 1
    }

    if (debugCapture.get()) {
      debugMbs.set(mbs.map(m => (m.yMode, m.uvMode, m.skip, m.bModes.clone())))
    }

    // --- loop filter (in place, after the full reconstruction pass:
    // intra prediction above used the unfiltered samples, the OUTPUT
    // frame is the filtered one) ---
    if (h.filterLevel > 0) {
      loopFilter(h, mbs, yPlane, uPlane, vPlane, pw, cw)
    }

    crop(h, yPlane, uPlane, vPlane, pw, cw)
  }

  /** Decode one 4x4 coefficient block's tokens; returns "has any
    * decoded position" (the context flag, RFC 13.3), writing
    * DEQUANTIZED coefficients in raster order. */
  private def decodeBlock(bd: BoolDecoder, probs: Array[Int], blockType: Int,
      ctx0: Int, firstCoeff: Int, out: Array[Int], outOff: Int,
      dcQ: Int, acQ: Int): Boolean = {
    var c = firstCoeff
    var ctx = ctx0
    var skipEob = false
    while (c < 16) {
      val band = CoeffBands(c)
      val pOff = ((blockType * 8 + band) * 3 + ctx) * 11
      val tok = bd.treeFlat(CoeffTree, probs, pOff, if (skipEob) 2 else 0)
      if (tok == TokEob) return c > firstCoeff
      if (tok == TokZero) {
        ctx = 0
        skipEob = true
        c += 1
      } else {
        var v = 0
        if (tok <= 5) { // literal 1..4 (token 2 => value 1)
          v = tok - 1
          ctx = if (v == 1) 1 else 2
        } else { // categories
          val cat = tok - 6
          val catProbs = CatProbs(cat)
          var extra = 0
          var i = 0
          while (i < catProbs.length) {
            extra = (extra << 1) | bd.bool(catProbs(i))
            i += 1
          }
          v = CatBase(cat) + extra
          ctx = 2
        }
        if (bd.bool(128) == 1) v = -v
        val q = if (c == 0) dcQ else acQ
        out(outOff + Zigzag(c)) = v * q
        skipEob = false
        c += 1
      }
    }
    true
  }

  // ------------------------------------------------------------------
  // Reconstruction: intra prediction + residual add
  // ------------------------------------------------------------------

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def addResidual(plane: Array[Int], stride: Int, x0: Int, y0: Int,
      blk: Array[Int], off: Int): Unit = {
    val b = new Array[Int](16)
    System.arraycopy(blk, off, b, 0, 16)
    idct4x4(b)
    var r = 0
    while (r < 4) {
      var c = 0
      while (c < 4) {
        val p = (y0 + r) * stride + x0 + c
        plane(p) = clamp255(plane(p) + b(r * 4 + c))
        c += 1
      }
      r += 1
    }
  }

  private def reconstructMb(h: Header, mb: MbInfo,
      mbx: Int, mby: Int, coeffs: Array[Int],
      yP: Array[Int], uP: Array[Int], vP: Array[Int],
      pw: Int, cw: Int): Unit = {
    val hasY2 = mb.yMode != B_PRED
    if (hasY2) {
      val y2 = new Array[Int](16)
      System.arraycopy(coeffs, 24 * 16, y2, 0, 16)
      iwht4x4(y2)
      var i = 0
      while (i < 16) { coeffs(i * 16) = y2(i); i += 1 }
    }

    val x0 = mbx * 16; val y0 = mby * 16
    if (mb.yMode == B_PRED) {
      var sb = 0
      while (sb < 16) {
        val sx = sb & 3; val sy = sb >> 2
        predict4x4(yP, pw, x0 + sx * 4, y0 + sy * 4, mb.bModes(sb),
          mbx, mby, h.mbW, sx)
        addResidual(yP, pw, x0 + sx * 4, y0 + sy * 4, coeffs, sb * 16)
        sb += 1
      }
    } else {
      predict16or8(yP, pw, x0, y0, 16, mb.yMode, mbx > 0, mby > 0)
      var sb = 0
      while (sb < 16) {
        val sx = sb & 3; val sy = sb >> 2
        addResidual(yP, pw, x0 + sx * 4, y0 + sy * 4, coeffs, sb * 16)
        sb += 1
      }
    }
    val cx0 = mbx * 8; val cy0 = mby * 8
    predict16or8(uP, cw, cx0, cy0, 8, mb.uvMode, mbx > 0, mby > 0)
    predict16or8(vP, cw, cx0, cy0, 8, mb.uvMode, mbx > 0, mby > 0)
    var cb = 0
    while (cb < 4) {
      val sx = cb & 1; val sy = cb >> 1
      addResidual(uP, cw, cx0 + sx * 4, cy0 + sy * 4, coeffs, (16 + cb) * 16)
      addResidual(vP, cw, cx0 + sx * 4, cy0 + sy * 4, coeffs, (20 + cb) * 16)
      cb += 1
    }
  }

  /** Whole-block DC/V/H/TM prediction for 16x16 luma or 8x8 chroma
    * (RFC 12.2). Unavailable above row reads 127, left column 129;
    * the top-left corner is 127 on the top row, 129 on the left edge. */
  private def predict16or8(plane: Array[Int], stride: Int, x0: Int, y0: Int,
      n: Int, mode: Int, hasLeft: Boolean, hasAbove: Boolean): Unit = {
    def above(i: Int): Int = if (hasAbove) plane((y0 - 1) * stride + x0 + i) else 127
    def left(i: Int): Int = if (hasLeft) plane((y0 + i) * stride + x0 - 1) else 129
    val corner =
      if (hasAbove && hasLeft) plane((y0 - 1) * stride + x0 - 1)
      else if (hasAbove) 129 // left edge, row > 0: top-left reads the 129 column
      else 127
    mode match {
      case DC_PRED =>
        var sum = 0
        var shift = if (n == 16) 3 else 2
        if (hasAbove) { var i = 0; while (i < n) { sum += above(i); i += 1 }; shift += 1 }
        if (hasLeft) { var i = 0; while (i < n) { sum += left(i); i += 1 }; shift += 1 }
        val dc = if (!hasAbove && !hasLeft) 128
          else (sum + (1 << (shift - 1))) >> shift
        var r = 0
        while (r < n) {
          var c = 0
          while (c < n) { plane((y0 + r) * stride + x0 + c) = dc; c += 1 }
          r += 1
        }
      case V_PRED =>
        var r = 0
        while (r < n) {
          var c = 0
          while (c < n) { plane((y0 + r) * stride + x0 + c) = above(c); c += 1 }
          r += 1
        }
      case H_PRED =>
        var r = 0
        while (r < n) {
          val l = left(r)
          var c = 0
          while (c < n) { plane((y0 + r) * stride + x0 + c) = l; c += 1 }
          r += 1
        }
      case _ => // TM
        var r = 0
        while (r < n) {
          val l = left(r)
          var c = 0
          while (c < n) {
            plane((y0 + r) * stride + x0 + c) = clamp255(l + above(c) - corner)
            c += 1
          }
          r += 1
        }
    }
  }

  /** 4x4 intra prediction (RFC 12.3). (x0,y0) are plane coordinates of
    * the subblock; sx its column within the MB. Above-right for
    * right-column subblocks always comes from the row above the MB. */
  private def predict4x4(plane: Array[Int], stride: Int, x0: Int, y0: Int,
      mode: Int, mbx: Int, mby: Int, mbW: Int, sx: Int): Unit = {
    val aboveRow = y0 - 1
    val a = new Array[Int](8)
    var i = 0
    // above 4
    while (i < 4) {
      a(i) = if (y0 > 0) plane(aboveRow * stride + x0 + i) else 127
      i += 1
    }
    // above-right 4: right-column subblocks read the MB's above row at
    // columns 16..19 (the already-reconstructed MB to the above-right);
    // interior subblocks read the 4 pixels to the right on their above
    // row. Off-frame above-right is 127.
    val mbTopRow = mby * 16 - 1
    if (sx == 3) {
      val xr = (mbx + 1) * 16
      i = 0
      while (i < 4) {
        a(4 + i) =
          if (mby == 0) 127
          else if (mbx + 1 < mbW) plane(mbTopRow * stride + xr + i)
          else plane(mbTopRow * stride + mbW * 16 - 1) // replicate last
        i += 1
      }
    } else {
      i = 0
      while (i < 4) {
        a(4 + i) = if (y0 > 0) plane(aboveRow * stride + x0 + 4 + i) else 127
        i += 1
      }
    }
    val l = new Array[Int](4)
    i = 0
    while (i < 4) {
      l(i) = if (x0 > 0) plane((y0 + i) * stride + x0 - 1) else 129
      i += 1
    }
    val p =
      if (x0 > 0 && y0 > 0) plane(aboveRow * stride + x0 - 1)
      else if (y0 > 0) 129
      else 127

    def avg2(x: Int, y: Int): Int = (x + y + 1) >> 1
    def avg3(x: Int, y: Int, z: Int): Int = (x + 2 * y + z + 2) >> 2
    def set(c: Int, r: Int, v: Int): Unit = plane((y0 + r) * stride + x0 + c) = v

    mode match {
      case B_DC =>
        val dc = (a(0) + a(1) + a(2) + a(3) + l(0) + l(1) + l(2) + l(3) + 4) >> 3
        var r = 0
        while (r < 4) { var c = 0; while (c < 4) { set(c, r, dc); c += 1 }; r += 1 }
      case B_TM =>
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { set(c, r, clamp255(l(r) + a(c) - p)); c += 1 }
          r += 1
        }
      case B_VE =>
        val row = Array(
          avg3(p, a(0), a(1)), avg3(a(0), a(1), a(2)),
          avg3(a(1), a(2), a(3)), avg3(a(2), a(3), a(4)))
        var r = 0
        while (r < 4) { var c = 0; while (c < 4) { set(c, r, row(c)); c += 1 }; r += 1 }
      case B_HE =>
        val col = Array(
          avg3(p, l(0), l(1)), avg3(l(0), l(1), l(2)),
          avg3(l(1), l(2), l(3)), avg3(l(2), l(3), l(3)))
        var r = 0
        while (r < 4) { var c = 0; while (c < 4) { set(c, r, col(r)); c += 1 }; r += 1 }
      case B_LD =>
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val j = c + r
            val v = if (j < 6) avg3(a(j), a(j + 1), a(j + 2))
              else avg3(a(6), a(7), a(7))
            set(c, r, v)
            c += 1
          }
          r += 1
        }
      case B_RD =>
        val e = Array(l(3), l(2), l(1), l(0), p, a(0), a(1), a(2), a(3))
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val j = 3 - r + c
            set(c, r, avg3(e(j), e(j + 1), e(j + 2)))
            c += 1
          }
          r += 1
        }
      case B_VR =>
        set(0, 0, avg2(p, a(0))); set(1, 0, avg2(a(0), a(1)))
        set(2, 0, avg2(a(1), a(2))); set(3, 0, avg2(a(2), a(3)))
        set(0, 1, avg3(l(0), p, a(0))); set(1, 1, avg3(p, a(0), a(1)))
        set(2, 1, avg3(a(0), a(1), a(2))); set(3, 1, avg3(a(1), a(2), a(3)))
        set(0, 2, avg3(l(1), l(0), p))
        set(1, 2, avg2(p, a(0))); set(2, 2, avg2(a(0), a(1))); set(3, 2, avg2(a(1), a(2)))
        set(0, 3, avg3(l(2), l(1), l(0)))
        set(1, 3, avg3(l(0), p, a(0))); set(2, 3, avg3(p, a(0), a(1)))
        set(3, 3, avg3(a(0), a(1), a(2)))
      case B_VL =>
        set(0, 0, avg2(a(0), a(1))); set(1, 0, avg2(a(1), a(2)))
        set(2, 0, avg2(a(2), a(3))); set(3, 0, avg2(a(3), a(4)))
        set(0, 1, avg3(a(0), a(1), a(2))); set(1, 1, avg3(a(1), a(2), a(3)))
        set(2, 1, avg3(a(2), a(3), a(4))); set(3, 1, avg3(a(3), a(4), a(5)))
        set(0, 2, avg2(a(1), a(2))); set(1, 2, avg2(a(2), a(3)))
        set(2, 2, avg2(a(3), a(4))); set(3, 2, avg3(a(4), a(5), a(6)))
        set(0, 3, avg3(a(1), a(2), a(3))); set(1, 3, avg3(a(2), a(3), a(4)))
        set(2, 3, avg3(a(3), a(4), a(5))); set(3, 3, avg3(a(5), a(6), a(7)))
      case B_HD =>
        set(0, 0, avg2(l(0), p)); set(1, 0, avg3(l(0), p, a(0)))
        set(2, 0, avg3(p, a(0), a(1))); set(3, 0, avg3(a(0), a(1), a(2)))
        set(0, 1, avg2(l(1), l(0))); set(1, 1, avg3(l(1), l(0), p))
        set(2, 1, avg2(l(0), p)); set(3, 1, avg3(l(0), p, a(0)))
        set(0, 2, avg2(l(2), l(1))); set(1, 2, avg3(l(2), l(1), l(0)))
        set(2, 2, avg2(l(1), l(0))); set(3, 2, avg3(l(1), l(0), p))
        set(0, 3, avg2(l(3), l(2))); set(1, 3, avg3(l(3), l(2), l(1)))
        set(2, 3, avg2(l(2), l(1))); set(3, 3, avg3(l(2), l(1), l(0)))
      case _ => // B_HU
        set(0, 0, avg2(l(0), l(1))); set(1, 0, avg3(l(0), l(1), l(2)))
        set(2, 0, avg2(l(1), l(2))); set(3, 0, avg3(l(1), l(2), l(3)))
        set(0, 1, avg2(l(1), l(2))); set(1, 1, avg3(l(1), l(2), l(3)))
        set(2, 1, avg2(l(2), l(3))); set(3, 1, avg3(l(2), l(3), l(3)))
        set(0, 2, avg2(l(2), l(3))); set(1, 2, avg3(l(2), l(3), l(3)))
        set(2, 2, l(3)); set(3, 2, l(3))
        set(0, 3, l(3)); set(1, 3, l(3)); set(2, 3, l(3)); set(3, 3, l(3))
    }
  }

  // ------------------------------------------------------------------
  // In-loop deblocking filter (RFC 6386 section 15)
  // ------------------------------------------------------------------

  private def c128(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** One 8-pixel segment across an edge; `get`/`set` address offsets
    * -4..3 relative to the edge. Returns nothing; mutates in place. */
  private def normalFilter(get: Int => Int, set: (Int, Int) => Unit,
      interior: Int, edge: Int, thresh: Int, mbEdge: Boolean): Unit = {
    val p3 = get(-4); val p2 = get(-3); val p1 = get(-2); val p0 = get(-1)
    val q0 = get(0); val q1 = get(1); val q2 = get(2); val q3 = get(3)
    def ad(x: Int, y: Int): Int = math.abs(x - y)
    val mask = ad(p3, p2) <= interior && ad(p2, p1) <= interior &&
      ad(p1, p0) <= interior && ad(q1, q0) <= interior &&
      ad(q2, q1) <= interior && ad(q3, q2) <= interior &&
      ad(p0, q0) * 2 + ad(p1, q1) / 2 <= edge
    if (!mask) return
    val hev = ad(p1, p0) > thresh || ad(q1, q0) > thresh
    val sp1 = p1 - 128; val sp0 = p0 - 128
    val sq0 = q0 - 128; val sq1 = q1 - 128
    if (!mbEdge) {
      // subblock filter (RFC 15.3)
      val a0 = c128((if (hev) c128(sp1 - sq1) else 0) + 3 * (sq0 - sp0))
      val f1 = c128(a0 + 4) >> 3
      val f2 = c128(a0 + 3) >> 3
      set(0, c128(sq0 - f1) + 128)
      set(-1, c128(sp0 + f2) + 128)
      if (!hev) {
        val a = (f1 + 1) >> 1
        set(1, c128(sq1 - a) + 128)
        set(-2, c128(sp1 + a) + 128)
      }
    } else {
      // macroblock edge filter (RFC 15.2)
      if (hev) {
        val a0 = c128(c128(sp1 - sq1) + 3 * (sq0 - sp0))
        val f1 = c128(a0 + 4) >> 3
        val f2 = c128(a0 + 3) >> 3
        set(0, c128(sq0 - f1) + 128)
        set(-1, c128(sp0 + f2) + 128)
      } else {
        val sp2 = p2 - 128; val sq2 = q2 - 128
        val w = c128(c128(sp1 - sq1) + 3 * (sq0 - sp0))
        var aa = c128((27 * w + 63) >> 7)
        set(0, c128(sq0 - aa) + 128)
        set(-1, c128(sp0 + aa) + 128)
        aa = c128((18 * w + 63) >> 7)
        set(1, c128(sq1 - aa) + 128)
        set(-2, c128(sp1 + aa) + 128)
        aa = c128((9 * w + 63) >> 7)
        set(2, c128(sq2 - aa) + 128)
        set(-3, c128(sp2 + aa) + 128)
      }
    }
  }

  private def simpleFilterSeg(get: Int => Int, set: (Int, Int) => Unit,
      edge: Int): Unit = {
    val p1 = get(-2); val p0 = get(-1); val q0 = get(0); val q1 = get(1)
    if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 > edge) return
    val sp1 = p1 - 128; val sp0 = p0 - 128
    val sq0 = q0 - 128; val sq1 = q1 - 128
    val a0 = c128(c128(sp1 - sq1) + 3 * (sq0 - sp0))
    val f1 = c128(a0 + 4) >> 3
    val f2 = c128(a0 + 3) >> 3
    set(0, c128(sq0 - f1) + 128)
    set(-1, c128(sp0 + f2) + 128)
  }

  private def loopFilter(h: Header, mbs: Array[MbInfo],
      yP: Array[Int], uP: Array[Int], vP: Array[Int],
      pw: Int, cw: Int): Unit = {
    val mbW = h.mbW; val mbH = h.mbH
    var mby = 0
    while (mby < mbH) {
      var mbx = 0
      while (mbx < mbW) {
        val mb = mbs(mby * mbW + mbx)
        var level =
          if (h.segEnabled) {
            if (h.segAbsDelta) h.segFilter(mb.segment)
            else h.filterLevel + h.segFilter(mb.segment)
          } else h.filterLevel
        if (h.lfDeltaEnabled) {
          level += h.refLfDelta(0) // intra frame
          if (mb.yMode == B_PRED) level += h.modeLfDelta(0)
        }
        level = math.max(0, math.min(63, level))
        if (level > 0) {
          var interior = level
          if (h.sharpness > 0) {
            interior >>= (if (h.sharpness > 4) 2 else 1)
            if (interior > 9 - h.sharpness) interior = 9 - h.sharpness
          }
          if (interior < 1) interior = 1
          val hevT =
            if (level >= 40) 2
            else if (level >= 15) 1
            else 0
          val edgeMb = (level + 2) * 2 + interior
          val edgeSb = level * 2 + interior
          val skipInner = !mb.hasCoeffs && mb.yMode != B_PRED
          val x0 = mbx * 16; val y0 = mby * 16
          val cx0 = mbx * 8; val cy0 = mby * 8

          if (h.filterType == 1) {
            // simple filter: luma only
            if (mbx > 0) {
              var r = 0
              while (r < 16) {
                val row = (y0 + r) * pw + x0
                simpleFilterSeg(o => yP(row + o), (o, v) => yP(row + o) = v, edgeMb)
                r += 1
              }
            }
            if (!skipInner) {
              var e = 4
              while (e < 16) {
                var r = 0
                while (r < 16) {
                  val row = (y0 + r) * pw + x0 + e
                  simpleFilterSeg(o => yP(row + o), (o, v) => yP(row + o) = v, edgeSb)
                  r += 1
                }
                e += 4
              }
            }
            if (mby > 0) {
              var c = 0
              while (c < 16) {
                val col = x0 + c
                simpleFilterSeg(o => yP((y0 + o) * pw + col),
                  (o, v) => yP((y0 + o) * pw + col) = v, edgeMb)
                c += 1
              }
            }
            if (!skipInner) {
              var e = 4
              while (e < 16) {
                var c = 0
                while (c < 16) {
                  val col = x0 + c
                  simpleFilterSeg(o => yP((y0 + e + o) * pw + col),
                    (o, v) => yP((y0 + e + o) * pw + col) = v, edgeSb)
                  c += 1
                }
                e += 4
              }
            }
          } else {
            // normal filter: luma + chroma
            def vEdge(plane: Array[Int], stride: Int, x: Int, yTop: Int,
                n: Int, edge: Int, mbE: Boolean): Unit = {
              var r = 0
              while (r < n) {
                val row = (yTop + r) * stride + x
                normalFilter(o => plane(row + o), (o, v) => plane(row + o) = v,
                  interior, edge, hevT, mbE)
                r += 1
              }
            }
            def hEdge(plane: Array[Int], stride: Int, xLeft: Int, y: Int,
                n: Int, edge: Int, mbE: Boolean): Unit = {
              var c = 0
              while (c < n) {
                val col = xLeft + c
                normalFilter(o => plane((y + o) * stride + col),
                  (o, v) => plane((y + o) * stride + col) = v,
                  interior, edge, hevT, mbE)
                c += 1
              }
            }
            if (mbx > 0) {
              vEdge(yP, pw, x0, y0, 16, edgeMb, mbE = true)
              vEdge(uP, cw, cx0, cy0, 8, edgeMb, mbE = true)
              vEdge(vP, cw, cx0, cy0, 8, edgeMb, mbE = true)
            }
            if (!skipInner) {
              var e = 4
              while (e < 16) {
                vEdge(yP, pw, x0 + e, y0, 16, edgeSb, mbE = false)
                e += 4
              }
              vEdge(uP, cw, cx0 + 4, cy0, 8, edgeSb, mbE = false)
              vEdge(vP, cw, cx0 + 4, cy0, 8, edgeSb, mbE = false)
            }
            if (mby > 0) {
              hEdge(yP, pw, x0, y0, 16, edgeMb, mbE = true)
              hEdge(uP, cw, cx0, cy0, 8, edgeMb, mbE = true)
              hEdge(vP, cw, cx0, cy0, 8, edgeMb, mbE = true)
            }
            if (!skipInner) {
              var e = 4
              while (e < 16) {
                hEdge(yP, pw, x0, y0 + e, 16, edgeSb, mbE = false)
                e += 4
              }
              hEdge(uP, cw, cx0, cy0 + 4, 8, edgeSb, mbE = false)
              hEdge(vP, cw, cx0, cy0 + 4, 8, edgeSb, mbE = false)
            }
          }
        }
        mbx += 1
      }
      mby += 1
    }
  }

  // ------------------------------------------------------------------
  // Fixture encoder: writes REAL VP8 key-frame streams directly in the
  // coefficient domain (the Jpeg.encodeJpeg*Coeffs discipline) — no
  // segmentation, loop filter level 0, one token partition, default
  // token probabilities, every macroblock DC_PRED. Its output decodes
  // identically through this decoder AND through libwebp (the reverse
  // direction of Vp8RealStreamSpec), proving the streams are genuine
  // VP8, and its pure-integer pixel math is what the mm_webp_lossy
  // DuckDB oracle replays term-for-term.
  // ------------------------------------------------------------------

  /** Encode one 4x4 block's quantized levels (zigzag scan order). */
  private def encodeBlock(be: BoolEncoder, probs: Array[Int], blockType: Int,
      ctx0: Int, firstCoeff: Int, levels: Array[Int]): Boolean = {
    var last = 15
    while (last >= firstCoeff && levels(last) == 0) last -= 1
    var c = firstCoeff
    var ctx = ctx0
    var skipEob = false
    while (c <= last) {
      val band = CoeffBands(c)
      val pOff = ((blockType * 8 + band) * 3 + ctx) * 11
      val v = levels(c)
      val at = if (skipEob) 2 else 0
      if (v == 0) {
        be.treeFlat(CoeffTree, probs, pOff, TokZero, at)
        ctx = 0
        skipEob = true
      } else {
        val m = math.abs(v)
        if (m <= 4) {
          be.treeFlat(CoeffTree, probs, pOff, m + 1, at)
        } else {
          var cat = 5
          while (cat > 0 && m < CatBase(cat)) cat -= 1
          be.treeFlat(CoeffTree, probs, pOff, 6 + cat, at)
          val cp = CatProbs(cat)
          val extra = m - CatBase(cat)
          var j = cp.length - 1
          var k = 0
          while (j >= 0) { be.bool((extra >> j) & 1, cp(k)); j -= 1; k += 1 }
        }
        be.bool(if (v < 0) 1 else 0, 128)
        ctx = if (m == 1) 1 else 2
        skipEob = false
      }
      c += 1
    }
    if (c < 16) {
      val pOff = ((blockType * 8 + CoeffBands(c)) * 3 + ctx) * 11
      be.treeFlat(CoeffTree, probs, pOff, TokEob, if (skipEob) 2 else 0)
    }
    last >= firstCoeff
  }

  /** Write a .webp container holding a VP8 key frame built from
    * quantized coefficient levels. `levels(mbx, mby)` returns 25
    * arrays of 16 zigzag-order levels: 0-15 the Y blocks (scan
    * position 0 ignored — the DC rides in Y2), 16-19 U, 20-23 V,
    * 24 Y2. All macroblocks are DC_PRED/DC_PRED, filter level 0. */
  def encodeVp8Fixture(width: Int, height: Int, qi: Int,
      yDcDelta: Int, y2DcDelta: Int, y2AcDelta: Int,
      uvDcDelta: Int, uvAcDelta: Int,
      levels: (Int, Int) => Array[Array[Int]]): Array[Byte] = {
    val mbW = (width + 15) / 16
    val mbH = (height + 15) / 16
    val be = new BoolEncoder
    be.literal(0, 1) // color space
    be.literal(0, 1) // clamping
    be.bool(0, 128)  // segmentation off
    be.literal(0, 1) // filter type
    be.literal(0, 6) // filter level 0 -> no deblocking
    be.literal(0, 3) // sharpness
    be.bool(0, 128)  // no lf deltas
    be.literal(0, 2) // 1 token partition
    be.literal(qi, 7)
    def delta(d: Int): Unit =
      if (d != 0) { be.bool(1, 128); be.signedLiteral(d, 4) }
      else be.bool(0, 128)
    delta(yDcDelta); delta(y2DcDelta); delta(y2AcDelta)
    delta(uvDcDelta); delta(uvAcDelta)
    be.literal(1, 1) // refresh entropy probs
    var i = 0
    while (i < 4 * 8 * 3 * 11) { be.bool(0, CoeffUpdateProbsFlat(i)); i += 1 }
    be.bool(0, 128) // mb_no_coeff_skip off: every MB carries residuals
    var mb = 0
    while (mb < mbW * mbH) {
      be.tree(KfYModeTree, KfYModeProbs, DC_PRED)
      be.tree(UvModeTree, KfUvModeProbs, DC_PRED)
      mb += 1
    }
    val part1 = be.toBytes

    val te = new BoolEncoder
    val probs = DefaultCoeffProbsFlat
    val aboveNz = Array.fill(mbW)(new Array[Int](9))
    val leftNz = new Array[Int](9)
    var mby = 0
    while (mby < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      var mbx = 0
      while (mbx < mbW) {
        val blk = levels(mbx, mby)
        val aNz = aboveNz(mbx)
        // Y2 (type 1)
        val nz2 = encodeBlock(te, probs, 1, leftNz(8) + aNz(8), 0, blk(24))
        leftNz(8) = if (nz2) 1 else 0
        aNz(8) = leftNz(8)
        var sb = 0
        while (sb < 16) {
          val sx = sb & 3; val sy = sb >> 2
          val nz = encodeBlock(te, probs, 0, leftNz(sy) + aNz(sx), 1, blk(sb))
          val f = if (nz) 1 else 0
          leftNz(sy) = f; aNz(sx) = f
          sb += 1
        }
        var plane = 0
        while (plane < 2) {
          val base = if (plane == 0) 16 else 20
          val ci = 4 + plane * 2
          var cb = 0
          while (cb < 4) {
            val sx = cb & 1; val sy = cb >> 1
            val nz = encodeBlock(te, probs, 2,
              leftNz(ci + sy) + aNz(ci + sx), 0, blk(base + cb))
            val f = if (nz) 1 else 0
            leftNz(ci + sy) = f; aNz(ci + sx) = f
            cb += 1
          }
          plane += 1
        }
        mbx += 1
      }
      mby += 1
    }
    val part2 = te.toBytes

    val frame = new Array[Byte](10 + part1.length + part2.length)
    val tag = (part1.length << 5) | 0x10 // key frame, version 0, shown
    frame(0) = (tag & 0xff).toByte
    frame(1) = ((tag >> 8) & 0xff).toByte
    frame(2) = ((tag >> 16) & 0xff).toByte
    frame(3) = 0x9d.toByte; frame(4) = 0x01.toByte; frame(5) = 0x2a.toByte
    frame(6) = (width & 0xff).toByte
    frame(7) = ((width >> 8) & 0x3f).toByte
    frame(8) = (height & 0xff).toByte
    frame(9) = ((height >> 8) & 0x3f).toByte
    System.arraycopy(part1, 0, frame, 10, part1.length)
    System.arraycopy(part2, 0, frame, 10 + part1.length, part2.length)

    val padded = frame.length + (frame.length & 1)
    val out = new Array[Byte](12 + 8 + padded)
    def put4(off: Int, s: String): Unit =
      (0 until 4).foreach(j => out(off + j) = s(j).toByte)
    def putU32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    put4(0, "RIFF"); putU32(4, 4 + 8 + padded); put4(8, "WEBP")
    put4(12, "VP8 "); putU32(16, frame.length)
    System.arraycopy(frame, 0, out, 20, frame.length)
    out
  }

  private def crop(h: Header, yP: Array[Int], uP: Array[Int], vP: Array[Int],
      pw: Int, cw: Int): Vp8Image = {
    val w = h.width; val ht = h.height
    val ocw = (w + 1) / 2; val och = (ht + 1) / 2
    val y = new Array[Int](w * ht)
    val u = new Array[Int](ocw * och)
    val v = new Array[Int](ocw * och)
    var r = 0
    while (r < ht) {
      System.arraycopy(yP, r * pw, y, r * w, w)
      r += 1
    }
    r = 0
    while (r < och) {
      System.arraycopy(uP, r * cw, u, r * ocw, ocw)
      System.arraycopy(vP, r * cw, v, r * ocw, ocw)
      r += 1
    }
    Vp8Image(w, ht, y, u, v)
  }
}
