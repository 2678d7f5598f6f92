package graft.variant

import java.nio.charset.StandardCharsets.UTF_8
import VariantConst._

/** Variant value writers.
  *
  * Scalar encodings follow /root/reference/open-variant/src/values/write.rs
  * (write.rs:14-65) with the declared-but-unimplemented ids filled in
  * (narrow ints, short strings, float32, date/timestamps, binary — see
  * SURVEY §1.2). Two reference bugs are fixed rather than ported
  * (SURVEY §1.3): the object header's field-id width is computed from the
  * max field id in the same place the ids are written, and decimal width
  * selection range-checks BOTH bounds (the reference only checks the upper
  * bound, write.rs:45-49, truncating large negatives).
  */
object VariantWriter {

  def writeNull(buf: ByteBuf): Unit = buf.addByte(primitiveHeader(P_NULL))

  def writeBoolean(buf: ByteBuf, v: Boolean): Unit =
    buf.addByte(primitiveHeader(if (v) P_TRUE else P_FALSE))

  /** Narrowest integer encoding (Int8/16/32/64). The reference always
    * writes Int64 (write.rs:28-33); narrow forms are in the id space and
    * shrink typical payloads 4-8x.
    */
  def writeLong(buf: ByteBuf, v: Long): Unit = {
    if (v >= Byte.MinValue && v <= Byte.MaxValue) {
      buf.addByte(primitiveHeader(P_INT8)); buf.addIntLE(v, 1)
    } else if (v >= Short.MinValue && v <= Short.MaxValue) {
      buf.addByte(primitiveHeader(P_INT16)); buf.addIntLE(v, 2)
    } else if (v >= Int.MinValue && v <= Int.MaxValue) {
      buf.addByte(primitiveHeader(P_INT32)); buf.addIntLE(v, 4)
    } else {
      buf.addByte(primitiveHeader(P_INT64)); buf.addIntLE(v, 8)
    }
  }

  def writeDouble(buf: ByteBuf, v: Double): Unit = {
    buf.addByte(primitiveHeader(P_DOUBLE))
    buf.addIntLE(java.lang.Double.doubleToLongBits(v), 8)
  }

  def writeFloat(buf: ByteBuf, v: Float): Unit = {
    buf.addByte(primitiveHeader(P_FLOAT))
    buf.addIntLE(java.lang.Float.floatToIntBits(v) & 0xffffffffL, 4)
  }

  /** Decimal: header + scale byte + 4/8/16-byte LE unscaled value, width
    * chosen from magnitude with correct handling of negative values.
    */
  def writeDecimal(buf: ByteBuf, unscaled: java.math.BigInteger, scale: Int): Unit = {
    require(scale >= 0 && scale <= 38, s"decimal scale out of range [0,38]: $scale")
    val bits = unscaled.bitLength // excludes sign bit
    if (bits < 32) {
      buf.addByte(primitiveHeader(P_DECIMAL4))
      buf.addByte(scale)
      buf.addIntLE(unscaled.longValueExact(), 4)
    } else if (bits < 64) {
      buf.addByte(primitiveHeader(P_DECIMAL8))
      buf.addByte(scale)
      buf.addIntLE(unscaled.longValueExact(), 8)
    } else if (bits < 128) {
      buf.addByte(primitiveHeader(P_DECIMAL16))
      buf.addByte(scale)
      write128LE(buf, unscaled)
    } else {
      throw new IllegalArgumentException(
        s"Could not fit decimal unscaled value into 128 bits: $unscaled")
    }
  }

  private def write128LE(buf: ByteBuf, v: java.math.BigInteger): Unit = {
    // two's-complement little-endian, sign-extended to 16 bytes
    val be = v.toByteArray // big-endian two's complement, minimal length
    val pad: Byte = if (v.signum() < 0) -1 else 0
    var i = 0
    while (i < 16) {
      val beIdx = be.length - 1 - i
      buf.addByte(if (beIdx >= 0) be(beIdx) else pad)
      i += 1
    }
  }

  def writeString(buf: ByteBuf, s: String): Unit = writeStringBytes(buf, s.getBytes(UTF_8))

  def writeStringBytes(buf: ByteBuf, utf8: Array[Byte]): Unit =
    writeStringSlice(buf, utf8, 0, utf8.length)

  /** Slice form for the byte-level JSON fast path: escape-free JSON
    * strings are valid UTF-8 verbatim, so they encode as a single copy
    * out of the input buffer — no UTF-16 round-trip.
    */
  def writeStringSlice(buf: ByteBuf, src: Array[Byte], off: Int, len: Int): Unit = {
    if (len <= MAX_SHORT_STR) {
      buf.addByte(header(len, BASIC_SHORT_STR))
      buf.addBytes(src, off, len)
    } else {
      buf.addByte(primitiveHeader(P_LONG_STR))
      buf.addIntLE(len, 4)
      buf.addBytes(src, off, len)
    }
  }

  def writeBinary(buf: ByteBuf, bytes: Array[Byte]): Unit = {
    buf.addByte(primitiveHeader(P_BINARY))
    buf.addIntLE(bytes.length, 4)
    buf.addBytes(bytes)
  }

  /** Dictionary-reference encodings (ids 17/18): header + 4-byte LE
    * index into the metadata dictionary. The reference declares these
    * ids with no reader or writer (values/mod.rs:58-59); the layout here
    * follows the other length-free fixed-width primitives. The payload
    * is the dictionary entry (for binary: its UTF-8 bytes).
    */
  def writeStringFromDict(buf: ByteBuf, dictId: Int): Unit = {
    buf.addByte(primitiveHeader(P_STRING_FROM_DICT))
    buf.addIntLE(dictId & 0xffffffffL, 4)
  }

  def writeBinaryFromDict(buf: ByteBuf, dictId: Int): Unit = {
    buf.addByte(primitiveHeader(P_BINARY_FROM_DICT))
    buf.addIntLE(dictId & 0xffffffffL, 4)
  }

  def writeDate(buf: ByteBuf, daysSinceEpoch: Int): Unit = {
    buf.addByte(primitiveHeader(P_DATE))
    buf.addIntLE(daysSinceEpoch & 0xffffffffL, 4)
  }

  def writeTimestamp(buf: ByteBuf, micros: Long): Unit = {
    buf.addByte(primitiveHeader(P_TIMESTAMP))
    buf.addIntLE(micros, 8)
  }

  def writeTimestampNtz(buf: ByteBuf, micros: Long): Unit = {
    buf.addByte(primitiveHeader(P_TIMESTAMP_NTZ))
    buf.addIntLE(micros, 8)
  }
}

/** Builds a variant object into `parent`. Children are appended to a
  * temporary buffer while (fieldId, offset) pairs accumulate; `finish()`
  * sorts by field id (= lexical key order, since the dictionary is
  * sorted) and emits header/count/ids/offsets/values in one pass with
  * consistent widths (reference: write.rs:148-273; width bug fixed per
  * SURVEY §1.3).
  */
final class VariantObjectBuilder(parent: ByteBuf) {
  private val tmp = new ByteBuf(64)
  private var fieldIds = new Array[Int](8)
  private var offsets = new Array[Int](8)
  private var n = 0

  /** Begin a field: records (id, current offset); caller then writes the
    * value bytes into the returned buffer.
    */
  def fieldBuffer(fieldId: Int): ByteBuf = {
    if (n == fieldIds.length) {
      fieldIds = java.util.Arrays.copyOf(fieldIds, n * 2)
      offsets = java.util.Arrays.copyOf(offsets, n * 2)
    }
    fieldIds(n) = fieldId
    offsets(n) = tmp.length
    n += 1
    tmp
  }

  def finish(): Unit = {
    // Capture each field's extent in insertion order (fields were written
    // back-to-back into tmp), then order the fields by id. Values are
    // re-emitted in sorted order too: the encoding is CANONICAL — two
    // objects with the same fields produce identical bytes regardless of
    // append order, making raw-binary equality/grouping on variant
    // columns meaningful (SURVEY §2.2 set-ops note). The reference keeps
    // values in append order (write.rs:238-273); reads are identical.
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) {
      lens(i) = (if (i + 1 < n) offsets(i + 1) else tmp.length) - offsets(i)
      i += 1
    }
    // field k in id order is byId(k).toInt: one sort of packed (id,
    // arrival) longs, stable for duplicate ids
    val byId = Array.tabulate(n)(k => fieldIds(k).toLong << 32 | k)
    java.util.Arrays.sort(byId)
    val idW = ByteUtil.byteWidth(if (n == 0) 0L else byId(n - 1) >>> 32)
    val offW = ByteUtil.byteWidth(tmp.length)
    val isLarge = n > 255
    val hdrBits = (if (isLarge) 1 << 4 else 0) | ((idW - 1) << 2) | (offW - 1)
    parent.addByte(VariantConst.header(hdrBits, VariantConst.BASIC_OBJECT))
    parent.addIntLE(n, if (isLarge) 4 else 1)
    i = 0
    while (i < n) { parent.addIntLE(byId(i) >>> 32, idW); i += 1 }
    var runningOff = 0
    i = 0
    while (i < n) {
      parent.addIntLE(runningOff, offW); runningOff += lens(byId(i).toInt); i += 1
    }
    parent.addIntLE(runningOff, offW)
    i = 0
    while (i < n) {
      val k = byId(i).toInt
      parent.addBytes(tmp.rawBytes, offsets(k), lens(k)); i += 1
    }
  }
}

/** Builds a variant array into `parent` (reference: write.rs:78-123, with
  * the offset width derived from the final byte size rather than the
  * element count — SURVEY §2.1 row 37).
  */
final class VariantArrayBuilder(parent: ByteBuf) {
  private val tmp = new ByteBuf(64)
  private var offsets = new Array[Int](8)
  private var n = 0

  /** Begin an element; caller writes its bytes into the returned buffer. */
  def elementBuffer(): ByteBuf = {
    if (n == offsets.length) offsets = java.util.Arrays.copyOf(offsets, n * 2)
    offsets(n) = tmp.length
    n += 1
    tmp
  }

  def finish(): Unit = {
    val offW = ByteUtil.byteWidth(tmp.length)
    val isLarge = n > 255
    val hdrBits = (if (isLarge) 1 << 2 else 0) | (offW - 1)
    parent.addByte(VariantConst.header(hdrBits, VariantConst.BASIC_ARRAY))
    parent.addIntLE(n, if (isLarge) 4 else 1)
    var i = 0
    while (i < n) { parent.addIntLE(offsets(i), offW); i += 1 }
    parent.addIntLE(tmp.length, offW)
    parent.addBuf(tmp)
  }
}
