package graft.variant

import java.nio.charset.StandardCharsets.UTF_8
import VariantConst._

/** Zero-copy views over a variant value buffer.
  *
  * Mirrors the reference's reader layer (/root/reference/open-variant/src/
  * values/read.rs:14-280) with exact-range semantics: because our writer
  * emits monotonic offsets, every value's extent is computable in O(1)
  * (`VariantView.sizeInBytes`), avoiding the reference's suffix-slice
  * workaround (read.rs:173-186, file TODO read.rs:1-4). Decimal reads are
  * scale-aware (the reference's `get_i128` silently skips the scale byte,
  * read.rs:48-54 — SURVEY §2.1 row 18).
  */
final class VariantView(val bytes: Array[Byte], val pos: Int) {
  @inline def headerByte: Int = bytes(pos) & 0xff
  @inline def basicType: Int = headerByte & 0x3
  @inline def typeInfo: Int = headerByte >> 2

  def isNull: Boolean = basicType == BASIC_PRIMITIVE && typeInfo == P_NULL
  def isBoolean: Boolean = basicType == BASIC_PRIMITIVE && (typeInfo == P_TRUE || typeInfo == P_FALSE)
  def isLong: Boolean = basicType == BASIC_PRIMITIVE && typeInfo >= P_INT8 && typeInfo <= P_INT64
  def isDouble: Boolean = basicType == BASIC_PRIMITIVE && (typeInfo == P_DOUBLE || typeInfo == P_FLOAT)
  def isDecimal: Boolean = basicType == BASIC_PRIMITIVE && typeInfo >= P_DECIMAL4 && typeInfo <= P_DECIMAL16
  def isString: Boolean = basicType == BASIC_SHORT_STR || (basicType == BASIC_PRIMITIVE && typeInfo == P_LONG_STR)
  def isBinary: Boolean = basicType == BASIC_PRIMITIVE && typeInfo == P_BINARY
  def isObject: Boolean = basicType == BASIC_OBJECT
  def isArray: Boolean = basicType == BASIC_ARRAY
  def isDictString: Boolean = basicType == BASIC_PRIMITIVE && typeInfo == P_STRING_FROM_DICT
  def isDictBinary: Boolean = basicType == BASIC_PRIMITIVE && typeInfo == P_BINARY_FROM_DICT

  /** Dictionary index payload of the id-17/18 reference encodings. */
  def getDictId: Int = {
    if (!isDictString && !isDictBinary)
      throw new IllegalStateException(s"not a dictionary reference (type id $typeInfo)")
    ByteUtil.readUnsignedLE(bytes, pos + 1, 4).toInt
  }

  /** Resolve an id-17/18 dictionary reference against the metadata. */
  def getDictKey(meta: MetadataView): String = {
    val k = meta.getKey(getDictId)
    if (k == null)
      throw new IllegalStateException(s"dictionary id $getDictId out of range")
    k
  }

  def getBoolean: Boolean = typeInfo match {
    case P_TRUE  => true
    case P_FALSE => false
    case t       => throw new IllegalStateException(s"not a boolean (type id $t)")
  }

  def getLong: Long = typeInfo match {
    case P_INT8  => ByteUtil.readSignedLE(bytes, pos + 1, 1)
    case P_INT16 => ByteUtil.readSignedLE(bytes, pos + 1, 2)
    case P_INT32 => ByteUtil.readSignedLE(bytes, pos + 1, 4)
    case P_INT64 => ByteUtil.readSignedLE(bytes, pos + 1, 8)
    case t       => throw new IllegalStateException(s"not an integer (type id $t)")
  }

  def getDouble: Double = typeInfo match {
    case P_DOUBLE => java.lang.Double.longBitsToDouble(ByteUtil.readSignedLE(bytes, pos + 1, 8))
    case P_FLOAT  => java.lang.Float.intBitsToFloat(ByteUtil.readSignedLE(bytes, pos + 1, 4).toInt).toDouble
    case t        => throw new IllegalStateException(s"not a float (type id $t)")
  }

  def decimalScale: Int = bytes(pos + 1) & 0xff

  def getDecimal: java.math.BigDecimal = {
    val scale = decimalScale
    val unscaled: java.math.BigInteger = typeInfo match {
      case P_DECIMAL4 =>
        java.math.BigInteger.valueOf(ByteUtil.readSignedLE(bytes, pos + 2, 4))
      case P_DECIMAL8 =>
        java.math.BigInteger.valueOf(ByteUtil.readSignedLE(bytes, pos + 2, 8))
      case P_DECIMAL16 =>
        val be = new Array[Byte](16)
        var i = 0
        while (i < 16) { be(i) = bytes(pos + 2 + 15 - i); i += 1 }
        new java.math.BigInteger(be)
      case t => throw new IllegalStateException(s"not a decimal (type id $t)")
    }
    new java.math.BigDecimal(unscaled, scale)
  }

  def getString: String = new String(bytes, stringStart, stringLength, UTF_8)

  /** The string's UTF-8 payload, copied out as stored (no decode). */
  def getStringBytes: Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, stringStart, stringStart + stringLength)

  private def stringStart: Int =
    if (basicType == BASIC_SHORT_STR) pos + 1
    else if (typeInfo == P_LONG_STR) pos + 5
    else throw new IllegalStateException(s"not a string (type id $typeInfo)")

  private def stringLength: Int =
    if (basicType == BASIC_SHORT_STR) typeInfo else ByteUtil.readUnsignedLE(bytes, pos + 1, 4).toInt

  def getBinary: Array[Byte] = {
    if (typeInfo != P_BINARY) throw new IllegalStateException(s"not binary (type id $typeInfo)")
    val len = ByteUtil.readUnsignedLE(bytes, pos + 1, 4).toInt
    java.util.Arrays.copyOfRange(bytes, pos + 5, pos + 5 + len)
  }

  def getDateDays: Int = ByteUtil.readSignedLE(bytes, pos + 1, 4).toInt
  def getTimestampMicros: Long = ByteUtil.readSignedLE(bytes, pos + 1, 8)

  def getObject: ObjectView = new ObjectView(this)
  def getArray: ArrayView = new ArrayView(this)

  /** Total encoded size of this value in bytes (header included) — O(1). */
  def sizeInBytes: Int = basicType match {
    case BASIC_OBJECT => getObject.totalSize
    case BASIC_ARRAY  => getArray.totalSize
    case _            => VariantView.scalarSize(bytes, pos)
  }

  /** Copy this value out as a standalone buffer. */
  def copyBytes: Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, pos, pos + sizeInBytes)

  /** Human-readable type name (powers `variant_typeof`). */
  def typeName: String = basicType match {
    case BASIC_SHORT_STR => "string"
    case BASIC_OBJECT    => "object"
    case BASIC_ARRAY     => "array"
    case _ =>
      typeInfo match {
        case P_NULL                        => "null"
        case P_TRUE | P_FALSE              => "boolean"
        case P_INT8                        => "tinyint"
        case P_INT16                       => "smallint"
        case P_INT32                       => "int"
        case P_INT64                       => "bigint"
        case P_DOUBLE                      => "double"
        case P_FLOAT                       => "float"
        case P_DECIMAL4 | P_DECIMAL8 | P_DECIMAL16 => s"decimal(38,$decimalScale)"
        case P_DATE                        => "date"
        case P_TIMESTAMP                   => "timestamp"
        case P_TIMESTAMP_NTZ               => "timestamp_ntz"
        case P_BINARY | P_BINARY_FROM_DICT => "binary"
        case P_LONG_STR | P_STRING_FROM_DICT => "string"
        case t                             => s"unknown($t)"
      }
  }
}

object VariantView {
  /** Encoded size, header included, of the scalar (not container) at `pos`. */
  def scalarSize(bytes: Array[Byte], pos: Int): Int = {
    val h = bytes(pos) & 0xff
    if ((h & 0x3) == BASIC_SHORT_STR) 1 + (h >> 2)
    else (h >> 2) match {
      case P_NULL | P_TRUE | P_FALSE       => 1
      case P_INT8                          => 2
      case P_INT16                         => 3
      case P_INT32 | P_DATE | P_FLOAT | P_BINARY_FROM_DICT | P_STRING_FROM_DICT => 5
      case P_INT64 | P_DOUBLE | P_TIMESTAMP | P_TIMESTAMP_NTZ => 9
      case P_DECIMAL4                      => 6
      case P_DECIMAL8                      => 10
      case P_DECIMAL16                     => 18
      case P_LONG_STR | P_BINARY =>
        5 + ByteUtil.readUnsignedLE(bytes, pos + 1, 4).toInt
      case t => throw new IllegalStateException(s"unknown type id $t")
    }
  }
}

/** Object frame view (reference: ObjectRef, read.rs:113-210).
  * Field lookup is binary search over the sorted field ids.
  */
final class ObjectView(v: VariantView) {
  private val bytes = v.bytes
  private val ti = v.typeInfo
  val offsetSize: Int = (ti & 0x3) + 1
  val fieldIdSize: Int = ((ti >> 2) & 0x3) + 1
  val isLarge: Boolean = ((ti >> 4) & 0x1) == 1
  private val countSize = if (isLarge) 4 else 1
  val numElements: Int =
    ByteUtil.readUnsignedLE(bytes, v.pos + 1, countSize).toInt
  private val idsStart = v.pos + 1 + countSize
  private val offsetsStart = idsStart + numElements * fieldIdSize
  private val valuesStart = offsetsStart + (numElements + 1) * offsetSize

  def fieldIdAt(i: Int): Int =
    ByteUtil.readUnsignedLE(bytes, idsStart + i * fieldIdSize, fieldIdSize).toInt

  private def offsetAt(i: Int): Int =
    ByteUtil.readUnsignedLE(bytes, offsetsStart + i * offsetSize, offsetSize).toInt

  def valueAt(i: Int): VariantView =
    new VariantView(bytes, valuesStart + offsetAt(i))

  /** Field id → position. Binary search first (read.rs:156-171): valid
    * whenever the id array is monotonic, which our canonical writer
    * guarantees (sorted dictionary ⇒ name order = id order). Foreign
    * frames can be NON-monotonic — Spark's builtin sorts fields by key
    * NAME over a first-seen dictionary, the reference appends in input
    * order — where binary search can false-MISS (never false-hit, an
    * equal probe is a genuine match). A miss therefore falls back to one
    * linear scan; on canonical data that cost is only paid for genuinely
    * absent keys. -1 if absent.
    */
  def indexOfFieldId(fieldId: Int): Int = {
    var lo = 0
    var hi = numElements
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val cur = fieldIdAt(mid)
      if (cur == fieldId) return mid
      else if (fieldId < cur) hi = mid
      else lo = mid + 1
    }
    var i = 0
    while (i < numElements) {
      if (fieldIdAt(i) == fieldId) return i
      i += 1
    }
    -1
  }

  def getField(fieldId: Int): VariantView = {
    val i = indexOfFieldId(fieldId)
    if (i < 0) null else valueAt(i)
  }

  /** Total frame size from header through the last value byte. */
  def totalSize: Int = valuesStart + offsetAt(numElements) - v.pos
}

/** Array frame view (reference: ArrayRef, read.rs:224-279). */
final class ArrayView(v: VariantView) {
  private val bytes = v.bytes
  private val ti = v.typeInfo
  val offsetSize: Int = (ti & 0x3) + 1
  val isLarge: Boolean = ((ti >> 2) & 0x1) == 1
  private val countSize = if (isLarge) 4 else 1
  val numElements: Int =
    ByteUtil.readUnsignedLE(bytes, v.pos + 1, countSize).toInt
  private val offsetsStart = v.pos + 1 + countSize
  private val valuesStart = offsetsStart + (numElements + 1) * offsetSize

  private def offsetAt(i: Int): Int =
    ByteUtil.readUnsignedLE(bytes, offsetsStart + i * offsetSize, offsetSize).toInt

  /** Index → element view; null when out of bounds (read.rs:260-267). */
  def elementAt(i: Int): VariantView =
    if (i < 0 || i >= numElements) null
    else new VariantView(bytes, valuesStart + offsetAt(i))

  def totalSize: Int = valuesStart + offsetAt(numElements) - v.pos
}
