package graft.variant

import VariantConst._

/** The one producer of canonical variant bytes, one per thread
  * ([[VariantEncoder.get]]). The JSON walks, `to_variant` and the edits
  * describe a row's value with `beginObject`/`key`/`endObject`,
  * `beginArray`/`endArray` and scalars written through [[VariantWriter]]
  * into [[buf]] (scalars are self-delimiting: array elements need no
  * marker). [[result]] then does the reference's two passes
  * (json.rs:115-163) over reusable arenas: sort the keys into the
  * dictionary, size containers bottom-up, write the value once into an
  * exact-size array. Fields sort stably by id, so duplicate keys keep
  * arrival order. Bytes equal [[VariantJsonCodec.fromTree]]'s.
  */
final class VariantEncoder private () {
  import VariantEncoder._

  private val scalars = new ByteBuf(256)
  // key occurrence k of the row is keyBytes(keyOff(k) until keyOff(k + 1))
  private var keyBytes = new Array[Byte](256)
  private var keyOff = new Array[Int](32)
  private var nOcc = 0
  private var order = new Array[Integer](32) // occurrences in dictionary order
  private var rank = new Array[Int](32) // occurrence -> dictionary id
  private val byKey: java.util.Comparator[Integer] = (x, y) => compareKeys(x, y)
  // the last row that sorted; a row with the same key occurrences in the
  // same arrival order shares its `rank` and metadata and skips the sort
  // (about 30% of a same-shape row's encode; log rows come in runs)
  private var prevBytes = new Array[Byte](256)
  private var prevOff = new Array[Int](32)
  private var prevOcc = 0
  private var prevMeta = VariantMetadata.EMPTY
  // values in arrival order, E ints each (see the layout constants)
  private var tape = new Array[Int](E * 64)
  private var nTape = 0
  private var innermost = -1 // the open container; its END links to the next one out
  private var kids = new Array[Int](64) // containers' children, in field order
  private var packed = new Array[Long](64) // an object's (id, entry) pairs while they sort
  private var nKids = 0
  private var mark = 0 // scalars before this position are on the tape
  private var pendingKey = -1

  /** Where callers write the row's scalars. */
  def buf: ByteBuf = scalars

  def beginObject(): Unit = begin(OBJECT)
  def beginArray(): Unit = begin(ARRAY)
  def endObject(): Unit = end()
  def endArray(): Unit = end()

  /** The next value is the field named `utf8(off until off + len)`. */
  def key(utf8: Array[Byte], off: Int, len: Int): Unit = {
    val at = nextKey(len)
    System.arraycopy(utf8, off, keyBytes, at, len)
  }

  def key(name: String): Unit = {
    var i = 0
    while (i < name.length && name.charAt(i) < 0x80) i += 1
    if (i < name.length) {
      val utf8 = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      key(utf8, 0, utf8.length)
    } else {
      val at = nextKey(i)
      while (i > 0) { i -= 1; keyBytes(at + i) = name.charAt(i).toByte }
    }
  }

  /** The row's (metadata, value). */
  def result(): (Array[Byte], Array[Byte]) = {
    flush()
    if (innermost >= 0 || nTape == 0 || tape(END) != nTape)
      throw new IllegalStateException("the row is not one complete value")
    val meta = dictionary()
    var e = 0
    while (e < nTape) { if (tape(E * e + KEY) >= 0) tape(E * e + KEY) = rank(tape(E * e + KEY)); e += 1 }
    val value = new Array[Byte](measure(0))
    emit(0, value, 0)
    if (retainedBytes > MaxKept) perThread.remove() else reset()
    (meta, value)
  }

  /** Bytes the buffers and arenas hold between rows. */
  private[variant] def retainedBytes: Long =
    scalars.rawBytes.length.toLong + keyBytes.length + prevBytes.length +
      4L * (keyOff.length + order.length + rank.length + prevOff.length + tape.length + kids.length) +
      8L * packed.length

  private def reset(): VariantEncoder = {
    scalars.reset()
    nOcc = 0; nTape = 0; innermost = -1; nKids = 0; mark = 0; pendingKey = -1
    this
  }

  /** Reserve `len` bytes of `keyBytes` for the next field's name. */
  private def nextKey(len: Int): Int = {
    flush()
    val at = keyOff(nOcc)
    if (at + len > keyBytes.length)
      keyBytes = java.util.Arrays.copyOf(keyBytes, math.max(at + len, 2 * keyBytes.length))
    keyOff = grow(keyOff, nOcc + 2)
    keyOff(nOcc + 1) = at + len
    pendingKey = nOcc; nOcc += 1
    at
  }

  private def begin(kind: Int): Unit = {
    flush()
    add(kind, 0)
    tape(E * (nTape - 1) + END) = innermost
    innermost = nTape - 1
  }

  private def end(): Unit = {
    flush()
    val e = innermost
    innermost = tape(E * e + END)
    tape(E * e + END) = nTape
  }

  /** Put the scalars written since the last call on the tape. */
  private def flush(): Unit =
    while (mark < scalars.length) {
      val len = VariantView.scalarSize(scalars.rawBytes, mark)
      add(mark, len)
      mark += len
    }

  private def add(ref: Int, size: Int): Unit = {
    tape = grow(tape, E * nTape + E)
    val t = E * nTape
    tape(t + KEY) = pendingKey; tape(t + REF) = ref; tape(t + END) = nTape + 1; tape(t + SIZE) = size
    nTape += 1
    pendingKey = -1
  }

  /** Fill `rank` and return the metadata (sorted, deduplicated keys),
    * reusing the last sorted row's when the occurrences are the same. */
  private def dictionary(): Array[Byte] = {
    val n = nOcc
    val total = keyOff(n)
    if (n == prevOcc && java.util.Arrays.equals(keyOff, 0, n + 1, prevOff, 0, n + 1) &&
        java.util.Arrays.equals(keyBytes, 0, total, prevBytes, 0, total)) return prevMeta
    if (order.length < n) { order = new Array[Integer](2 * n); rank = new Array[Int](2 * n) }
    var i = 0
    while (i < n) { order(i) = i; i += 1 }
    java.util.Arrays.sort(order, 0, n, byKey)
    var distinct, bytes = 0 // the distinct keys move to order(0 until distinct)
    i = 0
    while (i < n) {
      val k: Int = order(i)
      if (i == 0 || compareKeys(order(distinct - 1), k) != 0) {
        order(distinct) = k; distinct += 1; bytes += keyOff(k + 1) - keyOff(k)
      }
      rank(k) = distinct - 1
      i += 1
    }
    // VariantMetadata.buildFromSorted's layout
    val w = ByteUtil.byteWidth(math.max(bytes, distinct).toLong)
    val data = 1 + w * (distinct + 2)
    val meta = new Array[Byte](data + bytes)
    meta(0) = (((w - 1) << 6) | (1 << 4) | VERSION).toByte
    putLE(meta, 1, distinct, w)
    var off = 0
    i = 0
    while (i < distinct) {
      val k: Int = order(i)
      System.arraycopy(keyBytes, keyOff(k), meta, data + off, keyOff(k + 1) - keyOff(k))
      off += keyOff(k + 1) - keyOff(k)
      putLE(meta, 1 + w * (i + 2), off, w)
      i += 1
    }
    if (prevBytes.length < total) prevBytes = new Array[Byte](total)
    System.arraycopy(keyBytes, 0, prevBytes, 0, total)
    prevOff = grow(prevOff, n + 1)
    System.arraycopy(keyOff, 0, prevOff, 0, n + 1)
    prevOcc = n
    prevMeta = meta
    meta
  }

  /** Unsigned byte order of occurrences x and y, as
    * [[VariantMetadata.compareUtf8]]. */
  private def compareKeys(x: Int, y: Int): Int = {
    val xo = keyOff(x)
    val yo = keyOff(y)
    val xl = keyOff(x + 1) - xo
    val yl = keyOff(y + 1) - yo
    var i = 0
    while (i < xl && i < yl && keyBytes(xo + i) == keyBytes(yo + i)) i += 1
    if (i < xl && i < yl) (keyBytes(xo + i) & 0xff) - (keyBytes(yo + i) & 0xff) else xl - yl
  }

  private def isObject(e: Int): Boolean = tape(E * e + REF) == OBJECT
  private def idOf(e: Int): Int = tape(E * e + KEY)
  private def sizeOf(e: Int): Int = tape(E * e + SIZE)

  /** The frame widths of [[VariantObjectBuilder]] / [[VariantArrayBuilder]]:
    * ids (0 for arrays) from the largest id, offsets from the data size. */
  private def idWidth(e: Int, first: Int, n: Int): Int =
    if (!isObject(e)) 0 else ByteUtil.byteWidth(if (n == 0) 0L else idOf(kids(first + n - 1)).toLong)
  private def offWidth(e: Int): Int = ByteUtil.byteWidth(tape(E * e + DATA).toLong)

  /** Encoded size of entry `e`; lays out containers bottom-up. */
  private def measure(e: Int): Int = {
    val t = E * e
    if (tape(t + REF) >= 0) return tape(t + SIZE)
    val first = nKids
    var c = e + 1
    while (c < tape(t + END)) {
      kids = grow(kids, nKids + 1)
      kids(nKids) = c
      nKids += 1
      c = tape(E * c + END)
    }
    val n = nKids - first
    if (isObject(e)) sortById(first, n)
    var data = 0
    var k = first
    while (k < first + n) { data += measure(kids(k)); k += 1 }
    tape(t + FIRST) = first; tape(t + COUNT) = n; tape(t + DATA) = data
    tape(t + SIZE) = 1 + (if (n > 255) 4 else 1) + n * idWidth(e, first, n) + (n + 1) * offWidth(e) + data
    tape(t + SIZE)
  }

  /** Sort fields kids(first until first + n) by id in one library sort
    * of packed (id, entry) longs: entries ascend in arrival order, so
    * duplicate keys keep it. */
  private def sortById(first: Int, n: Int): Unit = {
    if (packed.length < n) packed = new Array[Long](math.max(n, 2 * packed.length))
    var k = 0
    while (k < n) { val c = kids(first + k); packed(k) = idOf(c).toLong << 32 | c; k += 1 }
    java.util.Arrays.sort(packed, 0, n)
    k = 0
    while (k < n) { kids(first + k) = packed(k).toInt; k += 1 }
  }

  private def emit(e: Int, out: Array[Byte], at: Int): Unit = {
    val t = E * e
    if (tape(t + REF) >= 0) {
      System.arraycopy(scalars.rawBytes, tape(t + REF), out, at, tape(t + SIZE))
      return
    }
    val first = tape(t + FIRST)
    val n = tape(t + COUNT)
    val idW = idWidth(e, first, n)
    val offW = offWidth(e)
    val countW = if (n > 255) 4 else 1
    out(at) = (if (isObject(e)) header((countW >> 2 << 4) | ((idW - 1) << 2) | (offW - 1), BASIC_OBJECT)
    else header((countW >> 2 << 2) | (offW - 1), BASIC_ARRAY)).toByte
    putLE(out, at + 1, n, countW)
    val ids = at + 1 + countW
    val offsets = ids + n * idW
    val values = offsets + (n + 1) * offW
    var off = 0
    var i = 0
    while (i < n) {
      val c = kids(first + i)
      if (idW > 0) putLE(out, ids + i * idW, idOf(c), idW)
      putLE(out, offsets + i * offW, off, offW)
      emit(c, out, values + off)
      off += sizeOf(c)
      i += 1
    }
    putLE(out, offsets + n * offW, off, offW)
  }
}

object VariantEncoder {
  /** An encoder whose buffers grew past this many bytes is dropped after
    * its row, so one huge document does not stay resident on every task
    * thread. */
  final val MaxKept = 1 << 20

  // tape entry layout; REF is a scalar's start in `scalars`, else OBJECT
  // or ARRAY; END is the entry after the value's last descendant; a
  // container's children are kids(FIRST until FIRST + COUNT), object
  // fields stably by id, and DATA bytes long
  private final val E = 7
  private final val KEY = 0 // the occurrence naming this field, in `result` its id; or -1
  private final val REF = 1
  private final val END = 2
  private final val SIZE = 3
  private final val FIRST = 4
  private final val COUNT = 5
  private final val DATA = 6
  private final val OBJECT = -1
  private final val ARRAY = -2

  private val perThread = ThreadLocal.withInitial[VariantEncoder](() => new VariantEncoder)

  /** This thread's encoder, reset for a new row (also after a row that
    * threw half-way, e.g. a byte walk the lexer declined). */
  def get(): VariantEncoder = {
    if (perThread.get().retainedBytes > MaxKept) perThread.remove()
    perThread.get().reset()
  }

  /** This thread's encoder as the last row left it. */
  private[variant] def current: VariantEncoder = perThread.get()

  private def grow(a: Array[Int], need: Int): Array[Int] =
    if (need <= a.length) a else java.util.Arrays.copyOf(a, math.max(need, 2 * a.length))

  private def putLE(out: Array[Byte], at: Int, v: Int, width: Int): Unit = {
    var i = 0
    while (i < width) { out(at + i) = (v >>> (8 * i)).toByte; i += 1 }
  }
}
