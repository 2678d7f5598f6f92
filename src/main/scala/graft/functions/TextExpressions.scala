package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Self-contained deterministic 64-bit hashing for the dedup operators
  * (FNV-1a over UTF-8 bytes + splitmix64 finalizer). Deterministic
  * across JVMs/partitions — a hard requirement for shuffle-free
  * re-computation at scale.
  */
object Hash64 {
  final val FNV_OFFSET = 0xcbf29ce484222325L
  final val FNV_PRIME = 0x100000001b3L

  def fnv1a(bytes: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    var h = FNV_OFFSET ^ seed
    var i = off
    val end = off + len
    while (i < end) {
      h ^= (bytes(i) & 0xffL)
      h *= FNV_PRIME
      i += 1
    }
    mix(h)
  }

  /** splitmix64 finalizer: avalanches FNV's weak high bits. */
  def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31
    x
  }

  def hashUtf8(s: org.apache.spark.unsafe.types.UTF8String, seed: Long): Long = {
    val b = s.getBytes
    fnv1a(b, 0, b.length, seed)
  }
}

/** `minhash_signature(tokens, k)`: k-permutation MinHash signature of a
  * string array. Signature slot i is the minimum of a seeded 64-bit hash
  * over the token set — Pr[sig_a(i) == sig_b(i)] = Jaccard(a, b). Rows
  * with empty/NULL token arrays yield NULL (no signature).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(numHashes > 0 && numHashes <= 1024, s"numHashes out of range: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty/all-null token arrays yield NULL
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<string>, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    // Hash every token once with seed 0, then derive the k seeded hashes
    // with one multiply-add-mix per (token, slot): k·n mixes, not k·n
    // full string hashes.
    val base = new Array[Long](n)
    var i = 0
    var nonNull = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        base(nonNull) = Hash64.hashUtf8(arr.getUTF8String(i), 0L)
        nonNull += 1
      }
      i += 1
    }
    if (nonNull == 0) return null
    val sig = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) {
      var min = Long.MaxValue
      var j = 0
      while (j < nonNull) {
        val h = Hash64.mix(base(j) + 0x9e3779b97f4a7c15L * (s + 1))
        if (h < min) min = h
        j += 1
      }
      sig(s) = min
      s += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `shingle_tokens(text, n)`: whitespace tokenization + word n-gram
  * shingling in ONE pass. Exists as a native expression because the
  * `transform(sequence(...), i -> slice(regexp_extract_all(text), ...))`
  * formulation re-executes the regex per shingle element after Catalyst
  * inlines the tokens column into the lambda (O(tokens²) regex scans per
  * document). Shorter-than-n documents yield one shingle of all tokens.
  */
case class ShingleTokens(child: Expression, n: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(n >= 1 && n <= 16, s"shingle size out of range: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_tokens expects string, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < len && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) words += s.substring(start, i)
    }
    val m = words.length
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val count = math.max(m - n + 1, 1)
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder(n * 12)
    var w = 0
    while (w < count) {
      sb.setLength(0)
      var j = w
      val end = math.min(w + n, m)
      while (j < end) {
        if (j > w) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      out(w) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_ngrams(toks, n)`: consecutive word n-grams of a token array,
  * space-joined — the compiled twin of the interpreted HOF form
  * `transform(sequence(0, greatest(size(t) - n, 0)), i ->
  *   concat_ws(' ', slice(t, i + 1, n)))`
  * used by the gram-building dedup/curation lanes. Spark's higher-order
  * functions evaluate the lambda per element on the interpreted path
  * (CodegenFallback + per-element named-lambda binding + a slice copy
  * and a concat per gram) — the same defect class the L2SqLong /
  * SumMinTfSorted kernels removed from the ANN/wminhash lanes.
  * Semantics are pinned to the HOF form exactly (WordNgramsSpec):
  * m >= n → m-n+1 grams; 1 <= m < n → ONE gram of all m tokens
  * (greatest(..,0) yields sequence(0,0)); m == 0 → one EMPTY-STRING
  * gram (concat_ws over an empty slice); null elements are skipped by
  * the join exactly as concat_ws skips them.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(n >= 1 && n <= 64, s"ngram size out of range: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects array<string>, got: ${other.simpleString}")
  }

  @transient private lazy val sep =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val count = math.max(m - n + 1, 1)
    val out = new Array[Any](count)
    var w = 0
    while (w < count) {
      val end = math.min(w + n, m)
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](end - w)
      var j = w
      while (j < end) {
        // null tokens stay null here; concatWs skips them like concat_ws
        parts(j - w) = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
        j += 1
      }
      out(w) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ngram_xxhash64(toks, n)`: the xxhash64 of every consecutive n-token
  * window — the compiled twin of
  * `transform(sequence(1, size(w) - n + 1), i -> xxhash64(slice(w, i, n)))`.
  * Window hashes are BYTE-IDENTICAL to Spark's `xxhash64` over the
  * array slice (pinned property-tested in WordNgramsSpec): the hash of
  * an array value is the fold of XXH64 over its elements' UTF-8 bytes
  * with the running hash as seed, starting at seed 42, null elements
  * leaving the running hash unchanged. m < n → empty array (call sites
  * guard, as they must for the HOF form too — sequence(1, 0) DESCENDS).
  */
case class NgramXxhash64(child: Expression, n: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(n >= 1 && n <= 64, s"ngram size out of range: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_xxhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_xxhash64 expects array<string>, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m - n + 1)
    var w = 0
    while (w <= m - n) {
      var h = 42L // spark.sql.legacy default xxhash64 seed
      var j = w
      while (j < w + n) {
        if (!arr.isNullAt(j)) {
          val s = arr.getUTF8String(j)
          h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
        }
        j += 1
      }
      out(w) = h
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_md5_sig(s, h)`: the md5-keyed MinHash signature — for each
  * k in 1..h, the minimum over the array of `md5(k || ':' || x)` as a
  * 32-char lowercase hex string. Compiled twin of the nested HOF
  *   `transform(sequence(1, h), k ->
  *      array_min(transform(s, x -> md5(concat(CAST(k AS STRING), ':', x)))))`
  * used by the hash-gate dedup twins (d_minhash_md5 / d_wminhash_md5 —
  * both 100×-curve lanes): the HOF path evaluates every lambda
  * interpreted AND materializes h intermediate hex-string arrays of
  * |s| elements per row. Here: one pass over s, h running 16-byte
  * digest minima (hex encoding is order-preserving byte-for-byte, so
  * unsigned digest comparison ≡ the hex-string comparison array_min
  * does), hex-encoded once at the end. NULL elements are skipped
  * (concat propagates NULL through md5, and array_min ignores NULLs);
  * an empty / all-NULL array yields NULL elements exactly like
  * array_min over an empty array. Pinned in Md5KernelsSpec.
  */
case class Md5MinhashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(numHashes >= 1 && numHashes <= 64, s"numHashes out of range: $numHashes")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_md5_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_md5_sig expects array<string>, got: ${other.simpleString}")
  }

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(k => s"${k + 1}:".getBytes("UTF-8"))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val md = Md5Kernel.digest()
    val mins = new Array[Array[Byte]](numHashes)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val xb = arr.getUTF8String(i).getBytes
        var k = 0
        while (k < numHashes) {
          md.reset()
          md.update(prefixes(k))
          md.update(xb)
          val dg = md.digest()
          if (mins(k) == null || Md5Kernel.unsignedLess(dg, mins(k))) mins(k) = dg
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    var k = 0
    while (k < numHashes) {
      out(k) = if (mins(k) == null) null
               else org.apache.spark.unsafe.types.UTF8String.fromBytes(
                 Md5Kernel.hex(mins(k)))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fps(text, k, w)`: winnowing fingerprints (Schleimer et al.
  * 2003) with md5 as the gram hash — the sorted distinct set of
  * per-window-of-w minima over the char-k-gram key strings
  * `md5(substring(text, i+1, k)) || ':' || lpad(i, 8, '0')`.
  * Compiled twin of the two-stage HOF chain in d_winnow_md5 (a
  * 100×-curve lane):
  *   g   = transform(sequence(0, length(text)-k), i -> concat(md5(...), ':', lpad(...)))
  *   fps = array_sort(array_distinct(transform(sequence(0, size(g)-w),
  *           j -> array_min(slice(g, j+1, w)))))
  * The HOF path md5s through an interpreted lambda and materializes
  * the FULL g array of hex key strings plus a w-slice copy per window;
  * here the minima are tracked as (16-byte digest, position) pairs in
  * a w-ring — key strings are built only for the distinct winners.
  * Equivalences relied on (pinned in Md5KernelsSpec): hex encoding is
  * byte-order-preserving, so digest comparison ≡ hex comparison; ties
  * on digest resolve by the zero-padded position, i.e. ascending
  * position; lpad truncates to the leftmost 8 chars if the position
  * ever exceeds 8 digits (mirrored, unreachable for real docs).
  * Defined for length(text) >= k + w - 1 — exactly the call-site guard
  * (the HOF's sequence() DESCENDS below that); shorter inputs yield
  * an empty array.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(k >= 1 && w >= 1 && k <= 64 && w <= 64, s"bad winnow params: k=$k w=$w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects string, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val b = text.getBytes
    // codepoint start offsets (substring/length count codepoints)
    val n = text.numChars()
    val nGrams = n - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](n + 1)
    var ci = 0
    var bi = 0
    while (ci < n) {
      offs(ci) = bi
      bi += Md5Kernel.utf8CharLen(b(bi))
      ci += 1
    }
    offs(n) = b.length
    val md = Md5Kernel.digest()
    // w-ring of (digest, position); min per window by (digest, pos)
    val ringDg = new Array[Array[Byte]](w)
    val ringPos = new Array[Int](w)
    var minDg: Array[Byte] = null
    var minPos = -1
    // distinct winners in first-seen order; position identifies the gram
    val seen = new java.util.HashSet[Integer]()
    val winDg = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val winPos = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < nGrams) {
      md.reset()
      md.update(b, offs(i), offs(i + k) - offs(i))
      ringDg(i % w) = md.digest()
      ringPos(i % w) = i
      if (i >= w - 1) {
        // min over the w ring entries (ties → smallest position)
        minDg = null; minPos = -1
        var j = 0
        while (j < w) {
          val c = if (minDg == null) -1
                  else Md5Kernel.compareUnsigned(ringDg(j), minDg)
          if (c < 0 || (c == 0 && ringPos(j) < minPos)) {
            minDg = ringDg(j); minPos = ringPos(j)
          }
          j += 1
        }
        if (seen.add(minPos)) { winDg += minDg; winPos += minPos }
      }
      i += 1
    }
    // sort by (digest unsigned, position) == binary order of the key
    // strings; then build the strings once
    val idx = winDg.indices.toArray
    val sorted = idx.sortWith { (a, bI) =>
      val c = Md5Kernel.compareUnsigned(winDg(a), winDg(bI))
      if (c != 0) c < 0 else winPos(a) < winPos(bI)
    }
    val out = new Array[Any](sorted.length)
    var o = 0
    while (o < sorted.length) {
      val s = sorted(o)
      val key = new Array[Byte](32 + 1 + 8)
      Md5Kernel.hexInto(winDg(s), key, 0)
      key(32) = ':'
      Md5Kernel.lpad8Into(winPos(s), key, 33)
      out(o) = org.apache.spark.unsafe.types.UTF8String.fromBytes(key)
      o += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `char_ngrams(str, n)`: all consecutive n-codepoint substrings — the
  * compiled twin of
  * `transform(sequence(1, length(tok) - n + 1), i -> substring(tok, i, n))`
  * (d_bpe_merge's char-pair mining; a 100×-curve-adjacent lane).
  * Codepoint boundaries follow Spark's own UTF-8 walk, so substrings
  * are byte-identical to substring()'s (CharNgramsSpec). Defined for
  * length >= n — the call-site guard (sequence() DESCENDS below it);
  * shorter inputs yield an empty array.
  */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(n >= 1 && n <= 64, s"ngram size out of range: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects string, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val b = str.getBytes
    val m = str.numChars()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](m + 1)
    var ci = 0
    var bi = 0
    while (ci < m) {
      offs(ci) = bi
      bi += Md5Kernel.utf8CharLen(b(bi))
      ci += 1
    }
    offs(m) = b.length
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val len = offs(i + n) - offs(i)
      val seg = new Array[Byte](len)
      System.arraycopy(b, offs(i), seg, 0, len)
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(seg)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bpe_saved(words)`: per-document BPE token-budget accounting — the
  * struct (n_base = Σ length(w), n_merged = Σ bpeCount(w)) over a word
  * array, where bpeCount is the sentinel-joined replace-chain semantics
  * of PipelineQueries.bpeCountExpr: chars joined as `¤t¤h¤e¤`, each
  * merge in rank order one left-to-right non-overlapping
  * replace('¤a¤b¤' → '¤ab¤'), count = segments − 2 ≡ occurrences('¤')
  * − 1. Compiled twin of the two interpreted
  * `aggregate(transform(words, w -> ...))` HOFs in d_bpe_apply (a
  * 100×-curve lane): the HOF path rebuilds and re-replaces every word
  * OCCURRENCE through interpreted lambda evaluation; here one pass
  * computes both sums and a per-thread word-TYPE memo collapses the
  * Zipf tail (the merge chain is a pure function of the word). Java's
  * String.replace is the same literal left-to-right non-overlapping
  * scan as UTF8String.replace — pinned in BpeSavedSpec against the
  * exact generated chain. Empty array → (0, 0), like aggregate's init.
  */
case class BpeSaved(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_base", LongType, nullable = false),
    StructField("n_merged", LongType, nullable = false)))
  // nullSafeEval returns null when an array ELEMENT is null, so the
  // expression is nullable whenever the element type admits nulls —
  // the UnaryExpression default (child.nullable alone) would let
  // codegen skip the null branch for a non-null child whose array has
  // containsNull=true (r13 ADVICE)
  override def nullable: Boolean = child.nullable || (child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })
  override def prettyName: String = "bpe_saved"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_saved expects array<string>, got: ${other.simpleString}")
  }

  @transient private lazy val pats: Array[(String, String)] =
    merges.map { case (a, b) => (s"¤$a¤$b¤", s"¤$a$b¤") }.toArray

  // word-TYPE memo, per thread (expression objects can be shared across
  // local-mode tasks). Bounded: cleared past 1 << 17 entries.
  @transient private lazy val memo =
    new ThreadLocal[java.util.HashMap[String, java.lang.Long]] {
      override def initialValue() = new java.util.HashMap[String, java.lang.Long]()
    }

  private def mergedCount(word: String): Long = {
    // split('', '') = [''] -> sentinel string '¤¤' -> 1 segment; the
    // call site ([a-z]+ words) never produces it, pinned for exactness
    if (word.isEmpty) return 1L
    val m = memo.get()
    val hit = m.get(word)
    if (hit != null) return hit.longValue()
    val sb = new java.lang.StringBuilder(word.length * 2 + 1)
    sb.append('¤')
    // iterate by CODEPOINT, not UTF-16 unit: the HOF twin's split(w, '')
    // segments by codepoint (Java 8+ zero-width split never lands inside
    // a surrogate pair), so a supplementary-plane char is ONE segment
    // (r13 ADVICE; the [a-z]+ call site never reaches this, pinned by
    // the astral case in BpeSavedSpec)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      sb.appendCodePoint(cp).append('¤')
      i += Character.charCount(cp)
    }
    var s = sb.toString
    var p = 0
    while (p < pats.length) { s = s.replace(pats(p)._1, pats(p)._2); p += 1 }
    var cnt = -1L
    i = 0
    while (i < s.length) { if (s.charAt(i) == '¤') cnt += 1; i += 1 }
    if (m.size() > (1 << 17)) m.clear()
    m.put(word, cnt)
    cnt
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    var nBase = 0L
    var nMerged = 0L
    var i = 0
    while (i < m) {
      // regexp_extract_all never yields null elements; mirror aggregate's
      // null-propagation anyway (null word -> null length -> null sum)
      if (arr.isNullAt(i)) return null
      val w = arr.getUTF8String(i)
      nBase += w.numChars()
      nMerged += mergedCount(w.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nBase, nMerged))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `repeat_indexed(g, tf)`: the multiset expansion
  * [g#0, g#1, ..., g#(tf-1)] — compiled twin of
  * `transform(sequence(CAST(0 AS BIGINT), tf - 1), j ->
  *    concat(g, '#', CAST(j AS STRING)))`
  * in the weighted-minhash tf expansion (d_wminhash_md5, a 100×-curve
  * lane, where this runs once per (doc, gram) POSTING row). Defined
  * for tf >= 1 — the call site's tf is a groupBy count, always >= 1
  * (sequence() DESCENDS at tf <= 0); tf <= 0 yields an empty array.
  */
case class RepeatIndexed(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "repeat_indexed"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"repeat_indexed expects (string, bigint), got: " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val g = l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val tf = r.asInstanceOf[Long]
    if (tf <= 0) return new GenericArrayData(Array.empty[Any])
    // tf.toInt below would silently wrap past Int.MaxValue while the
    // `j < tf` loop still ran to the long bound — fail loudly instead
    // (r13 ADVICE; unreachable from the groupBy-count call site)
    if (tf > Int.MaxValue) throw new IllegalArgumentException(
      s"repeat_indexed tf out of range: $tf (max ${Int.MaxValue})")
    val gb = g.getBytes
    val out = new Array[Any](tf.toInt)
    var j = 0
    while (j < tf) {
      val js = j.toString
      val seg = new Array[Byte](gb.length + 1 + js.length)
      System.arraycopy(gb, 0, seg, 0, gb.length)
      seg(gb.length) = '#'
      var c = 0
      while (c < js.length) { seg(gb.length + 1 + c) = js.charAt(c).toByte; c += 1 }
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromBytes(seg)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `del1_neighbors(p)`: the distinct single-deletion neighborhood
  * {p} ∪ {p with codepoint i removed} in first-occurrence order — the
  * compiled twin of d_fuzzy_join's
  * `array_distinct(transform(sequence(0, length(p)), i ->
  *    IF(i = 0, p, concat(substring(p, 1, i - 1), substring(p, i + 1)))))`
  * which evaluates the substring/concat lambda interpreted per ELEMENT
  * (17 string builds per row for the 16-char prefix). Spark's
  * substring/length count CODEPOINTS, so the deletion walk here does
  * too; bit-equality incl. multi-byte/astral inputs and the
  * duplicate-collapse order is pinned in Del1NeighborsSpec.
  */
case class Del1Neighbors(child: Expression)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "del1_neighbors"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"del1_neighbors expects string, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val cps = s.codePoints().toArray
    val n = cps.length
    val seen = new java.util.LinkedHashSet[String](n * 2)
    seen.add(s)
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder(s.length)
      var j = 0
      while (j < n) { if (j != i) sb.appendCodePoint(cps(j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared md5 plumbing for the compiled md5-keyed kernels. */
object Md5Kernel {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def digest(): java.security.MessageDigest = local.get()

  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  def hex(dg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](dg.length * 2)
    hexInto(dg, out, 0)
    out
  }

  def hexInto(dg: Array[Byte], out: Array[Byte], off: Int): Unit = {
    var i = 0
    while (i < dg.length) {
      val v = dg(i) & 0xff
      out(off + 2 * i) = HEX(v >>> 4)
      out(off + 2 * i + 1) = HEX(v & 0xf)
      i += 1
    }
  }

  /** lpad(CAST(pos AS STRING), 8, '0') — zero-pad to 8, truncating to
    * the LEFTMOST 8 chars for >8-digit values, exactly like lpad. */
  def lpad8Into(pos: Int, out: Array[Byte], off: Int): Unit = {
    val s = pos.toString
    if (s.length >= 8) {
      var i = 0
      while (i < 8) { out(off + i) = s.charAt(i).toByte; i += 1 }
    } else {
      var i = 0
      val pad = 8 - s.length
      while (i < pad) { out(off + i) = '0'; i += 1 }
      var j = 0
      while (j < s.length) { out(off + pad + j) = s.charAt(j).toByte; j += 1 }
    }
  }

  def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    val len = math.min(a.length, b.length)
    var i = 0
    while (i < len) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean =
    compareUnsigned(a, b) < 0

  /** UTF-8 encoded length of the codepoint starting with this byte —
    * delegated to Spark's own table so substring boundaries match
    * UTF8String.substringSQL byte-for-byte even on malformed input. */
  def utf8CharLen(first: Byte): Int =
    org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(first)
}

/** `minhash_bands(tokens, k, b)`: LSH band bucket ids computed in ONE
  * pass — slot signature then one combined hash per band of r = k/b
  * consecutive slots. Exists as a single expression because computing
  * `hash(slice(sig, ...))` per band in a lambda makes Catalyst inline
  * the signature expression into every band slice after project
  * collapse — k×b hashing per row instead of k.
  */
case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(numHashes % bands == 0, "numHashes must divide into bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty/all-null token arrays yield NULL
  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects array<string>, got: ${other.simpleString}")
  }

  @transient private lazy val sigExpr = MinHashSignature(child, numHashes)

  override def nullSafeEval(input: Any): Any = {
    val sig = sigExpr.nullSafeEval(input)
    if (sig == null) return null
    val slots = sig.asInstanceOf[ArrayData]
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Hash64.mix(b.toLong + 0x51_7c_c1_b7_27_22_0a_95L)
      var j = 0
      while (j < r) {
        h = Hash64.mix(h ^ slots.getLong(b * r + j))
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_bands_of(sig, b)`: LSH band buckets derived from an ALREADY
  * COMPUTED signature array — for pipelines that carry the signature
  * anyway (streaming dedup verifies with it), where `minhash_bands`
  * would hash every token a second time. Same band-hash scheme as
  * [[MinHashBands]], so the two produce identical buckets.
  */
case class MinHashBandsOfSig(child: Expression, bands: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(bands > 0, "bands must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_bands_of"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands_of expects array<bigint>, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val slots = input.asInstanceOf[ArrayData]
    val k = slots.numElements()
    if (k == 0 || k % bands != 0) return null
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Hash64.mix(b.toLong + 0x51_7c_c1_b7_27_22_0a_95L)
      var j = 0
      while (j < r) {
        h = Hash64.mix(h ^ slots.getLong(b * r + j))
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `weighted_minhash_signature(tokens, k)`: MinHash over the token
  * MULTISET — the i-th occurrence of a token hashes as the distinct
  * element (token, i), which is exactly plain MinHash of the
  * integer-weight expansion, so Pr[slot match] = WEIGHTED Jaccard
  * Σ min(tf)/Σ max(tf). Pass the token array WITH repeats (no
  * distinct): this is the signature/LSH scale path for
  * `d_weighted_jaccard`'s exact join — boilerplate-heavy near-dups
  * that set-MinHash scores as unrelated keep their similarity here.
  * Occurrence indexing is assignment-order-free (equal tokens are
  * interchangeable), so the signature is permutation-invariant like
  * the unweighted one.
  */
case class WeightedMinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(numHashes > 0 && numHashes <= 1024, s"numHashes out of range: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty/all-null token arrays yield NULL
  override def prettyName: String = "weighted_minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"weighted_minhash_signature expects array<string>, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    // Element hash = mix(tokenHash + C·occurrenceIndex): occurrence
    // indices count per distinct token hash, making the i-th copy a
    // distinct expanded-set element. One string hash per occurrence,
    // k mixes per element — same cost shape as the unweighted form.
    val base = new Array[Long](n)
    val occSeen = new java.util.HashMap[java.lang.Long, Integer]()
    var i = 0
    var nonNull = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val th = Hash64.hashUtf8(arr.getUTF8String(i), 0L)
        val occ = occSeen.merge(th, Integer.valueOf(1), (a, b) => a + b) - 1
        base(nonNull) = Hash64.mix(th + 0x517cc1b727220a95L * occ)
        nonNull += 1
      }
      i += 1
    }
    if (nonNull == 0) return null
    val sig = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) {
      var min = Long.MaxValue
      var j = 0
      while (j < nonNull) {
        val h = Hash64.mix(base(j) + 0x9e3779b97f4a7c15L * (s + 1))
        if (h < min) min = h
        j += 1
      }
      sig(s) = min
      s += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaro-Winkler string similarity — the record-linkage scorer for
  * short identifiers (names, codes) where token-level Jaccard and
  * edit-distance joins are the wrong granularity. Standard
  * parameters: match window ⌊max/2⌋−1, transpositions halved, prefix
  * bonus p=0.1 over ≤4 chars applied when jaro > 0.7.
  *
  * The FLOATING-POINT EXPRESSION ORDER is part of the contract:
  * `(m/l1 + m/l2 + (m−t)/m) / 3` then `j + (l·0.1)·(1−j)`, which is
  * bit-identical to DuckDB's jaro_winkler_similarity (verified on
  * last-ulp cases like 0.8133333333333332), so `d_jaro_fuzzy`
  * hash-gates this expression against the oracle engine exactly —
  * no rounding tolerance needed.
  *
  * Character model: UTF-16 code units (Java String). Parity with
  * byte/codepoint-based engines is exact on ASCII (the fixture and
  * the typical identifier-matching workload); strings beyond the BMP
  * may count matches differently across engines — out of the gated
  * contract.
  */
object JaroWinklerImpl {
  def jw(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val md = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md); val hi = math.min(i + md + 1, l2)
      var j = lo
      var matched = false
      while (j < hi && !matched) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val j0 = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3
    if (j0 <= 0.7) return j0
    var l = 0
    val maxL = math.min(4, math.min(l1, l2))
    while (l < maxL && s1.charAt(l) == s2.charAt(l)) l += 1
    j0 + l * 0.1 * (1 - j0)
  }
}

/** `jaro_winkler(a, b)` → DOUBLE in [0, 1] (see [[JaroWinklerImpl]]). */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "jaro_winkler"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler expects (string, string), got: (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(JaroWinklerImpl.jw(a.toString, b.toString))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `simhash64(tokens)`: 64-bit SimHash of a string array — per-bit
  * majority vote over token hashes; Hamming distance between signatures
  * approximates (1 - cosine) of the token multisets.
  */
case class SimHash64(child: Expression) extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = Hash64.hashUtf8(arr.getUTF8String(i), 0L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fingerprints(text, k, w)`: winnowing document fingerprints
  * (Schleimer/Wilkerson/Aiken, SIGMOD'03): rolling Rabin-Karp hashes of
  * all k-char grams, then the minimum hash of each w-hash window
  * (rightmost-min tie break), deduplicated and sorted. Two documents
  * sharing a text run of ≥ k+w-1 chars are guaranteed to share a
  * fingerprint — the local-plagiarism/near-dup primitive that md5
  * whole-doc hashing cannot provide. Output is array<long>, ready for
  * `jaccard`-style overlap joins or explode+group inverted indexes.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(k >= 2 && k <= 64, s"gram size out of range: $k")
  require(w >= 1 && w <= 256, s"window size out of range: $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects string, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val B = 1000003L
    // rolling k-gram hashes
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var h = 0L
    var bk = 1L // B^(k-1)
    var i = 0
    while (i < k) {
      h = h * B + (bytes(i) & 0xffL)
      if (i < k - 1) bk *= B
      i += 1
    }
    hashes(0) = Hash64.mix(h)
    var raw = h
    i = 1
    while (i < m) {
      raw = (raw - (bytes(i - 1) & 0xffL) * bk) * B + (bytes(i + k - 1) & 0xffL)
      hashes(i) = Hash64.mix(raw)
      i += 1
    }
    // winnow: min of each w-window, rightmost min on ties
    val picked = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) {
      var min = hashes(0); i = 1
      while (i < m) { if (hashes(i) <= min) min = hashes(i); i += 1 }
      picked.add(min)
    } else {
      var start = 0
      while (start + w <= m) {
        var min = hashes(start)
        var j = start + 1
        while (j < start + w) {
          if (hashes(j) <= min) min = hashes(j)
          j += 1
        }
        picked.add(min)
        start += 1
      }
    }
    val out = new Array[Long](picked.size())
    val it = picked.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `hash64(str[, seed])`: the raw deterministic hash, exposed for
  * fingerprinting and bucketing.
  */
case class StringHash64(child: Expression, seed: Long) extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = LongType
  override def prettyName: String = "hash64"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash64 expects string or binary, got: ${other.simpleString}")
  }
  override def nullSafeEval(input: Any): Any = input match {
    case s: org.apache.spark.unsafe.types.UTF8String => Hash64.hashUtf8(s, seed)
    case b: Array[Byte] => Hash64.fnv1a(b, 0, b.length, seed)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `cdc_chunks(text, minLen, maskBits, maxLen)`: content-defined
  * chunking (the LBFS/FastCDC family): a gear rolling hash over the
  * bytes declares a chunk boundary wherever its low `maskBits` bits are
  * zero (expected chunk ≈ 2^maskBits bytes) once the chunk is at least
  * `minLen` long, with a hard cut at `maxLen`. Unlike fixed-size
  * chunking (`d_chunk`), boundaries follow CONTENT: inserting or
  * deleting a prefix shifts every fixed-size chunk but leaves all CDC
  * boundaries after the edit point intact — the property that makes
  * cross-corpus dedup robust to boilerplate insertions (shift-invariance
  * pinned in CdcSpec). Output: array<struct<hash, len>>, chunk content
  * identified by its 64-bit content hash; map-only and codegen-bridged,
  * so the 100 TB path is a pure scan.
  */
case class CdcChunks(child: Expression, minLen: Int, maskBits: Int, maxLen: Int)
    extends UnaryExpression with GraftUnaryCodegen {
  require(minLen >= 1 && maxLen >= minLen && maskBits >= 1 && maskBits < 32,
    s"cdc_chunks: bad params min=$minLen mask=$maskBits max=$maxLen")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("hash", LongType, nullable = false),
      StructField("len", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks expects string or binary, got: ${other.simpleString}")
  }

  private val mask: Long = (1L << maskBits) - 1L

  override def nullSafeEval(input: Any): Any = {
    val bytes = input match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.getBytes
      case b: Array[Byte] => b
    }
    val out = new java.util.ArrayList[InternalRow]()
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + CdcChunks.gear(bytes(i) & 0xff)
      i += 1
      val len = i - start
      if ((len >= minLen && (h & mask) == 0L) || len >= maxLen || i == bytes.length) {
        out.add(InternalRow(Hash64.fnv1a(bytes, start, len, 0L), len))
        start = i
        h = 0L // boundaries restart the roll: chunk identity is content-only
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunks {
  /** Deterministic gear table: 256 seeded 64-bit values (the per-byte
    * random constants every gear-hash CDC uses; fixed seed keeps chunk
    * identity stable across JVMs and rounds).
    */
  private[functions] val gear: Array[Long] = {
    val rnd = new java.util.Random(0x67454152L) // "gEAR"
    Array.fill(256)(rnd.nextLong())
  }
}

/** `deflate_len(text)`: byte length of the DEFLATE (zlib level 6)
  * compression of the UTF-8 text — the compression-ratio quality
  * signal of the Gopher/CCNet filtering recipes: highly repetitive or
  * templated documents compress far below natural prose, and near-random
  * noise barely compresses at all. Deterministic for a given zlib
  * deflate implementation (the JDK bundles one), so partition- and
  * order-invariant within a deployment; no cross-engine oracle exists,
  * so its queries are rows-only gated with ScalaTest pins. Map-only: at
  * 100 TB this is a pure scan with ~1 KiB of per-row scratch.
  */
case class DeflateLen(child: Expression)
    extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = LongType
  override def prettyName: String = "deflate_len"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_len expects string or binary, got: ${other.simpleString}")
  }
  override def nullSafeEval(input: Any): Any = {
    val bytes = input match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.getBytes
      case b: Array[Byte] => b
    }
    java.lang.Long.valueOf(DeflateLen.compressedLength(bytes))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateLen {
  /** Length of the zlib-deflated bytes (default level), streaming
    * through a fixed scratch buffer — no output materialization. */
  def compressedLength(bytes: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** Deflate→inflate roundtrip equality — the self-inverse property the
    * driver-lane digest of d_compress_ratio certifies (no cross-engine
    * zlib exists, but "decompress(compress(x)) == x" is engine-free). */
  def roundtripOk(bytes: Array[Byte]): Boolean = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    val compressed = try {
      d.setInput(bytes); d.finish()
      val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    } finally d.end()
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(compressed)
      val out = new java.io.ByteArrayOutputStream(bytes.length + 16)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) return false // truncated stream
        out.write(buf, 0, n)
      }
      java.util.Arrays.equals(out.toByteArray, bytes)
    } catch { case _: java.util.zip.DataFormatException => false
    } finally inf.end()
  }

  /** Concatenated-compression length for NCD: C(a ++ sep ++ b). */
  def pairLength(a: Array[Byte], b: Array[Byte]): Long = {
    val joined = new Array[Byte](a.length + 1 + b.length)
    System.arraycopy(a, 0, joined, 0, a.length)
    joined(a.length) = '\n'
    System.arraycopy(b, 0, joined, a.length + 1, b.length)
    compressedLength(joined)
  }
}

/** `ncd(a, b)`: normalized compression distance in ppm —
  * (C(ab) − min(C(a), C(b))) · 10^6 / max(C(a), C(b)), floor-divided.
  * The parameter-free similarity of Cilibrasi–Vitányi: near-duplicate
  * texts share a model, so compressing them together costs little more
  * than compressing the larger alone (NCD → 0); unrelated texts cost
  * the sum (NCD → ~10^6). Used as an alternative verifier over blocked
  * candidate pairs — never all-pairs.
  */
case class NcdPpm(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {
  override def dataType: DataType = LongType
  override def prettyName: String = "ncd_ppm"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"ncd_ppm expects two strings, got: $other")
    }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val b = r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val ca = DeflateLen.compressedLength(a)
    val cb = DeflateLen.compressedLength(b)
    val cab = DeflateLen.pairLength(a, b)
    val mn = math.min(ca, cb); val mx = math.max(ca, cb)
    java.lang.Long.valueOf(if (mx == 0) 0L else ((cab - mn) * 1000000L) / mx)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ min(tf_a, tf_b) over the key-intersection of two entry arrays that
  * are SORTED by key (the contract `sort_array(collect_list(struct(key,
  * tf)))` produces — struct ordering sorts on the first field, and keys
  * are unique per doc). One O(|A|+|B|) merge walk per row in compiled
  * Scala. This is the hot kernel of exact weighted-Jaccard
  * verification in the wminhash dedup lanes: the same fold as SQL
  * `aggregate(map_values(map_zip_with(...)))`, which runs on Spark's
  * interpreted higher-order-function path (per-row LinkedHashMap
  * construction + interpreted lambda eval — measured ~400 CPU-s per
  * worker at the 30x curve point before this expression replaced it).
  * With Σmin in hand, Σmax over the key union needs no walk at all:
  * Σmax = Σtf_a + Σtf_b − Σmin.
  */
case class SumMinTfSorted(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "sum_min_tf_sorted"

  // keys may be the gram STRINGS or their xxhash64 LONGS (r13: the
  // wminhash verify ships 8-byte hashed entries — signed-long compare
  // matches sort_array's ordering of the hashed structs exactly as
  // binary UTF8 compare matches it for strings)
  private def okType(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(k, v)), _) =>
      (k.dataType == StringType || k.dataType == LongType) &&
        v.dataType == LongType
    case _ => false
  }

  @transient private lazy val longKeys: Boolean = left.dataType match {
    case ArrayType(StructType(Array(k, _)), _) => k.dataType == LongType
    case _ => false
  }

  private def keyTypeOf(t: DataType): DataType = t match {
    case ArrayType(StructType(Array(k, _)), _) => k.dataType
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType) &&
        keyTypeOf(left.dataType) == keyTypeOf(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sum_min_tf_sorted expects two array<struct<string|bigint,bigint>> " +
        s"with matching key type, got: " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var s = 0L
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2)
      val rb = b.getStruct(j, 2)
      val c =
        if (longKeys) java.lang.Long.compare(ra.getLong(0), rb.getLong(0))
        else ra.getUTF8String(0).compareTo(rb.getUTF8String(0))
      if (c == 0) {
        s += math.min(ra.getLong(1), rb.getLong(1))
        i += 1; j += 1
      } else if (c < 0) i += 1
      else j += 1
    }
    java.lang.Long.valueOf(s)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
