package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, GeneratorOuter, If, IsNull, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** DataFrame DSL + SQL registration for the variant function surface
  * (SURVEY §2.2 "Scalar functions — JSON"). The SQL names mirror the
  * reference's intended DataFusion function layer (unbuilt there,
  * /root/reference/README.md:13-16).
  */
object VariantFunctions {

  private def col(e: Expression): Column = Bridge.column(e)
  private def expr(c: Column): Expression = Bridge.expression(c)

  def variant_from_json(c: Column): Column = col(VariantFromJson(expr(c), failOnError = true))
  def try_variant_from_json(c: Column): Column = col(VariantFromJson(expr(c), failOnError = false))

  private def read(c: Column, path: String, consumer: JsonConsumer): Column =
    col(VariantRead(expr(c), path, consumer))

  def variant_get(c: Column, path: String): Column = variant_get(c, path, VariantSchema.TYPE)
  def variant_get(c: Column, path: String, targetType: DataType): Column =
    read(c, path, JsonConsumer.Cast(targetType, castFailOnError = false))
  def variant_get(c: Column, path: String, targetType: String): Column =
    variant_get(c, path, CatalystSqlParser.parseDataType(targetType))

  def variant_flatten(c: Column): Column = col(VariantFlatten(expr(c)))
  def variant_get_all(c: Column, path: String): Column =
    variant_get_all(c, path, VariantSchema.TYPE)
  def variant_get_all(c: Column, path: String, elemType: DataType): Column =
    read(c, path, JsonConsumer.All(elemType))

  def variant_typeof(c: Column): Column = read(c, "$", JsonConsumer.TypeOf)
  def is_variant_null(c: Column): Column = read(c, "$", JsonConsumer.IsNull)
  def variant_to_json(c: Column): Column = col(VariantToJson(expr(c)))
  def variant_merge_patch(target: Column, patch: Column): Column =
    col(VariantEdit(VariantEdit.Merge, expr(target), expr(patch)))
  def variant_strip_keys(v: Column, keys: Column): Column =
    col(VariantEdit(VariantEdit.Strip, expr(v), expr(keys)))
  def variant_diff(a: Column, b: Column): Column =
    col(VariantEdit(VariantEdit.Diff, expr(a), expr(b)))
  def to_variant(c: Column): Column = col(ToVariant(expr(c)))
  def to_spark_variant(c: Column): Column = col(ToSparkVariant(expr(c)))
  def from_spark_variant(c: Column): Column = col(FromSparkVariant(expr(c)))
  def variant_explode(c: Column): Column = col(VariantExplode(expr(c)))
  def variant_explode_outer(c: Column): Column =
    col(GeneratorOuter(VariantExplode(expr(c))))
  def variant_keys(c: Column): Column = read(c, "$", JsonConsumer.Keys)
  def variant_size(c: Column): Column = read(c, "$", JsonConsumer.Size)
  def schema_of_variant(c: Column): Column = read(c, "$", JsonConsumer.SchemaOf)
  def schema_of_variant_agg(c: Column): Column =
    col(SchemaOfVariantAgg(expr(c)).toAggregateExpression())
  def minhash_signature(c: Column, k: Int): Column = col(MinHashSignature(expr(c), k))
  def weighted_minhash_signature(c: Column, k: Int): Column =
    col(WeightedMinHashSignature(expr(c), k))
  def minhash_bands(c: Column, k: Int, bands: Int): Column = col(MinHashBands(expr(c), k, bands))
  def minhash_bands_of(sig: Column, bands: Int): Column = col(MinHashBandsOfSig(expr(sig), bands))
  def shingle_tokens(c: Column, n: Int): Column = col(ShingleTokens(expr(c), n))
  def word_ngrams(c: Column, n: Int): Column = col(WordNgrams(expr(c), n))
  def ngram_xxhash64(c: Column, n: Int): Column = col(NgramXxhash64(expr(c), n))
  def minhash_md5_sig(c: Column, h: Int): Column = col(Md5MinhashSig(expr(c), h))
  def bpe_saved(c: Column, merges: Seq[(String, String)]): Column =
    col(BpeSaved(expr(c), merges))
  def winnow_fps(c: Column, k: Int, w: Int): Column = col(WinnowFps(expr(c), k, w))
  def char_ngrams(c: Column, n: Int): Column = col(CharNgrams(expr(c), n))
  def repeat_indexed(g: Column, tf: Column): Column =
    col(RepeatIndexed(expr(g), expr(tf)))
  def simhash64(c: Column): Column = col(SimHash64(expr(c)))
  def hash64(c: Column, seed: Long = 0L): Column = col(StringHash64(expr(c), seed))
  def deflate_len(c: Column): Column = col(DeflateLen(expr(c)))
  def ncd_ppm(a: Column, b: Column): Column = col(NcdPpm(expr(a), expr(b)))
  def sum_min_tf_sorted(a: Column, b: Column): Column =
    col(SumMinTfSorted(expr(a), expr(b)))
  def vec_cosine(a: Column, b: Column): Column = col(CosineSimFloat(expr(a), expr(b)))
  def vec_l2sq(a: Column, b: Column): Column = col(L2SqFloat(expr(a), expr(b)))
  def vec_l2sq_long(a: Column, b: Column): Column = col(L2SqLong(expr(a), expr(b)))
  def vec_quantize_ppm(c: Column): Column = col(VecQuantizePpm(expr(c)))
  def vec_sub_long(a: Column, b: Column): Column = col(VecSubLong(expr(a), expr(b)))
  def del1_neighbors(c: Column): Column = col(Del1Neighbors(expr(c)))
  def vec_sq8(c: Column): Column = col(Sq8Encode(expr(c)))
  def vec_cosine_i8(a: Column, b: Column): Column = col(CosineSimI8(expr(a), expr(b)))
  def jaccard_sorted(a: Column, b: Column): Column = col(JaccardSorted(expr(a), expr(b)))
  def jaro_winkler(a: Column, b: Column): Column = col(JaroWinkler(expr(a), expr(b)))
  def hyperplane_bucket(c: Column, bits: Int): Column = col(HyperplaneBucket(expr(c), bits))
  def winnow_fingerprints(c: Column, k: Int = 8, w: Int = 16): Column =
    col(WinnowFingerprints(expr(c), k, w))
  def cdc_chunks(c: Column, minLen: Int = 64, maskBits: Int = 6, maxLen: Int = 512): Column =
    col(CdcChunks(expr(c), minLen, maskBits, maxLen))
  // PQ kernels are DSL-only: the codebook is a trained float array, not
  // something a SQL literal can carry.
  def pq_encode(c: Column, codebook: Array[Float], m: Int, ksub: Int): Column =
    col(PqEncode(expr(c), codebook, m, ksub))
  def pq_query_table(c: Column, codebook: Array[Float], m: Int, ksub: Int): Column =
    col(PqQueryTable(expr(c), codebook, m, ksub))
  def pq_adc_lookup(codes: Column, table: Column, codebook: Array[Float], m: Int, ksub: Int): Column =
    col(PqAdcLookup(expr(codes), expr(table), codebook, m, ksub))
  // Bloom semi-join reduction on Spark's own kernels. Both sides hash
  // the key with xxhash64 first, as Spark's runtime filter does for a
  // non-bigint key, so any key type probes; a NULL key stays NULL.
  private def bloomKey(key: Expression): Expression =
    If(IsNull(key), Literal(null, LongType), new XxHash64(Seq(key)))
  private def bloomAgg(key: Expression, estimatedNumItems: Long, numBits: Long): Expression =
    new BloomFilterAggregate(bloomKey(key), Literal(estimatedNumItems), Literal(numBits))
      .toAggregateExpression()
  def bloom_agg(c: Column, estimatedNumItems: Long, numBits: Long): Column =
    col(bloomAgg(expr(c), estimatedNumItems, numBits))
  def bloom_might_contain(bf: Column, key: Column): Column =
    col(BloomFilterMightContain(expr(bf), bloomKey(expr(key))))
  def topk_pairs(score: Column, id: Column, k: Int): Column =
    col(TopKPairs(expr(score), expr(id), k).toAggregateExpression())
  def bottom_k_longs(c: Column, k: Int): Column =
    col(BottomKLongs(expr(c), k).toAggregateExpression())
  def count_min_agg(c: Column, depth: Int, width: Int): Column =
    col(CountMinAgg(expr(c), depth, width).toAggregateExpression())
  def count_min_query(sketch: Column, key: Column): Column =
    col(CountMinQuery(expr(sketch), expr(key)))
  def bitmap_agg(c: Column): Column = col(BitmapAgg(expr(c)).toAggregateExpression())
  def bitmap_or_agg(c: Column): Column = col(BitmapOrAgg(expr(c)).toAggregateExpression())
  def bitmap_cardinality(c: Column): Column = col(BitmapCardinality(expr(c)))
  def bitmap_and_cardinality(a: Column, b: Column): Column =
    col(BitmapAndCardinality(expr(a), expr(b)))

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: Int, _) => i
    case Literal(l: Long, _) => Math.toIntExact(l)
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  /** `name(v, path[, type])`: a read at a literal path whose row takes
    * the type, a variant when it is left out. */
  private def pathRead(name: String, consumer: DataType => JsonConsumer)(es: Seq[Expression]): Expression = {
    val tpe =
      if (es.length >= 3) CatalystSqlParser.parseDataType(litString(es(2), s"$name type"))
      else VariantSchema.TYPE
    VariantRead(es.head, litString(es(1), s"$name path"), consumer(tpe))
  }

  /** (name, builder, usage) for every SQL function we expose. A name
    * that Spark also registers is taken over in every session built
    * through `Tables.configure`; only the variant readers do that, on
    * purpose (`NativeVariantDispatch` routes native `VariantType`
    * inputs to Spark's own). `bitmap_or_agg` is DSL-only for that
    * reason: the SQL name stays Spark's builtin over Spark's bitmaps. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("variant_from_json",
      (es: Seq[Expression]) => VariantFromJson(es.head, failOnError = true),
      "variant_from_json(jsonStr) - Parse JSON text into a variant value."),
    ("try_variant_from_json",
      (es: Seq[Expression]) => VariantFromJson(es.head, failOnError = false),
      "try_variant_from_json(jsonStr) - Parse JSON text into a variant; NULL on malformed input."),
    ("parse_variant",
      (es: Seq[Expression]) => VariantFromJson(es.head, failOnError = true),
      "parse_variant(jsonStr) - Alias of variant_from_json."),
    ("variant_get",
      pathRead("variant_get", JsonConsumer.Cast(_, castFailOnError = false)),
      "variant_get(v, path[, type]) - Extract a path from a variant, optionally cast; NULL when the cast fails (lenient, the same as try_variant_get; Spark's own variant_get raises)."),
    ("try_variant_get",
      pathRead("try_variant_get", JsonConsumer.Cast(_, castFailOnError = false)),
      "try_variant_get(v, path[, type]) - Like variant_get; NULL on cast failure."),
    ("variant_get_all",
      pathRead("variant_get_all", JsonConsumer.All(_)),
      "variant_get_all(v, path[, type]) - All matches of a path with [*] / .* wildcards, as an array (empty when none)."),
    ("variant_typeof",
      (es: Seq[Expression]) => VariantRead(es.head, "$", JsonConsumer.TypeOf),
      "variant_typeof(v) - Type name of the variant root value."),
    ("is_variant_null",
      (es: Seq[Expression]) => VariantRead(es.head, "$", JsonConsumer.IsNull),
      "is_variant_null(v) - True iff v encodes a variant (JSON) null."),
    ("variant_to_json",
      (es: Seq[Expression]) => VariantToJson(es.head),
      "variant_to_json(v) - Render a variant as compact JSON text."),
    ("variant_merge_patch",
      (es: Seq[Expression]) => VariantEdit(VariantEdit.Merge, es.head, es(1)),
      "variant_merge_patch(target, patch) - RFC 7386 merge: objects merge recursively, patch nulls delete keys, non-objects replace."),
    ("variant_strip_keys",
      (es: Seq[Expression]) => VariantEdit(VariantEdit.Strip, es.head, es(1)),
      "variant_strip_keys(v, keys) - Remove named top-level keys from a variant object; no-op on non-objects."),
    ("variant_diff",
      (es: Seq[Expression]) => VariantEdit(VariantEdit.Diff, es.head, es(1)),
      "variant_diff(a, b) - Minimal RFC 7386 patch p with variant_merge_patch(a, p) = b (nulls in b unreachable; non-objects replace)."),
    ("to_variant",
      (es: Seq[Expression]) => ToVariant(es.head),
      "to_variant(col) - Encode a typed value (scalar/struct/array/map) as a variant."),
    ("to_spark_variant",
      (es: Seq[Expression]) => ToSparkVariant(es.head),
      "to_spark_variant(v) - Reinterpret our variant struct as Spark's native VariantType (byte-verbatim)."),
    ("from_spark_variant",
      (es: Seq[Expression]) => FromSparkVariant(es.head),
      "from_spark_variant(v) - Spark's native variant as our (metadata, value) struct (byte-verbatim)."),
    ("variant_explode",
      (es: Seq[Expression]) => VariantExplode(es.head),
      "variant_explode(v) - One row per object field (pos, key, value) or array element (pos, NULL, value)."),
    ("variant_explode_outer",
      (es: Seq[Expression]) => GeneratorOuter(VariantExplode(es.head)),
      "variant_explode_outer(v) - Like variant_explode but emits one all-NULL row for scalars/NULL."),
    ("variant_flatten",
      (es: Seq[Expression]) => VariantFlatten(es.head),
      "variant_flatten(v) - One row per node, depth-first: (path, typ, leaf); container leaf is SQL NULL, paths replay through variant_get."),
    ("variant_keys",
      (es: Seq[Expression]) => VariantRead(es.head, "$", JsonConsumer.Keys),
      "variant_keys(v) - Sorted key names of a variant object; NULL for non-objects."),
    ("variant_size",
      (es: Seq[Expression]) => VariantRead(es.head, "$", JsonConsumer.Size),
      "variant_size(v) - Field/element count of a variant object/array; NULL for scalars."),
    ("schema_of_variant",
      (es: Seq[Expression]) => VariantRead(es.head, "$", JsonConsumer.SchemaOf),
      "schema_of_variant(v) - Rendered type of a variant value."),
    ("schema_of_variant_agg",
      (es: Seq[Expression]) => SchemaOfVariantAgg(es.head).toAggregateExpression(),
      "schema_of_variant_agg(v) - Least-upper-bound schema across a group."),
    ("minhash_bands",
      (es: Seq[Expression]) => MinHashBands(es.head,
        litInt(es(1), "minhash_bands k"), litInt(es(2), "minhash_bands bands")),
      "minhash_bands(tokens, k, b) - LSH band bucket ids of a k-slot MinHash signature."),
    ("minhash_bands_of",
      (es: Seq[Expression]) => MinHashBandsOfSig(es.head, litInt(es(1), "minhash_bands_of bands")),
      "minhash_bands_of(sig, b) - LSH band buckets from an existing signature array."),
    ("shingle_tokens",
      (es: Seq[Expression]) => ShingleTokens(es.head, litInt(es(1), "shingle_tokens n")),
      "shingle_tokens(text, n) - Whitespace tokens joined into word n-gram shingles."),
    ("word_ngrams",
      (es: Seq[Expression]) => WordNgrams(es.head, litInt(es(1), "word_ngrams n")),
      "word_ngrams(toks, n) - Space-joined consecutive n-grams of a token array."),
    ("ngram_xxhash64",
      (es: Seq[Expression]) => NgramXxhash64(es.head, litInt(es(1), "ngram_xxhash64 n")),
      "ngram_xxhash64(toks, n) - xxhash64 of every consecutive n-token window."),
    ("minhash_md5_sig",
      (es: Seq[Expression]) => Md5MinhashSig(es.head, litInt(es(1), "minhash_md5_sig h")),
      "minhash_md5_sig(s, h) - md5-keyed MinHash signature: per k in 1..h, min md5(k||':'||x) hex."),
    ("winnow_fps",
      (es: Seq[Expression]) => WinnowFps(es.head,
        litInt(es(1), "winnow_fps k"), litInt(es(2), "winnow_fps w")),
      "winnow_fps(text, k, w) - sorted distinct winnowing fingerprints over md5 char k-grams."),
    ("char_ngrams",
      (es: Seq[Expression]) => CharNgrams(es.head, litInt(es(1), "char_ngrams n")),
      "char_ngrams(str, n) - all consecutive n-codepoint substrings."),
    ("hyperplane_bucket",
      (es: Seq[Expression]) => HyperplaneBucket(es.head, litInt(es(1), "hyperplane_bucket bits")),
      "hyperplane_bucket(vec, bits) - Sign-hash LSH bucket of an embedding vector."),
    ("bloom_agg",
      (es: Seq[Expression]) => bloomAgg(es.head,
        litInt(es(1), "bloom_agg estimatedNumItems"), litInt(es(2), "bloom_agg numBits")),
      "bloom_agg(key, estimatedNumItems, numBits) - Spark's mergeable Bloom filter over a join key (no false negatives)."),
    ("bloom_might_contain",
      (es: Seq[Expression]) => BloomFilterMightContain(es.head, bloomKey(es(1))),
      "bloom_might_contain(bf, key) - Probe a bloom_agg filter (a literal or scalar subquery); NULL for NULL keys."),
    ("bottomk_by_hash",
      (es: Seq[Expression]) => BottomKByHash(es.head, litInt(es(1), "bottomk_by_hash k"))
        .toAggregateExpression(),
      "bottomk_by_hash(s, k) - Deterministic uniform sample: the k values with smallest md5 digests."),
    ("count_min_agg",
      (es: Seq[Expression]) => CountMinAgg(es.head,
        litInt(es(1), "count_min_agg depth"), litInt(es(2), "count_min_agg width"))
        .toAggregateExpression(),
      "count_min_agg(key, depth, width) - Mergeable count-min sketch; point estimates never undercount."),
    ("count_min_query",
      (es: Seq[Expression]) => CountMinQuery(es.head, es(1)),
      "count_min_query(sketch, key) - Count-min point estimate (min over depth cells)."),
    ("bitmap_agg",
      (es: Seq[Expression]) => BitmapAgg(es.head).toAggregateExpression(),
      "bitmap_agg(id) - Exact-distinct paged bitmap over non-negative ids; mergeable."),
    ("bitmap_cardinality",
      (es: Seq[Expression]) => BitmapCardinality(es.head),
      "bitmap_cardinality(bytes) - Popcount of a bitmap sketch."),
    ("bitmap_and_cardinality",
      (es: Seq[Expression]) => BitmapAndCardinality(es.head, es(1)),
      "bitmap_and_cardinality(a, b) - Exact |A ∩ B| of two bitmap sketches (audience overlap)."),
    ("misra_gries",
      (es: Seq[Expression]) => MisraGries(es.head, litInt(es(1), "misra_gries k"))
        .toAggregateExpression(),
      "misra_gries(s, k) - Mergeable frequent-items candidate sketch (k counters); items with frequency > n/(k+1) are guaranteed present."),
    ("topk_pairs",
      (es: Seq[Expression]) => TopKPairs(es.head, es(1), litInt(es(2), "topk_pairs k"))
        .toAggregateExpression(),
      "topk_pairs(score, id, k) - Exact top-k (score DESC, id ASC) with O(k) mergeable state."),
    ("minhash_signature",
      (es: Seq[Expression]) => {
        val k = es(1) match {
          case Literal(i: Int, _) => i
          case other => throw new IllegalArgumentException(
            s"minhash_signature k must be an int literal, got: $other")
        }
        MinHashSignature(es.head, k)
      },
      "minhash_signature(tokens, k) - k-slot MinHash signature of a string array."),
    ("simhash64",
      (es: Seq[Expression]) => SimHash64(es.head),
      "simhash64(tokens) - 64-bit SimHash of a string array."),
    ("weighted_minhash_signature",
      (es: Seq[Expression]) => {
        val k = es(1) match {
          case Literal(i: Int, _) => i
          case other => throw new IllegalArgumentException(
            s"weighted_minhash_signature k must be an int literal, got: $other")
        }
        WeightedMinHashSignature(es.head, k)
      },
      "weighted_minhash_signature(tokens, k) - Multiset MinHash: slot-match probability = weighted Jaccard."),
    ("hash64",
      (es: Seq[Expression]) => StringHash64(es.head, 0L),
      "hash64(str) - Deterministic 64-bit FNV/splitmix hash."),
    ("winnow_fingerprints",
      (es: Seq[Expression]) => WinnowFingerprints(es.head, 8, 16),
      "winnow_fingerprints(text) - Winnowing rolling-hash fingerprints (k=8, w=16)."),
    ("cdc_chunks",
      (es: Seq[Expression]) => CdcChunks(es.head, 64, 6, 512),
      "cdc_chunks(text) - Content-defined chunks (gear hash; min=64, avg=2^6, max=512)."),
    ("vec_cosine",
      (es: Seq[Expression]) => CosineSimFloat(es.head, es(1)),
      "vec_cosine(a, b) - Cosine similarity of two float/double vectors."),
    ("vec_sq8",
      (es: Seq[Expression]) => Sq8Encode(es.head),
      "vec_sq8(vec) - Int8 scalar-quantized codes of a vector (one signed byte per dim)."),
    ("vec_cosine_i8",
      (es: Seq[Expression]) => CosineSimI8(es.head, es(1)),
      "vec_cosine_i8(a, b) - Cosine similarity over two sq8 code arrays (integer kernel)."),
    ("jaro_winkler",
      (es: Seq[Expression]) => JaroWinkler(es.head, es(1)),
      "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] (standard parameters; bit-stable float order)."),
    ("jaccard_sorted",
      (es: Seq[Expression]) => JaccardSorted(es.head, es(1)),
      "jaccard_sorted(a, b) - Jaccard similarity of two sorted distinct string arrays."))

  /** Imperative registration for an existing session (tests, notebooks). */
  def register(spark: SparkSession): Unit = {
    sqlFunctions.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
  }
}

/** `SparkSessionExtensions` hook:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VariantFunctions.sqlFunctions.foreach { case (name, builder, usage) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage),
        builder))
    }
    // one variant_get name over both representations: native VariantType
    // children dispatch to Spark's builtin (keeping its shredded-scan
    // pushdown applicable) or to from_spark_variant + our get
    ext.injectResolutionRule(_ => NativeVariantDispatch)
    // SURVEY §4.2.2: parse+get fusion (single-pass JSON extraction)
    ext.injectOptimizerRule(_ => VariantGetFusionRule)
    // variant_get over a shredded table → direct column ref (Dremel
    // pushdown: parquet min/max pruning on the shredded column)
    ext.injectOptimizerRule(_ => ShreddedPushdownRule)
    // custom whole-operator extension: grouped top-k with map-side
    // bounded heaps (graft.plans.GroupedTopK)
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
    // custom whole-operator extension: point-in-interval join via a
    // sorted broadcast + binary search (graft.plans.BroadcastRangeJoin)
    ext.injectPlannerStrategy(_ => graft.plans.BroadcastRangeJoinStrategy)
  }
}
