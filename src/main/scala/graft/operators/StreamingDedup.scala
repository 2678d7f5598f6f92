package graft.operators

import graft.functions.{VariantFunctions => vf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection: the batch MinHash+LSH pipeline
  * (Dedup.scala) lifted onto `flatMapGroupsWithState`. Each arriving
  * document is checked against every previously-seen document in its LSH
  * band buckets — the incremental question a streaming ingest pipeline
  * actually asks ("is this new doc a near-dup of anything already
  * ingested?").
  *
  * Scale shape: the signature+banding map is stateless and map-only; the
  * ONLY shuffle is the groupByKey on (band, bucket) — the same narrow
  * (id, band, bucket, sig) rows as the batch path — and state is
  * per-bucket, bounded by [[StreamingDedup.MAX_BUCKET_DOCS]], so skewed
  * buckets degrade recall instead of memory. Verification uses the
  * signature-estimated Jaccard (matching-slot fraction), which needs no
  * second pass over the text.
  */
object StreamingDedup {

  /** One exploded row per (doc, band). `sig` is a primitive array: each
    * doc's row fans out `bands`× through the bucket shuffle, so the
    * signature's wire format dominates shuffle volume — Array[Long]
    * encodes as an UnsafeArrayData primitive block (no per-element
    * boxing), where Seq[Long] pays object serialization per slot.
    */
  case class BandedDoc(id: Long, band: Int, bucket: Long, sig: Array[Long])

  /** Per-bucket state: parallel id/signature lists of seen docs. */
  case class BucketState(ids: List[Long], sigs: List[Array[Long]])

  case class DupPair(id_a: Long, id_b: Long, est: Double)

  /** Per-bucket state cap: a pathological bucket (degenerate vocabulary,
    * adversarial input) stops accumulating instead of OOMing the
    * executor; docs past the cap still match against the stored prefix.
    */
  val MAX_BUCKET_DOCS = 1024

  /** Fraction of agreeing MinHash slots — the unbiased Jaccard
    * estimator.
    */
  def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    var m = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / a.length
  }

  /** Map-only banded-signature frame over (idCol, textCol): shingle →
    * signature + per-band bucket → explode to narrow rows. Shared by the
    * streaming pipeline and its batch-equality tests.
    */
  def banded(docs: DataFrame, idCol: String, textCol: String,
             numHashes: Int, bands: Int, shingleSize: Int): DataFrame =
    docs
      .select(col(idCol).as("id"),
        array_sort(array_distinct(
          vf.shingle_tokens(col(textCol), shingleSize))).as("toks"))
      .withColumn("sig", vf.minhash_signature(col("toks"), numHashes))
      // band the signature we already carry — minhash_bands(toks) would
      // hash every token a second time
      .withColumn("bandArr", vf.minhash_bands_of(col("sig"), bands))
      .filter(col("sig").isNotNull && col("bandArr").isNotNull)
      .select(col("id"), posexplode(col("bandArr")).as(Seq("band", "bucket")), col("sig"))

  private def bucketMatcher(threshold: Double)(
      @annotation.unused key: (Int, Long), rows: Iterator[BandedDoc],
      state: GroupState[BucketState]): Iterator[DupPair] = {
    val prev = state.getOption.getOrElse(BucketState(Nil, Nil))
    var ids = prev.ids
    var sigs = prev.sigs
    var n = ids.length
    val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
    rows.foreach { r =>
      var is = ids
      var ss = sigs
      while (is.nonEmpty) {
        if (is.head != r.id) {
          val est = estJaccard(ss.head, r.sig)
          if (est >= threshold)
            out += DupPair(math.min(is.head, r.id), math.max(is.head, r.id), est)
        }
        is = is.tail
        ss = ss.tail
      }
      if (n < MAX_BUCKET_DOCS) {
        ids = r.id :: ids
        sigs = r.sig :: sigs
        n += 1
      }
    }
    state.update(BucketState(ids, sigs))
    out.iterator
  }

  /** docs(idCol: long, textCol: string) — batch OR streaming — to
    * (id_a, id_b, est) near-dup pairs, id_a < id_b, one row per
    * (pair, shared bucket); callers dedupe across buckets. Running the
    * same code path in batch mode (state starts empty, one call per
    * bucket) yields exactly the streaming result for any micro-batch
    * split — the StreamingSpec equality test pins that.
    */
  def minhashDupStream(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 128, bands: Int = 32,
                       threshold: Double = 0.7, shingleSize: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    banded(docs, idCol, textCol, numHashes, bands, shingleSize)
      .as[BandedDoc]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketState, DupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(bucketMatcher(threshold))
      .toDF()
  }
}
