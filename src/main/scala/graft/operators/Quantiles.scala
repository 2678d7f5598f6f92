package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distributed quantiles WITHOUT a global sort — the two-pass
  * histogram-partition-select algorithm every large engine uses when an
  * exact P99 over a 100 TB column is required:
  *
  *  pass 1: min/max/count, then a fixed-width histogram of B buckets —
  *          one map-side-combined aggregation each, both mergeable and
  *          deterministic; the driver sees only B+1 numbers, a size
  *          independent of row count.
  *  pass 2: every requested rank lands in a known bucket (cumulative
  *          counts); only THAT bucket's rows — expected n/B of the
  *          data, bounded by the widest bucket — are sorted, and the
  *          in-bucket offset picks the exact element.
  *
  * Contrast: a global `orderBy` shuffles the whole table into one
  * range-partitioned sort; Spark's built-in percentile aggregates the
  * full multiset per group into one buffer. Here the full data is only
  * ever SCANNED (twice), never globally shuffled, and the sort touches
  * one bucket per quantile.
  *
  * Rank convention is SQL percentile_disc / DuckDB quantile_disc:
  * the value whose 1-indexed rank is max(1, ceil(q*n)).
  */
object Quantiles {

  /** Exact discrete quantiles of `valueCol` (long-typed values).
    * Returns one row per requested q: (q, value). `buckets` bounds both
    * the driver-side histogram (buckets rows) and the expected pass-2
    * selection size (n/buckets rows).
    */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                     buckets: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("long")

    // pass 1a: bounds + count (one aggregated row to the driver)
    val head = df.agg(min(v).as("mn"), max(v).as("mx"), count(v).as("n")).head()
    if (head.isNullAt(2) || head.getLong(2) == 0L)
      return Seq.empty[(Double, Long)].toDF("q", "value")
    val (mn, mx, n) = (head.getLong(0), head.getLong(1), head.getLong(2))

    // degenerate range: every row carries the same value
    if (mn == mx) return qs.map(q => (q, mn)).toDF("q", "value")

    // pass 1b: fixed-width histogram; bucket ids are pure arithmetic
    // over the value, so the aggregation map-side combines and the
    // result is partition-order invariant. The driver receives at most
    // `buckets` (id, count) pairs regardless of n.
    val span = mx - mn + 1
    val bWidth = math.max(1L, (span + buckets - 1) / buckets)
    val bucketOf = ((v - mn) / bWidth).cast("long")
    val hist = df.select(bucketOf.as("b")).groupBy("b").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)

    // cumulative counts → (bucket, rank offset) per requested quantile
    val targets = qs.map { q =>
      val rank = math.max(1L, math.ceil(q * n).toLong) // percentile_disc
      var cum = 0L
      var found: Option[(Long, Long)] = None // (bucket id, cum before it)
      val it = hist.iterator
      while (found.isEmpty && it.hasNext) {
        val (bid, c) = it.next()
        if (cum + c >= rank) found = Some((bid, cum))
        cum += c
      }
      val (b, prevCum) = found.getOrElse((hist.last._1, cum - hist.last._2))
      (q, b, (rank - prevCum).toInt) // rank WITHIN the bucket, 1-indexed
    }

    // pass 2: per distinct bucket, sort only that bucket's rows once and
    // pick every offset that landed in it (several quantiles can share a
    // bucket). The bucket predicate is applied at the SCAN, so pass 2
    // reads ~n/buckets rows per distinct bucket; the unpartitioned
    // row_number window sorts exactly that bounded slice — `buckets`
    // is the knob that keeps it executor-sized at any corpus scale.
    targets.groupBy(_._2).toSeq.map { case (b, ts) =>
      val lo = mn + b * bWidth
      val hi = lo + bWidth
      val inBucket = df.select(v.as("value"))
        .filter(col("value") >= lo && col("value") < hi)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("value"))
      val ranked = inBucket.withColumn("r", row_number().over(w))
      val wanted = ts.map { case (q, _, off) => (q, off) }.toDF("q", "r")
      ranked.join(broadcast(wanted), Seq("r")).select(col("q"), col("value"))
    }.reduce(_ unionAll _)
  }
}
