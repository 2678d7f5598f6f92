package graft.operators

import graft.functions.{SchemaOfVariantAgg, VariantFunctions => vf}
import graft.variant.SchemaInfer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Shredding-lite: materialize variant fields as real typed columns so
  * parquet gets native column statistics and filter pushdown for them —
  * the Dremel-lineage pattern (PAPERS.md: "Dremel: A Decade of
  * Interactive SQL Analysis"). A variant column is opaque binary to the
  * scanner; a shredded copy turns `variant_get` probes into plain column
  * scans with `PushedFilters`. At 100 TB this is the difference between
  * reading every byte of every JSON blob and skipping row groups on
  * min/max stats.
  */
object Shred {

  /** Column-metadata keys marking a shredded column; the
    * [[graft.functions.ShreddedPushdownRule]] rewrites
    * `variant_get(source, path)` to the marked column so parquet min/max
    * pruning fires on read-back. The marks survive a parquet round trip
    * (Spark stores field metadata in the file footer schema).
    */
  val SHRED_SOURCE_KEY = "graft.shred.source"
  val SHRED_PATH_KEY = "graft.shred.path"

  /** Exactness mark: set only when the column's type is the field's
    * FULL-SCAN inferred lattice type. Then every non-null occurrence of
    * the field casts to the column type without error (the lattice merge
    * admits only error-free widenings: long→double, long→decimal, scale
    * widening), so [[graft.functions.ShreddedPushdownRule]] may
    * substitute the column even under a STRICT `variant_get`.
    * Sample-based inference can never set this — an unsampled row could
    * hold a cast-failing value.
    */
  val SHRED_EXACT_KEY = "graft.shred.exact"

  /** Explicit shredding: add a typed column per (path, type, name).
    * All fields extract through ONE variant_get_multi evaluation —
    * metadata decode and frame walk are shared across the field set.
    */
  def shred(df: DataFrame, variantCol: String,
            fields: Seq[(String, DataType, String)],
            exactTypes: Boolean = false): DataFrame = {
    if (fields.isEmpty) return df
    val multi = Bridge.column(graft.functions.VariantRead(
      Bridge.expression(col(variantCol)), "$", graft.functions.JsonConsumer.Multi(fields)))
    val shredded = df.withColumn("_shred", multi)
    val marked = fields.map { case (path, _, name) =>
      val mb = new MetadataBuilder()
        .putString(SHRED_SOURCE_KEY, variantCol)
        .putString(SHRED_PATH_KEY, path)
      if (exactTypes) mb.putBoolean(SHRED_EXACT_KEY, true)
      col(s"_shred.$name").as(name, mb.build())
    }
    shredded.select(df.columns.map(col).toIndexedSeq ++ marked: _*)
  }

  /** The bounded-sample schema-inference aggregation. Exposed so plan
    * tests can assert the sample bound and the pruned read schema.
    * `sampleRows <= 0` means full scan (explicit opt-in: a field absent
    * from the sample prefix is not shredded).
    */
  private[graft] def inferenceFrame(df: DataFrame, variantCol: String,
                                    sampleRows: Int): DataFrame = {
    val pruned = df.select(col(variantCol))
    val src = if (sampleRows > 0) pruned.limit(sampleRows) else pruned
    src.agg(Bridge.column(
      SchemaOfVariantAgg(Bridge.expression(col(variantCol)), renderOutput = false)
        .toAggregateExpression()).as("s"))
  }

  /** Inference results memoized per (canonicalized plan, column, bound).
    * Inference is index build, not query work: re-running the sample job
    * on every `autoShred` call doubles (or worse) the cost of every query
    * over the same table. Keyed on the CANONICALIZED logical plan —
    * structural equality, so two independently-built DataFrames over the
    * same source + transforms share one inference run. Same amortization
    * pattern as `SimilarityQueries.ivfModelCache`.
    */
  private val inferCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int),
    Seq[(String, DataType, String)]]()

  /** Infer the shreddable top-level fields by aggregating the variant
    * schema lattice over a BOUNDED SAMPLE (default 10k rows, column-pruned
    * to the variant alone). A full inference pass would double the read
    * at 100 TB; the lattice merge makes the sampled result a lower bound
    * of the true field set, which is the safe direction for shredding —
    * un-sampled fields simply stay in the variant column. Pass
    * `sampleRows = 0` to force the exact full scan. Results are memoized
    * per (plan, column, bound) for the JVM's lifetime.
    */
  def inferFields(df: DataFrame, variantCol: String,
                  sampleRows: Int = 10000): Seq[(String, DataType, String)] = {
    val key = (df.queryExecution.analyzed.canonicalized, variantCol, sampleRows)
    inferCache.computeIfAbsent(key, _ => {
      val serialized = inferenceFrame(df, variantCol, sampleRows)
        .collect()(0).getString(0)
      SchemaInfer.deserialize(serialized) match {
        case SchemaInfer.SObject(fieldMap) =>
          fieldMap.toSeq.flatMap { case (key, t) =>
            toSparkType(t).map(dt => (s"$$.${key}", dt, s"v_$key"))
          }
        case _ => Seq.empty
      }
    })
  }

  private def toSparkType(t: SchemaInfer.SType): Option[DataType] = t match {
    case SchemaInfer.SBool => Some(BooleanType)
    case SchemaInfer.SLong => Some(LongType)
    case SchemaInfer.SDouble => Some(DoubleType)
    case SchemaInfer.SDecimal(s) => Some(DecimalType(38, s))
    case SchemaInfer.SString => Some(StringType)
    case SchemaInfer.SDate => Some(DateType)
    case SchemaInfer.STimestamp => Some(TimestampType)
    case _ => None // nested/variant-typed fields stay in the variant column
  }

  /** Auto-shred: infer top-level scalar fields on a bounded sample and
    * materialize them. `sampleRows = 0` forces full-scan inference,
    * which additionally proves type exactness (see [[SHRED_EXACT_KEY]]).
    */
  def autoShred(df: DataFrame, variantCol: String, sampleRows: Int = 10000): DataFrame =
    shred(df, variantCol, inferFields(df, variantCol, sampleRows),
      exactTypes = sampleRows == 0)

  /** Stage a shredded copy of the events table (event columns + variant
    * `v` + marked shredded `v_k`) as parquet, once per (sfDir, JVM);
    * returns the staged path. Backing store for the read-back queries:
    * `v_readback` (variant column persisted and re-extracted — exercises
    * the decoded-metadata cache) and `v_shred_pushdown` (variant_get
    * rewritten to the shredded column with parquet PushedFilters).
    */
  def stageShreddedTable(spark: SparkSession, sfDir: String,
                         exact: Boolean = false): String = synchronized {
    val suffix = if (exact) "_exact" else ""
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_shredded_${Integer.toHexString(sfDir.hashCode)}$suffix")
    val marker = new java.io.File(dir, "_SUCCESS")
    if (!marker.exists()) {
      val ev = graft.Tables.events(spark, sfDir)
        .withColumn("v", vf.variant_from_json(col("props")))
      autoShred(ev, "v", sampleRows = if (exact) 0 else 10000)
        .drop("props")
        .write.mode("overwrite").parquet(dir.toString)
    }
    dir.toString
  }
}
