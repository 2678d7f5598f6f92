package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution is heavy-tailed.
  *
  * `saltedJoin` spreads each hot key of the big side over `factor`
  * synthetic sub-keys and replicates the small side once per sub-key:
  * shuffle partitions receive ≤ 1/factor of any single key. Use when a
  * broadcast is impossible (small side too big) and AQE's skew-join
  * splitting isn't available (e.g. non-sort-merge plans). The salt is
  * derived deterministically from the big side's row content, so the
  * join stays reproducible.
  */
object Skew {

  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 factor: Int, joinType: String = "inner"): DataFrame = {
    require(factor > 1 && factor <= 1024, s"salt factor out of range: $factor")
    val saltedBig = big.withColumn("_salt",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(factor)))
    val saltedSmall = small
      .withColumn("_salt", explode(expr(s"sequence(0, ${factor - 1})")))
    saltedBig.join(saltedSmall, Seq(key, "_salt"), joinType).drop("_salt")
  }
}
