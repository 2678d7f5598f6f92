package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.{lineitem, orders}

/** Round-7 typed-API surface: KeyValueGroupedDataset.cogroup, the
  * public `Aggregator` UDAF API (the user-facing layer above the
  * Catalyst TypedImperativeAggregates the sketch family uses), and the
  * `_metadata` file-provenance columns.
  *
  * Determinism: all money flows through integer cents computed with the
  * SAME IEEE ops on both engines (`floor(x*100 + 0.5)`); every typed
  * function emitted is a pure function of its group's row SET.
  */
object TypedApiQueries {

  case class OrderSlice(o_orderkey: Long, o_totalprice: Double)
  case class LineSlice(l_orderkey: Long, l_quantity: Double)

  /** Exact mean in micro-cents over long cents: (sum, n) buffer, merge
    * by field-wise add — the public Aggregator twin of the house
    * TypedImperativeAggregates. Floor division keeps the finish step
    * integer-exact on both engines.
    */
  object CentsMean extends Aggregator[Long, (Long, Long), Long] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: Long): (Long, Long) = (b._1 + a, b._2 + 1)
    override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(b: (Long, Long)): Long =
      if (b._2 == 0) 0L else Math.floorDiv(b._1 * 10000L, b._2)
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  val all: Seq[QueryDef] = Seq(

    // -----------------------------------------------------------------
    // Typed cogroup: both sides shuffle once on the key and the typed
    // function streams BOTH iterators — the arbitrary two-sided group
    // logic that a join+groupBy can only express when it's relational.
    // Emitted fields are pure functions of the key's row set.
    // -----------------------------------------------------------------
    QueryDef("q_typed_cogroup",
      (s, d) => {
        import s.implicits._
        val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
          .as[OrderSlice].groupByKey(_.o_orderkey)
        val l = lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
          .as[LineSlice].groupByKey(_.l_orderkey)
        o.cogroup(l) { (k, os, ls) =>
          var n = 0L; var qty = 0L
          ls.foreach { r => n += 1; qty += math.floor(r.l_quantity * 100 + 0.5).toLong }
          val price = os.toSeq.headOption
            .map(r => math.floor(r.o_totalprice * 100 + 0.5).toLong)
          if (n >= 5) Iterator.single((k, n, qty, price.getOrElse(0L)))
          else Iterator.empty
        }.toDF("o_orderkey", "n_lines", "qty_cents", "price_cents")
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT l.l_orderkey AS o_orderkey, COUNT(*) AS n_lines,
             |       CAST(SUM(CAST(floor(l.l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents,
             |       CAST(floor(MIN(o.o_totalprice)*100 + 0.5) AS BIGINT) AS price_cents
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |GROUP BY l.l_orderkey HAVING COUNT(*) >= 5
             |ORDER BY o_orderkey""".stripMargin)),

    // -----------------------------------------------------------------
    // Public Aggregator UDAF, registered for SQL via functions.udaf and
    // used through spark.sql — partial aggregation and merge() run
    // map-side exactly like a built-in; the (sum, n) buffer is the
    // minimal mergeable state for an exact mean.
    // -----------------------------------------------------------------
    QueryDef("q_typed_aggregator",
      (s, d) => {
        s.udf.register("cents_mean", udaf(CentsMean))
        lineitem(s, d)
          .withColumn("cents", expr("CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)"))
          .createOrReplaceTempView("lineitem_udaf")
        s.sql("""SELECT l_returnflag, cents_mean(cents) AS mean_microcents,
                |       COUNT(*) AS n
                |FROM lineitem_udaf GROUP BY l_returnflag
                |ORDER BY l_returnflag""".stripMargin)
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag,
             |         CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS cents
             |  FROM lineitem)
             |SELECT l_returnflag,
             |       CAST(SUM(cents) * 10000 // COUNT(*) AS BIGINT) AS mean_microcents,
             |       COUNT(*) AS n
             |FROM c GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // -----------------------------------------------------------------
    // File-provenance metadata columns: `_metadata.row_index` is the
    // row's physical position in its parquet file — the row-level
    // lineage a lakehouse audit needs. The fixture's physical order is
    // event_id order (verified at all SFs), so the oracle derives the
    // same index relationally; the gate proves the metadata column's
    // semantics against that known layout.
    // -----------------------------------------------------------------
    QueryDef("q_row_provenance",
      (s, d) => {
        s.read.parquet(s"$d/events.parquet")
          .select(col("event_id"), col("_metadata.row_index").as("row_idx"))
          .filter(col("row_idx") % 997 === 0)
          .orderBy(col("row_idx"))
      },
      Some("""WITH idx AS (
             |  SELECT event_id,
             |         ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS row_idx
             |  FROM events)
             |SELECT event_id, row_idx FROM idx
             |WHERE row_idx % 997 = 0
             |ORDER BY row_idx""".stripMargin))
  )
}
