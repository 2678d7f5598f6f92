package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression checks: the optimizations we rely on at
  * scale must actually appear in the plan, not just in intent
  * (builder-prompt rule: ".explain and iterate until it's the plan you'd
  * want").
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def physical(name: String): String = {
    val df = Queries.queryMap(name)(spark, TestSpark.SF)
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter reaches the parquet scan; aggregation is partial before the shuffle") {
    val p = physical("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("scan prunes columns through variant expressions") {
    val df = Queries.queryMap("v_sum_by_type")(spark, TestSpark.SF)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(s => s.contains("ReadSchema: struct<event_type:string,props:string>")),
      scans.mkString("\n"))
  }

  test("q5: dimension tables join via broadcast, not shuffle") {
    val p = physical("q5_region_revenue")
    // customer, nation, region: three broadcast joins; only the
    // lineitem⋈orders fact join may be a shuffle join
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    val smjs = "SortMergeJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$p")
    assert(smjs <= 1, s"dimension join fell back to sort-merge:\n$p")
  }

  test("parse+get fusion rule fires for scalar, string, keys/size/explode") {
    val fusedPlan = Queries.queryMap("v_filter_high")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(fusedPlan.contains("json_path_extract"), fusedPlan)
    assert(!fusedPlan.contains("variant_from_json"), fusedPlan)
    val fusedStr = Queries.queryMap("v_get_string")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(fusedStr.contains("json_path_extract"), fusedStr)
    assert(!fusedStr.contains("variant_from_json"), fusedStr)
    val fusedKeys = Queries.queryMap("v_keys_size")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(fusedKeys.contains("json_keys_fused") && fusedKeys.contains("json_size_fused"), fusedKeys)
    // explode has no fused form: it reads the one parse
    val explPlan = Queries.queryMap("v_explode_kv")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(explPlan.contains("variant_explode"), explPlan)
    assert(!explPlan.contains("json_explode_fused"), explPlan)
    // strip over a parse fuses: tree build + key drop + ONE encode
    val fusedStrip = Queries.queryMap("v_strip_keys")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(fusedStrip.contains("variant_strip_keys_fused"), fusedStrip)
    assert(!fusedStrip.contains("variant_from_json"), fusedStrip)
    // diff over two parses fuses like merge-patch
    val fusedDiff = Queries.queryMap("v_diff")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(fusedDiff.contains("variant_diff_fused"), fusedDiff)
    assert(!fusedDiff.contains("variant_from_json"), fusedDiff)
    // merge patch over two parses fuses to one tree walk per document
    val fusedMerge = Queries.queryMap("v_merge_patch")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(fusedMerge.contains("variant_merge_patch_fused"), fusedMerge)
    assert(!fusedMerge.contains("variant_from_json"), fusedMerge)
    // variant-target extraction keeps the full pipeline (the result IS
    // the encoded variant)
    val unfused = Tables.events(spark, TestSpark.SF)
      .select(graft.functions.VariantFunctions.variant_get(
        graft.functions.VariantFunctions.variant_from_json(col("props")), "$.k"))
      .queryExecution.optimizedPlan.toString
    assert(unfused.contains("variant_from_json"), unfused)
    // wildcard multi-extraction has no fused form: the lane's two
    // wildcard gets share one parse
    val allPlan = Queries.queryMap("v_get_wildcard")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert("variant_from_json".r.findAllIn(allPlan).length == 1, allPlan)
    assert(!allPlan.contains("json_get_all_fused"), allPlan)
    // variant-typed elements keep the full pipeline too
    val unfusedAll = Tables.events(spark, TestSpark.SF)
      .select(graft.functions.VariantFunctions.variant_get_all(
        graft.functions.VariantFunctions.variant_from_json(col("props")), "$.k[*]"))
      .queryExecution.optimizedPlan.toString
    assert(unfusedAll.contains("variant_from_json"), unfusedAll)
  }

  test("schema_of_variant_agg over variant_from_json fuses to the token-walk aggregate") {
    val fusedAgg = Queries.queryMap("v_schema_agg")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(fusedAgg.contains("schema_of_json_agg"), fusedAgg)
    assert(!fusedAgg.contains("variant_from_json"), fusedAgg)
    // v_schema_of groups ON schema_of_variant(v): the Aggregate path
    // rewrites grouping expressions and their result-side occurrences in
    // lockstep, so the scalar fused form appears and the plan resolves
    val fusedGrouping = Queries.queryMap("v_schema_of")(spark, TestSpark.SF)
    val gPlan = fusedGrouping.queryExecution.optimizedPlan.toString
    assert(gPlan.contains("json_schema_of_fused"), gPlan)
    assert(!gPlan.contains("variant_from_json"), gPlan)
    assert(fusedGrouping.collect().nonEmpty)
  }

  test("consumers of a shared parse alias fuse inside aggregate functions") {
    import graft.functions.{VariantFunctions => vf}
    // v feeds two consumers, so CollapseProject keeps the parse in its
    // own Project and the Aggregate-through-Project fusion must fire
    val df = Tables.events(spark, TestSpark.SF)
      .select(col("event_type"), vf.variant_from_json(col("props")).as("v"))
      .groupBy(col("event_type"))
      .agg(max(vf.variant_typeof(col("v"))).as("t"),
        max(vf.variant_size(col("v"))).as("w"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("json_typeof_fused") && plan.contains("json_size_fused"), plan)
    assert(!plan.contains("variant_from_json"), plan)
    assert(df.collect().nonEmpty)
  }

  test("typeof at a path and IS NULL over a parse fuse: no parse left in the plan") {
    import graft.functions.{VariantFunctions => vf}
    val events = Tables.events(spark, TestSpark.SF)
    val parse = vf.try_variant_from_json(col("props"))
    // the raw-query benchmark's typeof_mix and malformed_count shapes
    val typeofMix = events.groupBy(vf.variant_typeof(vf.variant_get(parse, "$.k")).as("t")).count()
    val malformed = events.filter(parse.isNull).agg(count(lit(1)))
    Seq(typeofMix, malformed).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("json_typeof_fused"), plan)
      assert(!plan.contains("variant_from_json"), plan)
      assert(df.collect().nonEmpty)
    }
    // all eight raw_query op shapes hold a fused form by the predicate
    // varbench's Plans.fused counts (a graft.functions.Json* class), so
    // a rename fails here instead of zeroing functions.fused_plan_ratio
    import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType, StringType}
    def vg(path: String, t: DataType) = vf.variant_get(parse, path, t)
    val rawQueryShapes = Seq(
      "group_sum" -> events.groupBy(vg("$.grp", StringType).as("g"))
        .agg(count(lit(1)), sum(vg("$.amt", DoubleType))),
      "nested_filter" -> events.filter(vg("$.n.x", LongType) > 5).agg(count(lit(1))),
      "vocab_key" -> events.agg(count(vg("$.k", LongType)), sum(vg("$.k", LongType))),
      "typeof_mix" -> typeofMix,
      "big_integers" -> events.agg(count(vg("$.big", DecimalType(38, 0))),
        sum(vg("$.big", DecimalType(38, 0)))),
      "escaped_strings" -> events.select(col("event_id"), vg("$.s", StringType).as("s"))
        .filter(col("s").isNotNull),
      "malformed_count" -> malformed,
      "string_filter" -> events.filter(vg("$.grp", StringType) === "g1" && vg("$.amt", DoubleType) > 1.0)
        .agg(count(lit(1))))
    rawQueryShapes.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      def holds(p: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
        plan.exists(_.expressions.exists(_.exists(p)))
      // (an auto-generated column name may still spell the parse)
      assert(!holds(_.isInstanceOf[graft.functions.VariantFromJson]), s"$name\n$plan")
      assert(holds(_.getClass.getName.startsWith("graft.functions.Json")), s"$name\n$plan")
    }
    // v_sql_surface: variant_typeof(variant_get(variant_from_json(props), '$.k'))
    val surface = Queries.queryMap("v_sql_surface")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(surface.contains("json_typeof_fused"), surface)
  }

  test("is_variant_null over a parse fuses to the root typeof: v_missing_is_null parses nothing") {
    val plan = Queries.queryMap("v_missing_is_null")(spark, TestSpark.SF)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("json_typeof_fused"), plan)
    assert(!plan.contains("variant_from_json"), plan)
  }

  test("r14 rewrites stay planned: KMV sketch on ObjectHashAggregate, compiled kernels without lambdas") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Project}
    // the bottom-k sketch aggregate replaced distinct + row_number() <= k
    val kmv = Queries.queryMap("q_kmv_overlap")(spark, TestSpark.SF).queryExecution.sparkPlan
    val nodes = kmv.collect { case n => n.nodeName }
    assert(nodes.contains("ObjectHashAggregate"), kmv)
    assert(!nodes.exists(n => n == "Window" || n == "WindowGroupLimit"), kmv)
    def has(e: Expression, p: Expression => Boolean) = e.find(p).isDefined
    val isLambda = (e: Expression) => e.isInstanceOf[LambdaFunction]
    // d_fuzzy_join: the deletion neighborhood expands through the
    // compiled kernel; no lambda anywhere in the plan
    val fuzzy = Queries.queryMap("d_fuzzy_join")(spark, TestSpark.SF).queryExecution.optimizedPlan
    assert(fuzzy.collect { case g: Generate => g }
      .exists(g => has(g.generator, _.isInstanceOf[graft.functions.Del1Neighbors])), fuzzy)
    assert(fuzzy.find(_.expressions.exists(has(_, isLambda))).isEmpty, fuzzy)
    // e_gram_matrix, e_rand_proj: the per-row quantization projection is
    // the compiled kernel, not a transform lambda
    Seq("e_gram_matrix", "e_rand_proj").foreach { name =>
      val plan = Queries.queryMap(name)(spark, TestSpark.SF).queryExecution.optimizedPlan
      val quantize = plan.collect {
        case p: Project if p.projectList.exists(has(_, _.isInstanceOf[graft.functions.VecQuantizePpm])) => p
      }
      assert(quantize.nonEmpty, s"$name\n$plan")
      assert(!quantize.exists(_.projectList.exists(has(_, isLambda))), s"$name\n$plan")
    }
  }

  test("auto-shred inference reads a bounded, column-pruned sample") {
    val ev = Tables.events(spark, TestSpark.SF)
      .withColumn("v", graft.functions.VariantFunctions.variant_from_json(col("props")))
    val inf = graft.operators.Shred.inferenceFrame(ev, "v", sampleRows = 10000)
    val opt = inf.queryExecution.optimizedPlan.toString
    assert(opt.contains("GlobalLimit 10000") || opt.contains("LocalLimit 10000"), opt)
    val scans = inf.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(_.contains("ReadSchema: struct<props:string>")),
      scans.mkString("\n"))
  }

  test("shredded pushdown: variant_get becomes the typed column with PushedFilters") {
    val p = physical("v_shred_pushdown")
    assert(p.contains("GreaterThan(v_k,90"), p)
    assert(!p.contains("variant_get") && !p.contains("json_path_extract"), p)
    // and the scan does not read the variant blob at all
    val scans = Queries.queryMap("v_shred_pushdown")(spark, TestSpark.SF)
      .queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(s => s.contains("ReadSchema: struct<event_id:bigint,v_k:bigint>")),
      scans.mkString("\n"))
  }

  test("NATIVE shredded-parquet read prunes to the typed_value subcolumn " +
      "with PushedFilters (v_shredded_interop direction A)") {
    // Spark 4.1 writes VariantType parquet SHREDDED by default; with
    // NativeVariantDispatch routing the shared variant_get name to
    // Spark's builtin, PushVariantIntoScan must rewrite the scan to a
    // struct of the requested typed field — never the variant blob —
    // and push the filter to parquet on that subcolumn.
    val scans = Queries.queryMap("v_shredded_interop")(spark, TestSpark.SF)
      .queryExecution.executedPlan.collectLeaves().map(_.toString)
    val shredScan = scans.find(_.contains("sv:struct<0:bigint>"))
    assert(shredScan.isDefined,
      s"direction-A scan did not prune to the typed subcolumn:\n${scans.mkString("\n")}")
    assert(shredScan.get.contains("GreaterThan(sv.`0`,90)"),
      s"filter not pushed onto the shredded subcolumn:\n${shredScan.get}")
    // direction B reads the full variant for our codec: its scan keeps
    // the variant type (struct<0:variant> under the same rewrite)
    assert(scans.exists(_.contains("sv:struct<0:variant>")), scans.mkString("\n"))
  }

  test("shredded pushdown does NOT fire on a type mismatch (decode semantics preserved)") {
    import graft.functions.{VariantFunctions => vf}
    import org.apache.spark.sql.types.StringType
    val staged = graft.operators.Shred.stageShreddedTable(spark, TestSpark.SF)
    // v_k is long; a string-target get must keep the real variant decode
    val p = spark.read.parquet(staged)
      .select(vf.variant_get(col("v"), "$.k", StringType).as("ks"))
      .queryExecution.optimizedPlan.toString
    // the decode expression survives; the shredded column is not
    // substituted into the projection
    assert(p.contains("variant_get(v#"), p)
    // STRICT gets keep the decode too: the shredded column was
    // materialized leniently, so substituting it would drop cast errors
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.LongType
    val strict = spark.read.parquet(staged)
      .select(Bridge.column(graft.functions.VariantRead(
        Bridge.expression(col("v")), "$.k", graft.functions.JsonConsumer.Cast(LongType, castFailOnError = true))).as("k"))
      .queryExecution.optimizedPlan.toString
    assert(strict.contains("variant_get(v#"), strict)
  }

  test("strict-get pushdown fires on an EXACT (full-scan-inferred) shred with PushedFilters") {
    import graft.functions.{VariantFunctions => vf}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.LongType
    val staged = graft.operators.Shred.stageShreddedTable(spark, TestSpark.SF, exact = true)
    val df = spark.read.parquet(staged)
      .filter(Bridge.column(graft.functions.VariantRead(
        Bridge.expression(col("v")), "$.k", graft.functions.JsonConsumer.Cast(LongType, castFailOnError = true))) > 90)
      .select(col("event_id"),
        Bridge.column(graft.functions.VariantRead(
          Bridge.expression(col("v")), "$.k", graft.functions.JsonConsumer.Cast(LongType, castFailOnError = true))).as("k"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("variant_get"), opt)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("GreaterThan(v_k,90"), phys)
    // and strict results equal the decode path's on the same data
    val decoded = spark.read.parquet(
      graft.operators.Shred.stageShreddedTable(spark, TestSpark.SF))
      .filter(vf.variant_get(col("v"), "$.k", LongType) > 90)
      .select(col("event_id"), vf.variant_get(col("v"), "$.k", LongType).as("k"))
    assert(df.orderBy(col("event_id")).collect().toSeq ==
      decoded.orderBy(col("event_id")).collect().toSeq)
  }

  test("decontamination and length cut broadcast their small side (no corpus shuffle for the join)") {
    val p = physical("d_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val lf = physical("d_length_filter")
    assert(lf.contains("BroadcastHashJoin"), lf)
    assert(!lf.contains("SortMergeJoin"), lf)
  }

  test("q_part_prune: the partition predicate prunes directories, not rows") {
    val p = physical("q_part_prune")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    assert(p.contains("event_type#") && p.contains("= purchase"), p)
    // pruned scan must NOT carry the predicate as a data filter — the
    // directory layout already answered it
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"), p)
  }

  test("q_topk plans TakeOrderedAndProject (no global sort of the full table)") {
    val p = physical("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ANN brute force broadcasts probes and never shuffles the corpus") {
    val p = physical("e_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("bucketed tables co-locate the join: no exchange in the plan") {
    val wh = java.nio.file.Files.createTempDirectory("graft_warehouse_").toString
    val s = spark
    import s.implicits._
    val li = Tables.lineitem(spark, TestSpark.SF)
      .select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, TestSpark.SF)
      .select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o_b").mode("overwrite").saveAsTable("o_b")
    // force the shuffle-join path so bucketing is what saves the
    // exchange (at real scale the fact table is far past any broadcast
    // threshold anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")))
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing on the join key: no hash-partition shuffle anywhere —
      // the join AND the aggregation reuse the bucket partitioning
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z-order: interleave is exact and range layout bounds both dimensions per partition") {
    val s = spark
    import s.implicits._
    // exactness: decoding the even/odd bits of zval8 recovers (a, b)
    val grid = (for (a <- 0 until 256 by 17; b <- 0 until 256 by 13) yield (a, b)).toDF("a", "b")
    val z = grid.withColumn("z", Zorder.zval8(col("a"), col("b"))).collect()
    z.foreach { r =>
      val (a, b, zv) = (r.getInt(0), r.getInt(1), r.getInt(2))
      var (da, db, i) = (0, 0, 0)
      while (i < 8) {
        da |= (((zv >> (2 * i)) & 1) << i); db |= (((zv >> (2 * i + 1)) & 1) << i); i += 1
      }
      assert(da == a && db == b, s"zval8($a,$b)=$zv decoded to ($da,$db)")
    }
    // layout: repartitionByRange on zval → each partition covers a
    // bounded tile in BOTH dimensions (the min/max stats a scan prunes
    // on), unlike a single-column sort where the second dim spans full
    // range in every file
    val orders = Tables.orders(spark, TestSpark.SF)
      .withColumn("za", col("o_custkey") % 256)
      .withColumn("zb", col("o_orderkey") % 256)
      .withColumn("zval", Zorder.zval8(col("za"), col("zb")))
    def avgSpans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rows = df
        .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"),
          col("za"), col("zb"))
        .groupBy(col("pid"))
        .agg((max(col("za")) - min(col("za"))).as("sa"),
          (max(col("zb")) - min(col("zb"))).as("sb"))
        .collect()
      (rows.map(_.getAs[Long]("sa")).sum.toDouble / rows.length,
        rows.map(_.getAs[Long]("sb")).sum.toDouble / rows.length)
    }
    // z-layout: most partitions are ~64x64 tiles (a few straddle major
    // bit boundaries and span wide — that's inherent to z-order), so
    // BOTH average spans sit far below the full 255
    val (zA, zB) = avgSpans(orders.repartitionByRange(16, col("zval")))
    assert(zA <= 128 && zB <= 128, s"z-order avg spans ($zA, $zB)")
    // single-dimension sort: the unsorted dimension spans ~full range in
    // EVERY partition — that's the layout z-order beats for 2-dim pruning
    val (_, sB) = avgSpans(orders.repartitionByRange(16, col("za")))
    assert(sB >= 200, s"expected near-full zb span under za-only sort, got $sB")
    assert(zB < sB / 2, s"z-order zb span $zB not clearly tighter than $sB")
  }

  test("z-order layout skips data on a two-dimension filter; a shuffled layout cannot") {
    // The point of the layout: after writing range-partitioned by zval,
    // parquet footer min/max stats on BOTH coordinates are tight per
    // file, so a 2-dim box filter prunes whole files/row groups before
    // any row is read. The same data written shuffled has full-range
    // stats everywhere and the scan must surface every row group.
    val orders = Tables.orders(spark, TestSpark.SF)
      .withColumn("za", col("o_custkey") % 256)
      .withColumn("zb", col("o_orderkey") % 256)
      .withColumn("zval", Zorder.zval8(col("za"), col("zb")))
    val base = java.nio.file.Files.createTempDirectory("graft_zskip_").toString
    orders.repartitionByRange(16, col("zval")).sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(s"$base/zorder")
    orders.repartition(16)
      .write.mode("overwrite").parquet(s"$base/shuffled")
    def rowsSurfacedByScan(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("za").between(10, 20) && col("zb").between(30, 40))
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val zRows = rowsSurfacedByScan(s"$base/zorder")
    val sRows = rowsSurfacedByScan(s"$base/shuffled")
    assert(zRows < sRows / 2,
      s"z-order scan surfaced $zRows rows vs $sRows from the shuffled layout")
  }

  test("table statistics drive the optimizer: ANALYZE feeds rowCount and CBO broadcasts on stats") {
    // At 100 TB, join strategy must come from catalog STATISTICS, not
    // hardcoded hints: a filtered dimension whose post-filter size the
    // optimizer can estimate should broadcast without any hint. Pin the
    // machinery end to end: saveAsTable → ANALYZE (table + columns) →
    // rowCount/attribute stats visible in the optimized plan → the
    // stats-estimated small side plans as BroadcastHashJoin under CBO.
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS stats_fact")
    s.sql("DROP TABLE IF EXISTS stats_dim")
    // a previously interrupted run can leave the managed location behind
    // after the catalog entry is gone — clear it or CREATE refuses
    Seq("stats_fact", "stats_dim").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    (1L to 50000L).map(i => (i % 1000, i)).toDF("k", "v")
      .write.mode("overwrite").saveAsTable("stats_fact")
    (0L until 1000L).map(k => (k, s"g${k % 7}")).toDF("k", "grp")
      .write.mode("overwrite").saveAsTable("stats_dim")
    s.sql("ANALYZE TABLE stats_fact COMPUTE STATISTICS")
    s.sql("ANALYZE TABLE stats_dim COMPUTE STATISTICS FOR ALL COLUMNS")

    val prevCbo = s.conf.get("spark.sql.cbo.enabled")
    s.conf.set("spark.sql.cbo.enabled", "true")
    try {
      // rowCount propagates into plan stats only under CBO — size-only
      // estimation ignores the ANALYZE row count
      val factStats = s.table("stats_fact").queryExecution.optimizedPlan.stats
      assert(factStats.rowCount.contains(BigInt(50000)),
        s"ANALYZE row count not in plan stats: $factStats")
      val joined = s.table("stats_fact")
        .join(s.table("stats_dim").filter($"grp" === "g3"), "k")
        .groupBy($"grp").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"stats-known small dimension did not broadcast:\n$plan")
    } finally {
      s.conf.set("spark.sql.cbo.enabled", prevCbo)
      s.sql("DROP TABLE IF EXISTS stats_fact")
      s.sql("DROP TABLE IF EXISTS stats_dim")
    }
  }

  test("CBO join reorder: the selective dimension joins FIRST regardless of declared order") {
    // The other half of the statistics story: with column stats and
    // cbo.joinReorder on, a multi-join declared in a bad order (big
    // dimension first) must be REORDERED so the selective dimension
    // prunes the fact table before the expensive join — at 100 TB the
    // difference between shuffling the full fact intermediate and 20%
    // of it. Declared: (fact ⋈ dimA) ⋈ dimB with |dimA| = 10k and dimB
    // covering only 2 of the fact's 10 k2 values; expected: the
    // optimizer joins dimB against the fact below dimA.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("ro_fact", "ro_dim_a", "ro_dim_b").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    (1L to 100000L).map(i => (i % 10000, i % 10, i)).toDF("k1", "k2", "v")
      .write.mode("overwrite").saveAsTable("ro_fact")
    (0L until 10000L).map(k => (k, s"a$k")).toDF("k1", "a")
      .write.mode("overwrite").saveAsTable("ro_dim_a")
    (0L until 2L).map(k => (k, s"b$k")).toDF("k2", "b")
      .write.mode("overwrite").saveAsTable("ro_dim_b")
    Seq("ro_fact", "ro_dim_a", "ro_dim_b").foreach(t =>
      s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))

    val prev = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> s.conf.get(k))
    def innermostJoins(): Seq[Join] = {
      val q = s.table("ro_fact")
        .join(s.table("ro_dim_a"), "k1")
        .join(s.table("ro_dim_b"), "k2")
        .groupBy($"b").agg(sum($"v").as("sv"))
      q.queryExecution.optimizedPlan.collect { case j: Join => j }
        .filter(j => j.collect { case c: Join => c }.size == 1)
    }
    try {
      // control: without reorder the optimizer keeps the declared order
      // — dimA joins innermost. If this ever starts reordering too, the
      // positive assertion below is vacuous and must be rebuilt.
      prev.foreach { case (k, _) => s.conf.set(k, "false") }
      val before = innermostJoins()
      assert(before.nonEmpty && !before.exists(_.toString.contains("ro_dim_b")),
        s"declared order already joins dim_b innermost — control invalid:\n${before.mkString}")

      prev.foreach { case (k, _) => s.conf.set(k, "true") }
      val q = s.table("ro_fact")
        .join(s.table("ro_dim_a"), "k1")
        .join(s.table("ro_dim_b"), "k2")
        .groupBy($"b").agg(sum($"v").as("sv"))
      val opt = q.queryExecution.optimizedPlan
      // the INNERMOST join (no Join children) must touch dim_b, proving
      // the declared big-dimension-first order was rewritten
      val innermost = opt.collect { case j: Join => j }
        .filter(j => j.collect { case c: Join => c }.size == 1)
      assert(innermost.nonEmpty, s"no leaf join found:\n$opt")
      assert(innermost.exists(_.toString.contains("ro_dim_b")),
        s"selective dimension not reordered innermost:\n$opt")
      // and the result is unaffected by the reorder
      val rows = q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(rows.keySet === Set("b0", "b1"))
    } finally {
      prev.foreach { case (k, v) => s.conf.set(k, v) }
      Seq("ro_fact", "ro_dim_a", "ro_dim_b").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("salted join equals plain join under skew") {
    val s = spark
    import s.implicits._
    // heavy skew: 90% of rows share one key
    val big = (1 to 10000).map(i => (if (i % 10 == 0) i.toLong else 7L, i.toLong))
      .toDF("k", "v")
    val small = (1L to 10000L).map(k => (k, s"name_$k")).toDF("k", "name")
    val plain = big.join(small, "k").agg(count(lit(1)), sum($"v")).collect()(0)
    val salted = graft.operators.Skew.saltedJoin(big, small, "k", factor = 8)
      .agg(count(lit(1)), sum($"v")).collect()(0)
    assert(plain == salted)
  }

  test("join strategy hints: SHUFFLE_HASH avoids the sort, MERGE forces it") {
    // At scale the difference is real: sort-merge pays two sorts to get
    // spill-safety; shuffled-hash skips them when one side fits a
    // per-partition hash map. Pin that BOTH strategies are reachable by
    // hint when sizes alone would pick otherwise.
    val s = spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // no BHJ escape
    try {
      val a = s.range(0, 50000).select(($"id" % 1000).as("k"), $"id".as("v"))
      val b = s.range(0, 1000).select($"id".as("k"), ($"id" * 3).as("w"))
      val shj = a.join(b.hint("SHUFFLE_HASH"), "k")
        .queryExecution.executedPlan.toString
      assert(shj.contains("ShuffledHashJoin"), shj)
      val smj = a.join(b.hint("MERGE"), "k")
        .queryExecution.executedPlan.toString
      assert(smj.contains("SortMergeJoin"), smj)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cached relation serves downstream queries from InMemoryRelation with column pruning") {
    val s = spark
    import s.implicits._
    val base = graft.Tables.lineitem(s, graft.TestSpark.SF)
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_returnflag")
    base.createOrReplaceTempView("cache_probe")
    s.catalog.cacheTable("cache_probe")
    try {
      base.count() // materialize the cache
      val q = s.table("cache_probe").filter($"l_returnflag" === "R")
        .groupBy($"l_orderkey").agg(sum($"l_quantity"))
      val plan = q.queryExecution.executedPlan.toString
      // Spark 4 prints the cache read as "Scan In-memory table"; the
      // scan node also carries the PUSHED filter — the cache behaves
      // like a columnar source, not a materialized blob
      assert(plan.contains("Scan In-memory table"),
        s"query did not read from the cache:\n$plan")
      val scanLine = plan.linesIterator
        .find(_.contains("Scan In-memory table")).getOrElse("")
      // prunes to the referenced columns, not all four cached ones
      assert(!scanLine.contains("l_extendedprice"),
        s"cached scan did not prune columns: $scanLine")
      assert(scanLine.contains("= R)"), // attr ids vary: (l_returnflag#N = R)
        s"filter not pushed into the cached scan: $scanLine")
    } finally s.catalog.uncacheTable("cache_probe")
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true in the final plan)") {
    // The OTHER half of the skew story: q_salted_join is the manual
    // mitigation; at 100 TB the first line of defense is AQE's runtime
    // skew-join split, which needs no code change at all. Prove the
    // machinery fires: a sort-merge join whose one hot key dwarfs the
    // threshold must re-plan with the skewed partition split
    // (isSkewJoin, printed as skew=true). Thresholds are scoped down so
    // the toy fixture trips them, and restored.
    val s = spark
    import s.implicits._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> scala.util.Try(s.conf.get(k)).toOption)
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // ~50% of rows share key 0, padded so the hot partition clears the
      // byte threshold; the right side is uniform
      val big = s.range(0, 60000)
        .select(when($"id" % 2 === 0, 0L).otherwise($"id" % 997).as("k"),
          concat(lit("x" * 96), $"id".cast("string")).as("pad"))
      val right = s.range(0, 997).select($"id".as("k"), ($"id" * 2).as("v"))
      // aggregate GLOBALLY, not on the join key: a groupBy(k) downstream
      // would reuse the join's hash distribution, and AQE (correctly)
      // refuses to split a skewed partition whose output partitioning a
      // parent still requires — the refusal is part of what this pins
      val j = big.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length($"pad")).as("s"))
      j.collect() // execute: AQE finalizes and (re)plans the skew split
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("parquet aggregate pushdown answers count/min/max from row-group stats") {
    // mirror q_agg_pushdown's scoped confs and pin the plan shape
    val keys = Seq("spark.sql.parquet.aggregatePushDown",
      "spark.sql.sources.useV1SourceList")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "true")
    spark.conf.set(keys(1), "avro,csv,json,kafka,orc,text")
    try {
      val plan = spark.read.parquet(s"${TestSpark.SF}/lineitem.parquet")
        .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_shipdate")))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"), plan.take(2000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_dpp: the fact scan carries a dynamic partition pruning subquery") {
    val p = physical("q_dpp")
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"), p.take(3000))
  }

  test("q_not_in plans the poisoned subquery as a NULL-AWARE anti join") {
    // NOT IN over a nullable build side cannot be a plain LeftAnti —
    // Spark's broadcast hash join carries the NAAJ flag (or falls to
    // BNLJ for the general case); the CLEAN subquery needs no NAAJ.
    // the flag prints positionally: "LeftAnti, BuildRight, true"
    val p = physical("q_not_in")
    assert(p.contains("LeftAnti, BuildRight, true") ||
      p.contains("isNullAwareAntiJoin=true") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("bitmap sketch aggregates stay on the ObjectHashAggregate path (no sort fallback)") {
    // TypedImperativeAggregates plan as ObjectHashAggregate; with the
    // raised fallback threshold (Tables.configure) a day-grained rollup
    // must NOT insert a sort below the partial aggregate.
    val df = Queries.queryMap("q_bitmap_rollup")(spark, TestSpark.SF)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(!p.contains("SortAggregate"), p.take(3000))
  }

  test("e_filtered_ann: the label filter join broadcasts probes (corpus never shuffles)") {
    val df = Queries.queryMap("e_filtered_ann")(spark, TestSpark.SF)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }
}
