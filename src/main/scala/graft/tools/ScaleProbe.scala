package graft.tools

import org.apache.spark.sql.SparkSession

/** Strong-scaling probe: run a set of heavy queries at several local
  * parallelism levels (fresh session per level, shuffle.partitions =
  * cores) and report min-of-2 times. The point is the CURVE — an
  * operator whose time halves with core count is shuffle/scan bound
  * and will scale out on executors; one that flatlines is dominated by
  * a serial stage and needs a plan fix before 100 TB.
  * Run: `sbt "runMain graft.tools.ScaleProbe [sfDir]"`.
  */
object ScaleProbe {
  /** Amplified workloads: sf0.1 queries finish in 0.2-2 s, where fixed
    * costs (planning, codegen lookup, task dispatch) swamp the data
    * work and every curve flatlines — measured before this version.
    * Each workload replicates its input 16x, respreads the SCAN to the core count
    * BEFORE exploding (the single-file fixture yields 1-2 scan
    * partitions; respreading after the explode leaves the 16x
    * generation itself serial — measured as a flat curve), and varies
    * the payload
    * per replica so row-level memo caches cannot collapse the work.
    */
  private def workloads(spark: SparkSession, d: String) = {
    import org.apache.spark.sql.functions._
    val rep = explode(expr("sequence(1, 16)")).as("rep")
    Seq(
      ("q1_agg_x16", () => {
        val p = spark.sparkContext.defaultParallelism
        graft.Tables.lineitem(spark, d).repartition(p).withColumn("rep", rep)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
            avg(col("l_extendedprice")).as("p"), count(lit(1)).as("n"))
      }),
      ("json_parse_x16", () => {
        val p = spark.sparkContext.defaultParallelism
        val vf = graft.functions.VariantFunctions
        graft.Tables.events(spark, d).repartition(p).withColumn("rep", rep)
          // vary the payload per replica: concat defeats the parse memo
          .select(vf.variant_get(vf.variant_from_json(
            expr("""concat('{"r": ', rep, ', "p": ', props, '}')""")),
            "$.p.k", "bigint").as("k"))
          .groupBy().sum("k")
      }),
      ("window_x16", () => {
        import org.apache.spark.sql.expressions.Window
        val p = spark.sparkContext.defaultParallelism
        val w = Window.partitionBy(col("user_id"), col("rep")).orderBy(col("ts"), col("event_id"))
        graft.Tables.events(spark, d).repartition(p).withColumn("rep", rep)
          .withColumn("rn", row_number().over(w))
          .withColumn("lag1", lag(col("value"), 1).over(w))
          .groupBy().agg(sum(col("rn")).as("s"), count(col("lag1")).as("c"))
      }),
      ("maxsim_x64", () => {
        // round-8 late-interaction kernel: broadcast query tokens, 64x
        // corpus token table × 40 query tokens (~13M cosine kernels per
        // run — at 16x/10 the kernel was dispatch-bound and the curve
        // meaningless), per-(qtok, doc) MAX then per-(qdoc, doc) SUM —
        // the cosine loop dominates, so the curve shows whether the
        // two-level aggregate keeps all cores busy.
        val p = spark.sparkContext.defaultParallelism
        val vfn = graft.functions.VariantFunctions
        val emb = graft.Tables.embeddings(spark, d).repartition(p)
          .withColumn("rep", explode(expr("sequence(1, 64)")))
          .select(expr("(vec_id * 64 + rep) DIV 5").as("doc"), col("embedding"))
        val probes = graft.Tables.embeddings(spark, d).filter(col("vec_id") < 40)
          .select(col("vec_id").as("qtok"), expr("vec_id DIV 5").as("qdoc"),
            col("embedding").as("qv"))
        emb.crossJoin(broadcast(probes))
          .withColumn("sim_ppm",
            floor(vfn.vec_cosine(col("embedding"), col("qv")) * lit(1e6) + lit(0.5)))
          .groupBy(col("qdoc"), col("qtok"), col("doc")).agg(max(col("sim_ppm")).as("b"))
          .groupBy(col("qdoc"), col("doc")).agg(sum(col("b")).as("s"))
          .groupBy().agg(sum(col("s")))
      }),
      ("ngram_strip_x16", () => {
        // round-8 soak (VERDICT r7 item 7): the repeated-8-gram strip
        // over a 16x-replicated corpus with doc_id remapped. Replication
        // makes EVERY gram corpus-repeated — the worst case for this
        // plan: the semi-join passes every position and the per-doc
        // coverage window sees full-length hit lists. hashKey=true is
        // the 100 TB formulation (8-byte shuffle keys).
        val p = spark.sparkContext.defaultParallelism
        val docs = graft.Tables.documents(spark, d).repartition(p)
          .withColumn("rep", explode(expr("sequence(1, 16)")))
          .select((col("doc_id") * 16 + col("rep")).as("doc_id"), col("text"))
        graft.operators.TextQueries.repeatedNgramStripOn(docs, hashKey = true)
          .groupBy().agg(sum(col("kept_tokens")).as("kept"),
            sum(col("covered_tokens")).as("covered"))
      }),
      ("sliding_distinct_x16", () => {
        // round-8 soak: q_sliding_distinct's production plan over 16x
        // events with per-replica user offsets (bitmaps grow 16x, the
        // (event_type, hour) bucket grain stays FIXED). This soak is
        // what exposed the original direct-bitmap formulation's inverse
        // scaling (partial bitmaps per map task × all groups) and
        // motivated the two-level build now in slidingDistinctOn.
        val p = spark.sparkContext.defaultParallelism
        val e = graft.Tables.events(spark, d).repartition(p)
          .withColumn("rep", explode(expr("sequence(1, 16)")))
          .withColumn("user_id", col("user_id") + col("rep") * 1000000L)
        graft.operators.QualityQueries.slidingDistinctOn(e)
          .groupBy().agg(sum(col("n_users")).as("s"), sum(col("n_events")).as("n"))
      }),
      ("join_agg_x16", () => {
        val p = spark.sparkContext.defaultParallelism
        val o = graft.Tables.orders(spark, d).repartition(p).withColumn("rep", rep)
        val l = graft.Tables.lineitem(spark, d).repartition(p).withColumn("rep", rep)
        l.join(o, l("l_orderkey") === o("o_orderkey") && l("rep") === o("rep"))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      }),
      ("wminhash_md5_x4", () => {
        // round-8 soak: the weighted-MinHash twin over a 4x-replicated
        // corpus with doc_id remapped — the DUP-CLUSTER case: all 4
        // replicas of a doc are exact duplicates, so every LSH bucket
        // carries 4-member cliques and the verified pair set grows
        // ~rep² (the honest dedup answer on a dup-heavy corpus; 16x
        // was measured quadratically past probe budget — the pair-set
        // growth is the algorithm's answer size, not a plan defect).
        // The probe checks the bucket join and the candidate-only
        // verification still scale with cores under clique load.
        val p = spark.sparkContext.defaultParallelism
        val docs = graft.Tables.documents(spark, d).repartition(p)
          .withColumn("rep", explode(expr("sequence(1, 4)")))
          .select((col("doc_id") * 4 + col("rep")).as("doc_id"), col("text"))
        graft.operators.DedupQueries.wminhashMd5On(docs)
          .groupBy().agg(count(lit(1)).as("pairs"), sum(col("wj_ppm")).as("s"))
      }))
  }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val only = args.drop(1).toSet // optional workload-name filter
    val results = scala.collection.mutable.Map[(String, Int), Double]()
    var names = Seq.empty[String]
    Seq(4, 8, 16, 32).foreach { cores =>
      val spark = graft.Tables.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val ws = workloads(spark, d)
        .filter { case (n, _) => only.isEmpty || only(n) }
      names = ws.map(_._1)
      ws.foreach { case (_, f) =>   // warm: codegen + listing
        f().write.mode("overwrite").format("noop").save()
      }
      ws.foreach { case (n, f) =>
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          f().write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }.min
        results((n, cores)) = t
      }
      spark.stop()
    }
    println(f"${"workload"}%-18s ${"c4"}%7s ${"c8"}%7s ${"c16"}%7s ${"c32"}%7s  speedup(4->32)")
    names.foreach { n =>
      val ts = Seq(4, 8, 16, 32).map(c => results((n, c)))
      println(f"$n%-18s ${ts(0)}%7.2f ${ts(1)}%7.2f ${ts(2)}%7.2f ${ts(3)}%7.2f  ${ts(0) / ts(3)}%5.1fx")
    }
  }
}
