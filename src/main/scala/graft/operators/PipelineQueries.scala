package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.{documents, embeddings, events, lineitem}
import graft.functions.{VariantFunctions => vf}

/** Round-8 additions: contrastive-training data mining (hard
  * negatives), late-interaction retrieval (MaxSim), embedding drift
  * monitoring, privacy auditing (k-anonymity / l-diversity), and the
  * bitmap sketch algebra's AND path (audience overlap).
  *
  * House determinism rules apply: similarity doubles are collapsed to
  * integer ppm via `floor(x*1e6 + 0.5)` (identical IEEE ops both
  * engines) BEFORE any order-sensitive aggregation, every ratio is
  * integer DIV on non-negative operands (truncation == floor), every
  * query ends in ORDER BY over a unique key prefix, and DuckDB SUM's
  * HUGEINT widening is cast back to BIGINT.
  */
object PipelineQueries {

  /** DuckDB cosine over two float-list columns — same left-to-right
    * double accumulation as the `vec_cosine` kernel (see
    * SimilarityQueries: the pair is bit-identical by construction). */
  private def cosSql(e: String, q: String): String =
    s"""list_sum(list_transform(list_zip($e, $q),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform($q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** Integer-ppm rounding of a double column (house rule: collapse
    * doubles to exact integers before any order-sensitive SUM). */
  private def ppm(c: Column): Column = floor(c * lit(1e6) + lit(0.5))

  /** Greedy MMR selection as an unrolled CTE chain over views
    * `mmr_cand(qid, cid, qs)` and `mmr_pair(qid, a, b, ps)` — ONE
    * generator runs on BOTH engines (the q_hilbert discipline; the
    * chain is common SQL: LEFT-JOIN anti, MAX penalty, ROW_NUMBER
    * argmax, UNION ALL accumulate). λ = 0.7 in exact integers:
    * mmr = 7·qs − 3·max_{s∈selected} ps(c, s), ties by cid. */
  private[operators] def mmrGreedySql(k: Int): String = {
    val first =
      """sel1 AS (
        |  SELECT qid, cid, CAST(1 AS BIGINT) AS rank, 7 * qs AS mmr_x
        |  FROM (SELECT qid, cid, qs,
        |               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qs DESC, cid) AS rn
        |        FROM mmr_cand) f WHERE rn = 1)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""rem$i AS (
         |  SELECT c.qid, c.cid, c.qs FROM mmr_cand c
         |  LEFT JOIN sel${i - 1} s ON s.qid = c.qid AND s.cid = c.cid
         |  WHERE s.cid IS NULL),
         |pen$i AS (
         |  SELECT r.qid, r.cid, r.qs, MAX(p.ps) AS pen
         |  FROM rem$i r
         |  JOIN sel${i - 1} s ON s.qid = r.qid
         |  JOIN mmr_pair p ON p.qid = r.qid AND p.a = r.cid AND p.b = s.cid
         |  GROUP BY r.qid, r.cid, r.qs),
         |pick$i AS (
         |  SELECT qid, cid, 7 * qs - 3 * pen AS mmr_x,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY 7 * qs - 3 * pen DESC, cid) AS rn
         |  FROM pen$i),
         |sel$i AS (
         |  SELECT qid, cid, rank, mmr_x FROM sel${i - 1}
         |  UNION ALL
         |  SELECT qid, cid, CAST($i AS BIGINT) AS rank, mmr_x FROM pick$i WHERE rn = 1)""".stripMargin
    }
    (first +: steps).mkString(",\n")
  }

  /** Pretrained BPE merge table (rank order), the tokenizer ARTIFACT a
    * pipeline ships with — applying a FIXED table to new data is the
    * production shape (the data-derived mining step is d_bpe_merge).
    * Later merges build on earlier outputs (th+e, an+d, in+g). */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("in", "g"), ("s", "t"), ("o", "u"), ("e", "s"))

  /** Per-word BPE token count as a generated replace chain — ONE
    * generator, both dialects. Semantics (identical on both engines by
    * construction): the word's characters are sentinel-joined
    * (`¤t¤h¤e¤`), then each merge in rank order does ONE left-to-right
    * non-overlapping `replace('¤a¤b¤' → '¤ab¤')` pass; the sentinel
    * guarantees merges only ever join complete adjacent TOKENS (a bare
    * "a b" substring search would match inside longer tokens). Two
    * occurrences of the SAME pair sharing a token boundary overlap in
    * the sentinel string, so only the first merges per pass ("thethe"
    * → the|th|e, pinned in spec) — a deliberate single-pass semantics
    * both engines execute identically via replace(). The
    * fixture text is pure ASCII, so the non-ASCII sentinel cannot
    * collide. Token count = split on sentinel minus the 2 end slots.
    */
  private def bpeCountExpr(spark: Boolean): String = {
    val base =
      if (spark) "concat('¤', array_join(split(w, ''), '¤'), '¤')"
      else "'¤' || array_to_string(string_split(w, ''), '¤') || '¤'"
    val chain = bpeMerges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, '¤$a¤$b¤', '¤$a$b¤')"
    }
    if (spark) s"CAST(size(split($chain, '¤')) AS BIGINT) - 2"
    else s"CAST(len(string_split($chain, '¤')) AS BIGINT) - 2"
  }

  /** Test hook (PipelineSpec): the Spark-dialect per-word chain. */
  private[graft] def bpeCountExprForTest: String = bpeCountExpr(spark = true)

  /** Discrete bin packing, both strategies, over one group's sizes.
    * Next-fit packs in the given order and closes a bin when the next
    * item does not fit; best-fit-decreasing sorts by (size desc, id)
    * and puts each item into the fullest bin it still fits (ties:
    * lowest bin index). Items larger than the capacity get a bin of
    * their own in both strategies. Returns (nfBins, bfdBins).
    */
  private[graft] def packBins(sizes: Seq[(Long, Long)], cap: Long): (Long, Long) = {
    var nf = 0L; var room = 0L
    sizes.foreach { case (_, sz) =>
      if (nf == 0L || sz > room) { nf += 1; room = math.max(cap - sz, 0L) }
      else room -= sz
    }
    val bins = scala.collection.mutable.ArrayBuffer.empty[Long] // remaining
    sizes.sortBy { case (id, sz) => (-sz, id) }.foreach { case (_, sz) =>
      var best = -1
      var i = 0
      while (i < bins.length) {
        if (bins(i) >= sz && (best == -1 || bins(i) < bins(best))) best = i
        i += 1
      }
      if (best == -1) bins += math.max(cap - sz, 0L)
      else bins(best) -= sz
    }
    (nf, bins.length.toLong)
  }

  val all: Seq[QueryDef] = Seq(

    // -----------------------------------------------------------------
    // BPE tokenizer APPLY: d_bpe_merge mines merge candidates from the
    // corpus; this operator applies a PRETRAINED merge table — the real
    // token-budget accounting step before packing/pricing a training
    // run. Map-only over the documents (the per-word merge chain stays
    // inside whole-stage codegen; no shuffle until the final count),
    // and the merge semantics are a generated replace chain both
    // engines execute identically, so subword counts hash-gate.
    // -----------------------------------------------------------------
    QueryDef("d_bpe_apply",
      (s, d) => {
        // compiled twin of the two interpreted aggregate(transform(...))
        // HOFs over the SAME generated replace-chain semantics
        // (BpeSavedSpec pins the per-word counts against
        // bpeCountExprForTest); one pass computes both sums and the
        // word-TYPE memo collapses the Zipf tail
        documents(s, d)
          .withColumn("bpe", vf.bpe_saved(
            expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), bpeMerges))
          .withColumn("n_base", col("bpe.n_base"))
          .withColumn("n_merged", col("bpe.n_merged"))
          .filter(col("n_base") > 0)
          .select(col("doc_id"), col("n_base"), col("n_merged"),
            expr("(n_base - n_merged) * 1000000 DIV n_base").as("saved_ppm"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |         COALESCE(CAST(list_sum(list_transform(
             |           regexp_extract_all(lower(text), '[a-z]+'),
             |           w -> CAST(len(w) AS BIGINT))) AS BIGINT), 0) AS n_base,
             |         COALESCE(CAST(list_sum(list_transform(
             |           regexp_extract_all(lower(text), '[a-z]+'),
             |           w -> ${bpeCountExpr(spark = false)})) AS BIGINT), 0) AS n_merged
             |  FROM documents)
             |SELECT doc_id, n_base, n_merged,
             |       (n_base - n_merged) * 1000000 // n_base AS saved_ppm
             |FROM t WHERE n_base > 0 ORDER BY doc_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Hybrid retrieval via reciprocal rank fusion — the production RAG
    // shape: a LEXICAL ranking (TF-weighted overlap with the query
    // doc's distinct terms) and a VECTOR ranking (cosine) are fused as
    // rrf = Σ 1e6 DIV (60 + rank) — rank fusion needs no score
    // calibration between the two systems, which is exactly why RRF
    // won; integer DIV keeps it engine-exact. Each leg is the shape
    // that scales: query terms/vectors broadcast, corpus scanned once
    // per leg, ranks computed per probe partition. doc_id ≡ vec_id in
    // the fixture (one embedding per document).
    // -----------------------------------------------------------------
    QueryDef("e_rrf_hybrid",
      (s, d) => {
        val toks = documents(s, d).select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("t"))
        val qterms = toks.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("t")).distinct()
        val lex = toks.join(broadcast(qterms), Seq("t"))
          .filter(col("doc_id") =!= col("qid"))
          .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("lex"))
        val emb = embeddings(s, d)
        val qv = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val sims = emb.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("doc_id"),
            ppm(vf.vec_cosine(col("embedding"), col("qv"))).as("sim_ppm"))
        val wv = Window.partitionBy(col("qid")).orderBy(col("sim_ppm").desc, col("doc_id"))
        val wl = Window.partitionBy(col("qid")).orderBy(col("lex").desc, col("doc_id"))
        val fused = sims.join(lex, Seq("qid", "doc_id"), "left")
          .na.fill(0L, Seq("lex"))
          .withColumn("r_vec", row_number().over(wv).cast("long"))
          .withColumn("r_lex", row_number().over(wl).cast("long"))
          .withColumn("rrf_x",
            expr("1000000 DIV (60 + r_vec) + 1000000 DIV (60 + r_lex)"))
        val wf = Window.partitionBy(col("qid")).orderBy(col("rrf_x").desc, col("doc_id"))
        fused.withColumn("rank", row_number().over(wf).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("doc_id"), col("rrf_x"),
            col("r_lex"), col("r_vec"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
             |  FROM documents),
             |qterms AS (
             |  SELECT DISTINCT doc_id AS qid, t FROM toks WHERE doc_id < 5),
             |lex AS (
             |  SELECT q.qid, x.doc_id, COUNT(*) AS lex
             |  FROM toks x JOIN qterms q ON q.t = x.t
             |  WHERE x.doc_id <> q.qid
             |  GROUP BY 1, 2),
             |qv AS (
             |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
             |sims AS (
             |  SELECT p.qid, e.vec_id AS doc_id,
             |         CAST(floor((${cosSql("e.embedding", "p.qv")}) * 1000000.0 + 0.5) AS BIGINT) AS sim_ppm
             |  FROM embeddings e CROSS JOIN qv p
             |  WHERE e.vec_id <> p.qid),
             |fused AS (
             |  SELECT s.qid, s.doc_id,
             |         ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.sim_ppm DESC, s.doc_id) AS r_vec,
             |         ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY COALESCE(l.lex, 0) DESC, s.doc_id) AS r_lex
             |  FROM sims s LEFT JOIN lex l ON l.qid = s.qid AND l.doc_id = s.doc_id),
             |scored AS (
             |  SELECT qid, doc_id, r_lex, r_vec,
             |         1000000 // (60 + r_vec) + 1000000 // (60 + r_lex) AS rrf_x
             |  FROM fused),
             |ranked AS (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_x DESC, doc_id) AS rank
             |  FROM scored)
             |SELECT qid, rank, doc_id, rrf_x, r_lex, r_vec
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Discrete bin packing, next-fit vs best-fit-decreasing (d_pack is
    // the span-allowed cumsum bucketing; THIS is whole-document
    // packing, where strategy matters): per source the doc sizes meet
    // at one key and both strategies run in plain Scala — BFD sorts
    // (size desc, id) and fills the fullest fitting bin. Reported per
    // source: both bin counts, saved bins, and BFD fill rate against
    // the ceil(total/cap) lower bound. The greedy itself is stateful and
    // not SQL-expressible, so (round 8) the driver-lane gate pairs the
    // EXACT columns (doc/token totals, the ceil lower bound — DuckDB
    // recomputes them) with theory digests for the greedy outputs:
    // lower ≤ BFD ≤ NF (BFD dominates next-fit on identical input) and
    // NF ≤ 2·lower+1 (next-fit's classic 2-approximation: consecutive
    // NF bins sum past cap). Strategy value pins (NF=3 vs BFD=2) stay
    // in PipelineSpec. At 100 TB the grouping key is the shard,
    // bounding each greedy's input.
    // -----------------------------------------------------------------
    QueryDef("d_pack_bfd",
      (s, d) => {
        import s.implicits._
        val sized = documents(s, d)
          .select(col("source"), col("doc_id"),
            expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)").as("n_tok"))
          .as[(String, Long, Long)]
        sized.groupByKey(_._1).mapGroups { (src, it) =>
          val items = it.map(r => (r._2, r._3)).toSeq.sortBy(_._1)
          val total = items.map(_._2).sum
          val (nf, bfd) = packBins(items, 2048L)
          // ceil(total/cap) floored at 1 when any doc exists: a source of
          // all-zero-token docs still opens one bin, so the raw ceil (0)
          // would fail lower ≤ BFD spuriously. Same GREATEST on the oracle.
          val lower = math.max((total + 2047L) / 2048L,
            if (items.nonEmpty) 1L else 0L)
          (src, items.length.toLong, total, lower,
            lower <= bfd && bfd <= nf, nf <= 2L * lower + 1L)
        }.toDF("source", "n_docs", "total_tokens", "lower_bound",
          "bfd_between_bounds", "nf_two_approx")
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
             |       CAST(GREATEST((SUM(len(regexp_extract_all(text, '\S+'))) + 2047) // 2048,
             |                     CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS lower_bound,
             |       true AS bfd_between_bounds, true AS nf_two_approx
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // -----------------------------------------------------------------
    // Span-corruption masking plan (the T5 pretraining objective's data
    // side, made REPRODUCIBLE): span starts are chosen by a
    // content-keyed hash coin per (doc, position) — ~5% starts × span
    // length 3 ≈ 15% masked — so the same documents get the same mask
    // on any cluster, any run, any partitioning. Overlapping spans
    // merge via the fixed-length interval-union telescope (sorted
    // starts, one lead() window: Σ min(3, next−p), last clipped at n —
    // the d_dup_ngrams idiom). Output is the per-doc masking budget a
    // packing/pricing step consumes.
    // -----------------------------------------------------------------
    QueryDef("d_span_mask",
      (s, d) => {
        val toks = documents(s, d).select(col("doc_id"),
          posexplode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as(Seq("pos", "tok")))
        val counts = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
        val starts = toks
          .withColumn("h", expr(
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(pos AS STRING))), 1, 7), 16, 10) AS BIGINT)"))
          .filter(col("h") % 100 < 5)
          .select(col("doc_id"), col("pos").cast("long").as("p"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        val covered = starts.join(counts, Seq("doc_id"))
          .withColumn("next_p", lead(col("p"), 1).over(w))
          .withColumn("cov", least(lit(3L),
            coalesce(col("next_p"), col("n_tokens")) - col("p"),
            col("n_tokens") - col("p")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_starts"), sum(col("cov")).as("n_masked"))
        counts.join(covered, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_starts", "n_masked"))
          .select(col("doc_id"), col("n_tokens"), col("n_starts"), col("n_masked"),
            expr("n_masked * 1000000 DIV n_tokens").as("mask_ppm"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         generate_subscripts(regexp_extract_all(text, '\S+'), 1) - 1 AS pos
             |  FROM documents),
             |counts AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY 1),
             |starts AS (
             |  SELECT doc_id, CAST(pos AS BIGINT) AS p
             |  FROM toks
             |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < 5),
             |cov AS (
             |  SELECT s.doc_id,
             |         LEAST(3,
             |           COALESCE(LEAD(s.p) OVER (PARTITION BY s.doc_id ORDER BY s.p), c.n_tokens) - s.p,
             |           c.n_tokens - s.p) AS cov
             |  FROM starts s JOIN counts c ON c.doc_id = s.doc_id),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_starts, CAST(SUM(cov) AS BIGINT) AS n_masked
             |  FROM cov GROUP BY 1)
             |SELECT c.doc_id, c.n_tokens,
             |       COALESCE(a.n_starts, 0) AS n_starts,
             |       COALESCE(a.n_masked, 0) AS n_masked,
             |       COALESCE(a.n_masked, 0) * 1000000 // c.n_tokens AS mask_ppm
             |FROM counts c LEFT JOIN agg a ON a.doc_id = c.doc_id
             |ORDER BY c.doc_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Temperature-balanced multilingual sampling (the mC4/XLM-R corpus
    // rebalancing step at α = 0.5): keep documents of language l with
    // probability √(n_min/n_l), so dominant languages are √-downsampled
    // toward the smallest. Deterministic and reproducible: the "coin"
    // is a 28-bit integer from md5(text) — content-keyed like
    // d_train_split, so the SAME documents survive on any cluster, any
    // partitioning, any run — and the per-language threshold is one
    // fixed sqrt·mult·floor expression tree (bit-identical IEEE on
    // both engines). One aggregate for the rate table (a broadcast
    // artifact), one filtered scan for the counts.
    // -----------------------------------------------------------------
    QueryDef("d_temperature_sample",
      (s, d) => {
        val docs = documents(s, d)
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
        val nmin = counts.agg(min(col("n_l")).as("n_min"))
        val thr = counts.crossJoin(broadcast(nmin))
          .withColumn("thr", expr(
            "CAST(floor(268435456.0 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE))) AS BIGINT)"))
          .select(col("lang"), col("n_l"), col("thr"))
        docs
          .withColumn("h", expr("CAST(conv(substring(md5(text), 1, 7), 16, 10) AS BIGINT)"))
          .join(broadcast(thr), Seq("lang"))
          .groupBy(col("lang"))
          .agg(
            max(col("n_l")).as("n_before"), // constant per lang
            sum(when(col("h") < col("thr"), 1L).otherwise(0L)).as("n_kept"),
            max(col("thr")).as("thr"))
          .select(col("lang"), col("n_before"), col("n_kept"),
            expr("n_kept * 1000000 DIV n_before").as("kept_ppm"),
            expr("thr * 1000000 DIV 268435456").as("target_ppm"))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
             |m AS (SELECT MIN(n_l) AS n_min FROM c),
             |t AS (SELECT lang, n_l,
             |             CAST(floor(268435456.0 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE))) AS BIGINT) AS thr
             |      FROM c, m),
             |k AS (SELECT d.lang,
             |             CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(d.text), 1, 7)) AS BIGINT) < t.thr
             |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |      FROM documents d JOIN t ON t.lang = d.lang GROUP BY 1)
             |SELECT t.lang, t.n_l AS n_before, k.n_kept,
             |       k.n_kept * 1000000 // t.n_l AS kept_ppm,
             |       t.thr * 1000000 // 268435456 AS target_ppm
             |FROM t JOIN k ON k.lang = t.lang ORDER BY t.lang""".stripMargin)),

    // -----------------------------------------------------------------
    // Triplet mining (anchor, positive, negative): per probe, the
    // nearest SAME-label vector (positive) and the nearest
    // DIFFERENT-label vector (negative) with the triplet margin in
    // ppm — the batch-construction step for a triplet/contrastive
    // loss. One broadcast-probe corpus scan computes both legs; the
    // margin column is the curriculum signal (small or negative margin
    // = hard triplet).
    // -----------------------------------------------------------------
    QueryDef("e_triplet_mine",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val scored = emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("sim_ppm", ppm(vf.vec_cosine(col("embedding"), col("qv"))))
          .withColumn("same", col("label") === col("qlabel"))
        val w = Window.partitionBy(col("qid"), col("same"))
          .orderBy(col("sim_ppm").desc, col("vec_id"))
        val best = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        val pos = best.filter(col("same"))
          .select(col("qid"), col("vec_id").as("pos_id"), col("sim_ppm").as("pos_ppm"))
        val neg = best.filter(!col("same"))
          .select(col("qid").as("qid2"), col("vec_id").as("neg_id"),
            col("sim_ppm").as("neg_ppm"))
        pos.join(neg, col("qid") === col("qid2"))
          .select(col("qid"), col("pos_id"), col("pos_ppm"),
            col("neg_id"), col("neg_ppm"),
            (col("pos_ppm") - col("neg_ppm")).as("margin_ppm"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH probes AS (
             |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
             |  FROM embeddings WHERE vec_id < 10),
             |scored AS (
             |  SELECT p.qid, e.vec_id, (e.label = p.qlabel) AS same,
             |         CAST(floor((${cosSql("e.embedding", "p.qv")}) * 1000000.0 + 0.5) AS BIGINT) AS sim_ppm
             |  FROM embeddings e CROSS JOIN probes p
             |  WHERE e.vec_id <> p.qid),
             |best AS (
             |  SELECT qid, same, vec_id, sim_ppm,
             |         ROW_NUMBER() OVER (PARTITION BY qid, same
             |           ORDER BY sim_ppm DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT p.qid, p.vec_id AS pos_id, p.sim_ppm AS pos_ppm,
             |       n.vec_id AS neg_id, n.sim_ppm AS neg_ppm,
             |       p.sim_ppm - n.sim_ppm AS margin_ppm
             |FROM best p JOIN best n ON n.qid = p.qid
             |WHERE p.rn = 1 AND p.same AND n.rn = 1 AND NOT n.same
             |ORDER BY p.qid""".stripMargin)),

    // -----------------------------------------------------------------
    // Hard-negative mining for contrastive training: for each probe,
    // the top-5 most-similar vectors with a DIFFERENT label — "looks
    // like the anchor but isn't" is exactly what a contrastive loss
    // wants in the denominator. Same shape as e_ann_topk (broadcast
    // probes, corpus scanned once, never shuffled), with the label
    // inequality applied BEFORE any distance math so mismatched-label
    // pruning rides the scan. At 100 TB this is the exact-scoring tail
    // of the mining pipeline; the candidate-generation head would be
    // the IVF/PQ index (e_ann_ivfpq) feeding this same scorer.
    // -----------------------------------------------------------------
    QueryDef("e_hard_negatives",
      (s, d) => {
        // per-probe cosine folds dwarf the byte-small single-split scan:
        // spread before the broadcast-probe pass (round-9 10x soak)
        val emb = embeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val joined = emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
          .withColumn("sim", Similarity.cosine("embedding", "qv"))
        val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        joined.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
            col("label").cast("long").as("neg_label"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH probes AS (
             |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
             |  FROM embeddings WHERE vec_id < 10),
             |sims AS (
             |  SELECT p.qid, e.vec_id, e.label,
             |         ${cosSql("e.embedding", "p.qv")} AS sim
             |  FROM embeddings e CROSS JOIN probes p
             |  WHERE e.vec_id <> p.qid AND e.label <> p.qlabel),
             |ranked AS (
             |  SELECT qid, vec_id, label,
             |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
             |  FROM sims)
             |SELECT qid, rank, vec_id AS neighbor_id, CAST(label AS BIGINT) AS neg_label
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Late-interaction (ColBERT MaxSim) retrieval: documents are BAGS
    // of vectors (here: 5-vector groups carved from the embeddings
    // table by `vec_id DIV 5`), and score(Q, D) = Σ_{q∈Q} max_{d∈D}
    // cos(q, d). The two-level aggregate is the whole trick at scale:
    // the corpus token table is scanned ONCE against broadcast query
    // tokens, the per-(qtok, doc) MAX and the per-(qdoc, doc) SUM are
    // both map-side combinable, and only |Q|·|docs| narrow rows ever
    // shuffle — never the token vectors themselves. Similarities are
    // collapsed to integer ppm BEFORE the SUM (MAX of doubles is
    // order-free; SUM is not), so the score is engine-exact.
    // -----------------------------------------------------------------
    QueryDef("e_maxsim",
      (s, d) => {
        val tok = embeddings(s, d).select(
          expr("vec_id DIV 5").as("doc"), col("vec_id").as("tid"), col("embedding"))
        val probes = tok.filter(col("doc") < 2)
          .select(col("doc").as("qdoc"), col("tid").as("qtok"), col("embedding").as("qv"))
        val sims = tok.crossJoin(broadcast(probes))
          .filter(col("doc") =!= col("qdoc"))
          .withColumn("sim_ppm", ppm(vf.vec_cosine(col("embedding"), col("qv"))))
        val best = sims.groupBy(col("qdoc"), col("qtok"), col("doc"))
          .agg(max(col("sim_ppm")).as("best_ppm"))
        val scored = best.groupBy(col("qdoc"), col("doc"))
          .agg(sum(col("best_ppm")).as("maxsim_ppm"))
        val w = Window.partitionBy(col("qdoc")).orderBy(col("maxsim_ppm").desc, col("doc"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("qdoc"), col("rank"), col("doc").as("neighbor_doc"), col("maxsim_ppm"))
          .orderBy(col("qdoc"), col("rank"))
      },
      Some(s"""WITH tok AS (
             |  SELECT vec_id // 5 AS doc, vec_id AS tid, embedding FROM embeddings),
             |probes AS (
             |  SELECT doc AS qdoc, tid AS qtok, embedding AS qv FROM tok WHERE doc < 2),
             |sims AS (
             |  SELECT p.qdoc, p.qtok, t.doc,
             |         CAST(floor((${cosSql("t.embedding", "p.qv")}) * 1000000.0 + 0.5) AS BIGINT) AS sim_ppm
             |  FROM tok t CROSS JOIN probes p
             |  WHERE t.doc <> p.qdoc),
             |best AS (
             |  SELECT qdoc, qtok, doc, MAX(sim_ppm) AS best_ppm FROM sims GROUP BY 1, 2, 3),
             |scored AS (
             |  SELECT qdoc, doc, CAST(SUM(best_ppm) AS BIGINT) AS maxsim_ppm
             |  FROM best GROUP BY 1, 2),
             |ranked AS (
             |  SELECT qdoc, doc, maxsim_ppm,
             |         ROW_NUMBER() OVER (PARTITION BY qdoc ORDER BY maxsim_ppm DESC, doc) AS rank
             |  FROM scored)
             |SELECT qdoc, rank, doc AS neighbor_doc, maxsim_ppm
             |FROM ranked WHERE rank <= 3 ORDER BY qdoc, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Embedding drift monitor: per-dimension mean shift between two
    // cohorts (label parity stands in for "last week's corpus vs this
    // week's"). The production question is "did the embedding space
    // move enough that the ANN index needs retraining?" — answered
    // here with one posexplode + one map-side-combined aggregate, all
    // integer-exact: per-element ppm, per-(dim, cohort) BIGINT sums,
    // and the mean comparison cross-multiplied (|s_a·n_b − s_b·n_a|)
    // so no division touches the ranking. Top-10 drifted dimensions.
    // -----------------------------------------------------------------
    QueryDef("e_embed_drift",
      (s, d) => {
        val tok = embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .withColumn("x_ppm", ppm(col("x").cast("double")))
        val per = tok.groupBy(col("dim").cast("long").as("dim")).agg(
          sum(when(col("label") % 2 === 0, col("x_ppm")).otherwise(lit(0L))).as("s_a"),
          sum(when(col("label") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("label") % 2 === 1, col("x_ppm")).otherwise(lit(0L))).as("s_b"),
          sum(when(col("label") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
        val scored = per
          .withColumn("drift_x", abs(col("s_a") * col("n_b") - col("s_b") * col("n_a")))
          .withColumn("mean_diff_ppm", expr("drift_x DIV (n_a * n_b)"))
        val w = Window.orderBy(col("drift_x").desc, col("dim"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("rank"), col("dim"), col("n_a"), col("n_b"),
            col("mean_diff_ppm"), col("drift_x"))
          .orderBy(col("rank"))
      },
      Some("""WITH tok AS (
             |  SELECT label, dim, CAST(floor(CAST(embedding[CAST(dim AS INT) + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x_ppm
             |  FROM embeddings, range(64) r(dim)),
             |per AS (
             |  SELECT dim,
             |         CAST(SUM(CASE WHEN label % 2 = 0 THEN x_ppm ELSE 0 END) AS BIGINT) AS s_a,
             |         CAST(SUM(CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |         CAST(SUM(CASE WHEN label % 2 = 1 THEN x_ppm ELSE 0 END) AS BIGINT) AS s_b,
             |         CAST(SUM(CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |  FROM tok GROUP BY dim),
             |scored AS (
             |  SELECT dim, n_a, n_b,
             |         abs(s_a * n_b - s_b * n_a) AS drift_x,
             |         abs(s_a * n_b - s_b * n_a) // (n_a * n_b) AS mean_diff_ppm
             |  FROM per),
             |ranked AS (
             |  SELECT *, ROW_NUMBER() OVER (ORDER BY drift_x DESC, dim) AS rank FROM scored)
             |SELECT rank, dim, n_a, n_b, mean_diff_ppm, drift_x
             |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Privacy audit: k-anonymity / l-diversity over quasi-identifiers.
    // A released training corpus keyed by (lang, length-bucket) is
    // k-anonymous at the MIN equivalence-class size; l-diversity is the
    // MIN distinct sensitive values (source) within a class. The audit
    // is two map-side-combined aggregates over the class key — at
    // 100 TB the class table is |langs|·|buckets| rows, so the report
    // never materializes anything document-sized. Emitted per lang:
    // class count, risky classes/docs (size < 5), worst-case k and l.
    // -----------------------------------------------------------------
    QueryDef("d_k_anonymity",
      (s, d) => {
        val cls = documents(s, d)
          .groupBy(col("lang"), expr("n_chars DIV 100").as("bucket"))
          .agg(count(lit(1)).as("sz"), countDistinct(col("source")).as("nsrc"))
        cls.groupBy(col("lang")).agg(
          count(lit(1)).as("n_classes"),
          sum(when(col("sz") < 5, 1L).otherwise(0L)).as("risky_classes"),
          sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("risky_docs"),
          min(col("sz")).as("k_anon"),
          min(col("nsrc")).as("l_div"))
          .orderBy(col("lang"))
      },
      Some("""WITH cls AS (
             |  SELECT lang, n_chars // 100 AS bucket,
             |         COUNT(*) AS sz, COUNT(DISTINCT source) AS nsrc
             |  FROM documents GROUP BY 1, 2)
             |SELECT lang, COUNT(*) AS n_classes,
             |       CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risky_classes,
             |       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS risky_docs,
             |       MIN(sz) AS k_anon, MIN(nsrc) AS l_div
             |FROM cls GROUP BY lang ORDER BY lang""".stripMargin)),

    // -----------------------------------------------------------------
    // MMR (maximal marginal relevance) diversity rerank — the standard
    // RAG post-retrieval step: from each probe's exact top-20, greedily
    // pick 4 maximizing λ·sim(q,c) − (1−λ)·max sim(c, selected), λ=0.7
    // in exact integer ppm. Architecture at scale: stage 1 (candidate
    // retrieval) is the only corpus-sized work; stages 2-3 (pairwise
    // sims among ≤20 candidates, 4 greedy argmax rounds) cost
    // O(|probes|·k²) regardless of corpus size — rerank never touches
    // the corpus again. The greedy unroll is ONE generated CTE chain
    // run verbatim on both engines (mmrGreedySql).
    // -----------------------------------------------------------------
    QueryDef("e_mmr_rerank",
      (s, d) => {
        import s.implicits._
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val scored = emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("qs", ppm(vf.vec_cosine(col("embedding"), col("qv"))))
        val wTop = Window.partitionBy(col("qid")).orderBy(col("qs").desc, col("vec_id"))
        val cand = scored.withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 20)
          .select(col("qid"), col("vec_id").as("cid"), col("qs"), col("embedding"))
        val pair = cand.as("x")
          .join(cand.as("y"),
            col("x.qid") === col("y.qid") && col("x.cid") =!= col("y.cid"))
          .select(col("x.qid").as("qid"), col("x.cid").as("a"), col("y.cid").as("b"),
            ppm(vf.vec_cosine(col("x.embedding"), col("y.embedding"))).as("ps"))
        // The greedy argmax loop runs PER PROBE over ≤20 candidates and
        // ≤380 pair sims — a typed cogroup puts both at the same key
        // and the loop runs in plain Scala: two rerank-sized shuffles
        // total. (A first cut unrolled the greedy as 4 SQL steps over
        // temp views: re-planning re-executed the corpus subtree per
        // step — 224 exchanges in PlanScan — and even checkpointed it
        // cost ~120 tiny-table exchanges of pure stage overhead. The
        // SQL chain survives as the DuckDB oracle, making the gate a
        // differential between two independent implementations.)
        val candDs = cand.select(col("qid"), col("cid"), col("qs"))
          .as[(Long, Long, Long)].groupByKey(_._1)
        val pairDs = pair.as[(Long, Long, Long, Long)].groupByKey(_._1)
        candDs.cogroup(pairDs) { (qid, cs, ps) =>
          val cands = cs.map(c => (c._2, c._3)).toArray.sortBy { case (id, q) => (-q, id) }
          val sim = ps.map(p => (p._2, p._3) -> p._4).toMap
          var sel = Vector.empty[(Long, Long)] // (cid, mmr_x)
          while (sel.length < 4 && sel.length < cands.length) {
            val pick = cands.iterator
              .filter { case (id, _) => !sel.exists(_._1 == id) }
              .map { case (id, q) =>
                val pen = if (sel.isEmpty) 0L
                  else sel.map(s => sim((id, s._1))).max
                (id, 7L * q - 3L * pen)
              }
              .foldLeft(Option.empty[(Long, Long)]) {
                case (best, c) => best match {
                  case Some(b) if b._2 > c._2 || (b._2 == c._2 && b._1 < c._1) => best
                  case _ => Some(c)
                }
              }.get
            sel :+= pick
          }
          sel.zipWithIndex.map { case ((cid, x), i) => (qid, (i + 1).toLong, cid, x) }
            .iterator
        }.toDF("qid", "rank", "cid", "mmr_x")
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH probes AS (
             |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
             |scored AS (
             |  SELECT p.qid, e.vec_id AS cid, e.embedding,
             |         CAST(floor((${cosSql("e.embedding", "p.qv")}) * 1000000.0 + 0.5) AS BIGINT) AS qs
             |  FROM embeddings e CROSS JOIN probes p
             |  WHERE e.vec_id <> p.qid),
             |cand0 AS (
             |  SELECT qid, cid, qs, embedding,
             |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qs DESC, cid) AS rn
             |  FROM scored),
             |mmr_cand AS (SELECT qid, cid, qs FROM cand0 WHERE rn <= 20),
             |mmr_pair AS (
             |  SELECT x.qid, x.cid AS a, y.cid AS b,
             |         CAST(floor((${cosSql("x.embedding", "y.embedding")}) * 1000000.0 + 0.5) AS BIGINT) AS ps
             |  FROM cand0 x JOIN cand0 y ON y.qid = x.qid AND y.cid <> x.cid
             |  WHERE x.rn <= 20 AND y.rn <= 20),
             |${mmrGreedySql(4)}
             |SELECT qid, rank, cid, mmr_x FROM sel4
             |ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Structural variant diff (the inverse of v_merge_patch): per row,
    // two JSON documents are synthesized from lineitem columns with
    // KNOWN differences — a changed scalar (qty, when orderkey is odd),
    // a changed nested field (meta.tax, when orderkey % 3 ≠ 0), a
    // dropped key (flag) and an added key (extra) — and the oracle
    // states the expected RFC 7386 patch ANALYTICALLY as a string built
    // from the same columns. The gate therefore proves variant_diff
    // emits exactly the minimal patch (canonical sorted-key compact
    // JSON) for every row; the merge_patch(a, diff(a,b)) ≡ b roundtrip
    // is fuzz-pinned in VariantDiffSpec. This is the CDC primitive for
    // semi-structured columns: ship diffs, re-apply with merge_patch.
    // -----------------------------------------------------------------
    QueryDef("v_diff",
      (s, d) => {
        val aJson = concat(
          lit("""{"flag": """"), col("l_returnflag"),
          lit("""", "id": """), col("l_orderkey"),
          lit(""", "meta": {"sk": """), col("l_partkey"),
          lit(""", "tax": """), col("l_suppkey"),
          lit("""}, "qty": """), col("l_linenumber"), lit("}"))
        val bJson = concat(
          lit("""{"extra": """), col("l_suppkey"),
          lit(""", "id": """), col("l_orderkey"),
          lit(""", "meta": {"sk": """), col("l_partkey"),
          lit(""", "tax": """), col("l_suppkey") + (col("l_orderkey") % 3),
          lit("""}, "qty": """), col("l_linenumber") + (col("l_orderkey") % 2), lit("}"))
        // single-file fixture = one scan partition; respread the narrow
        // input so the per-row parse+diff+encode runs on every core
        // (the v_nested_paths lesson)
        lineitem(s, d).filter(col("l_orderkey") % 23 === 0)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("dj", vf.variant_to_json(vf.variant_diff(
            vf.variant_from_json(aJson), vf.variant_from_json(bJson))))
          .select(col("l_orderkey"), col("l_linenumber"), col("dj"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  '{"extra":' || CAST(l_suppkey AS VARCHAR) || ',"flag":null' ||
             |  CASE WHEN l_orderkey % 3 <> 0
             |       THEN ',"meta":{"tax":' || CAST(l_suppkey + l_orderkey % 3 AS VARCHAR) || '}'
             |       ELSE '' END ||
             |  CASE WHEN l_orderkey % 2 <> 0
             |       THEN ',"qty":' || CAST(l_linenumber + l_orderkey % 2 AS VARCHAR)
             |       ELSE '' END || '}' AS dj
             |FROM lineitem WHERE l_orderkey % 23 = 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // -----------------------------------------------------------------
    // Writer-path aggregation: build a variant DOCUMENT from a
    // relational aggregate (to_variant over named_struct with a
    // sorted-slice array) — the inverse direction of the extraction
    // surface, gated by rendering the built document to canonical JSON
    // against an analytically-constructed oracle string. The shape a
    // feature-store/profile materialization job uses: aggregate facts,
    // emit one self-describing document per key.
    // -----------------------------------------------------------------
    QueryDef("v_agg_build",
      (s, d) => {
        lineitem(s, d)
          .groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("n"),
            expr("slice(sort_array(collect_list(CAST(l_quantity AS BIGINT))), 1, 5)").as("qty5"))
          .withColumn("doc", vf.variant_to_json(vf.to_variant(
            expr("named_struct('flag', flag, 'n', n, 'qty5', qty5)"))))
          .select(col("flag"), col("doc"))
          .orderBy(col("flag"))
      },
      Some("""SELECT l_returnflag AS flag,
             |       '{"flag":"' || l_returnflag || '","n":' || CAST(COUNT(*) AS VARCHAR) ||
             |       ',"qty5":[' ||
             |       array_to_string((list(CAST(l_quantity AS BIGINT) ORDER BY CAST(l_quantity AS BIGINT)))[1:5], ',') ||
             |       ']}' AS doc
             |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin)),

    // -----------------------------------------------------------------
    // Training-order interleave: the data-ordering step — documents
    // from all sources interleaved round-robin (position = dense order
    // over (per-source rank, source)) so a training run never sees one
    // source in a long block. Deterministic, shuffle-light (one
    // per-source window + one global ordering over rank-bounded keys).
    // -----------------------------------------------------------------
    QueryDef("d_interleave_order",
      (s, d) => {
        val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val wAll = Window.orderBy(col("ord"), col("source"))
        documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("ord", row_number().over(wSrc).cast("long"))
          .withColumn("pos", row_number().over(wAll).cast("long"))
          .select(col("pos"), col("doc_id"), col("source"), col("ord"))
          .orderBy(col("pos"))
      },
      Some("""WITH r AS (
             |  SELECT doc_id, source,
             |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS ord
             |  FROM documents)
             |SELECT ROW_NUMBER() OVER (ORDER BY ord, source) AS pos,
             |       doc_id, source, ord
             |FROM r ORDER BY pos""".stripMargin)),

    // -----------------------------------------------------------------
    // Recursive variant introspection (variant_flatten): one row per
    // node as (path, typ, leaf) — the json_tree shape. The oracle
    // enumerates the expected node set ANALYTICALLY per source row,
    // including the `typ` column derived from value RANGES — which
    // makes this a driver-lane gate on the writer's narrowest-int rule
    // (tinyint/smallint/int/bigint), not just on the walk. Every
    // emitted path replays through variant_get (spec'd).
    // -----------------------------------------------------------------
    QueryDef("v_flatten",
      (s, d) => {
        val json = concat(
          lit("""{"id": """), col("l_orderkey"),
          lit(""", "m": {"f": """"), col("l_returnflag"),
          lit("""", "sk": """), col("l_partkey"),
          lit("""}, "tg": ["""), col("l_linenumber"),
          lit(", "), when(col("l_orderkey") % 2 === 0, lit("true")).otherwise(lit("false")),
          lit("]}"))
        lineitem(s, d).filter(col("l_orderkey") % 31 === 0)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("v", vf.variant_from_json(json))
          .select(col("l_orderkey"), col("l_linenumber"),
            vf.variant_flatten(col("v")).as(Seq("path", "typ", "leaf")))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("path"))
      },
      Some("""WITH src AS (
             |  SELECT l_orderkey AS k, l_linenumber AS q, l_partkey AS s, l_returnflag AS f
             |  FROM lineitem WHERE l_orderkey % 31 = 0),
             |n AS (
             |  SELECT k, q, '$' AS path, 'object' AS typ, CAST(NULL AS VARCHAR) AS leaf FROM src
             |  UNION ALL
             |  SELECT k, q, '$.id',
             |         CASE WHEN k <= 127 THEN 'tinyint' WHEN k <= 32767 THEN 'smallint'
             |              WHEN k <= 2147483647 THEN 'int' ELSE 'bigint' END,
             |         CAST(k AS VARCHAR) FROM src
             |  UNION ALL
             |  SELECT k, q, '$.m', 'object', NULL FROM src
             |  UNION ALL
             |  SELECT k, q, '$.m.f', 'string', '"' || f || '"' FROM src
             |  UNION ALL
             |  SELECT k, q, '$.m.sk',
             |         CASE WHEN s <= 127 THEN 'tinyint' WHEN s <= 32767 THEN 'smallint'
             |              WHEN s <= 2147483647 THEN 'int' ELSE 'bigint' END,
             |         CAST(s AS VARCHAR) FROM src
             |  UNION ALL
             |  SELECT k, q, '$.tg', 'array', NULL FROM src
             |  UNION ALL
             |  SELECT k, q, '$.tg[0]',
             |         CASE WHEN q <= 127 THEN 'tinyint' ELSE 'smallint' END,
             |         CAST(q AS VARCHAR) FROM src
             |  UNION ALL
             |  SELECT k, q, '$.tg[1]', 'boolean',
             |         CASE WHEN k % 2 = 0 THEN 'true' ELSE 'false' END FROM src)
             |SELECT k AS l_orderkey, CAST(q AS INT) AS l_linenumber, path, typ, leaf
             |FROM n ORDER BY l_orderkey, l_linenumber, path""".stripMargin)),

    // -----------------------------------------------------------------
    // Wildcard path extraction: `variant_get_all(v, '$.items[*].q')`
    // pulls every array-element field in ONE walk — no explode, no
    // re-aggregation — the multi-valued extraction that otherwise costs
    // a generator + groupBy (row explosion × shuffle) at 100 TB. The
    // fixture plants a conditionally-missing key (even orderkeys lack
    // `q` in the middle item) so branch pruning is exercised; the
    // oracle reconstructs the expected arrays and sums analytically
    // from the generating columns.
    // -----------------------------------------------------------------
    QueryDef("v_get_wildcard",
      (s, d) => {
        val midItem = when(col("l_orderkey") % 2 === 0,
          concat(lit("""{"p": """), col("l_partkey") % 10, lit("}")))
          .otherwise(concat(lit("""{"q": """), col("l_partkey") % 10, lit("}")))
        val json = concat(
          lit("""{"id": """), col("l_orderkey"),
          lit(""", "items": [{"q": """), col("l_linenumber"), lit("}, "),
          midItem,
          lit(""", {"q": """), col("l_suppkey") % 10, lit("}]}"))
        lineitem(s, d).filter(col("l_orderkey") % 19 === 0)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("v", vf.variant_from_json(json))
          .withColumn("qs", vf.variant_get_all(col("v"), "$.items[*].q",
            org.apache.spark.sql.types.LongType))
          // object-value wildcard: .* takes EVERY field value of each
          // item (q or p alike), so the result is position-complete
          .withColumn("vals", vf.variant_get_all(col("v"), "$.items[*].*",
            org.apache.spark.sql.types.LongType))
          // string digests, not raw array columns: the driver's
          // pandas-side compare cannot sort/hash ndarray cells
          .select(col("l_orderkey"), col("l_linenumber"),
            concat_ws(",", col("qs")).as("qs_csv"),
            concat_ws(",", col("vals")).as("vals_csv"),
            size(col("qs")).cast("long").as("n_q"),
            expr("aggregate(qs, 0L, (a, x) -> a + x)").as("qsum"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""WITH e AS (
             |  SELECT l_orderkey, l_linenumber,
             |         CASE WHEN l_orderkey % 2 = 0
             |              THEN [CAST(l_linenumber AS BIGINT), l_suppkey % 10]
             |              ELSE [CAST(l_linenumber AS BIGINT), l_partkey % 10, l_suppkey % 10]
             |         END AS qs,
             |         [CAST(l_linenumber AS BIGINT), l_partkey % 10, l_suppkey % 10] AS vals
             |  FROM lineitem WHERE l_orderkey % 19 = 0)
             |SELECT l_orderkey, l_linenumber,
             |       array_to_string(qs, ',') AS qs_csv,
             |       array_to_string(vals, ',') AS vals_csv,
             |       CAST(len(qs) AS BIGINT) AS n_q,
             |       CAST(list_sum(qs) AS BIGINT) AS qsum
             |FROM e ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // -----------------------------------------------------------------
    // Vocabulary growth (Heaps'-law curve): cumulative distinct word
    // types vs cumulative tokens at doc-id checkpoints — the corpus
    // diversity trajectory a curation pipeline tracks to spot when new
    // data stops adding new language. Two map-side-combined aggregates
    // — per-bucket token counts, and first-occurrence bucket per TYPE
    // (the vocabulary-sized shuffle) — then a window over the tiny
    // bucket table. The raw token stream never reaches the window.
    // -----------------------------------------------------------------
    QueryDef("d_vocab_growth",
      (s, d) => {
        val toks = documents(s, d)
          .select(expr("doc_id DIV 50").as("bucket"),
            explode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as("tok"))
        val perBucket = toks.groupBy(col("bucket")).agg(count(lit(1)).as("n_tok"))
        val firstSeen = toks.groupBy(col("tok")).agg(min(col("bucket")).as("fb"))
          .groupBy(col("fb").as("bucket")).agg(count(lit(1)).as("n_new"))
        val joined = perBucket.join(firstSeen, Seq("bucket"), "left")
          .na.fill(0L, Seq("n_new"))
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        joined
          .withColumn("cum_tokens", sum(col("n_tok")).over(w))
          .withColumn("cum_types", sum(col("n_new")).over(w))
          .select(col("bucket"), col("cum_tokens"), col("cum_types"),
            expr("cum_types * 1000000 DIV cum_tokens").as("ttr_ppm"))
          .orderBy(col("bucket"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id // 50 AS bucket,
             |         unnest(regexp_extract_all(text, '\S+')) AS tok
             |  FROM documents),
             |bt AS (SELECT bucket, COUNT(*) AS n_tok FROM tok GROUP BY 1),
             |ft AS (SELECT tok, MIN(bucket) AS fb FROM tok GROUP BY 1),
             |nt AS (SELECT fb AS bucket, COUNT(*) AS n_new FROM ft GROUP BY 1),
             |j AS (SELECT bt.bucket, bt.n_tok, COALESCE(nt.n_new, 0) AS n_new
             |      FROM bt LEFT JOIN nt ON nt.bucket = bt.bucket),
             |c AS (SELECT bucket,
             |        CAST(SUM(n_tok) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             |        CAST(SUM(n_new) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
             |      FROM j)
             |SELECT bucket, cum_tokens, cum_types,
             |       cum_types * 1000000 // cum_tokens AS ttr_ppm
             |FROM c ORDER BY bucket""".stripMargin)),

    // -----------------------------------------------------------------
    // Generator-function parity sweep: stack (columns→rows unpivot
    // generator), inline (array-of-struct flattening), and
    // posexplode_outer (position-indexed explode whose OUTER mode emits
    // one all-NULL row for an empty array — the left-join-like variant
    // q_explode_lateral's inner explode drops). The oracle replays each
    // generator as UNION ALL branches, pinning row multiplicity, outer
    // NULL semantics, and positions.
    // -----------------------------------------------------------------
    QueryDef("q_generator_funcs",
      (s, d) => {
        val src = lineitem(s, d).filter(col("l_orderkey") % 41 === 0)
          .select(col("l_orderkey").as("k"), col("l_linenumber").as("q"),
            col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        val st = src
          .select(col("k"), col("q"), lit("stack").as("src"),
            expr("stack(2, 'qty', CAST(q AS BIGINT), 'bucket', pk % 100)"))
          .withColumnRenamed("col0", "name").withColumnRenamed("col1", "val")
          .withColumn("pos", lit(null).cast("long"))
        val inl = src
          .select(col("k"), col("q"), lit("inline").as("src"),
            expr("inline(array(named_struct('name', 'lo', 'val', sk % 9), " +
              "named_struct('name', 'hi', 'val', pk % 9)))"))
          .withColumn("pos", lit(null).cast("long"))
        val ex = src
          .select(col("k"), col("q"), lit("explode").as("src"),
            expr("posexplode_outer(CASE WHEN k % 2 = 0 THEN array(pk % 7, sk % 7) " +
              "ELSE array() END)"))
          .select(col("k"), col("q"), col("src"), col("pos").cast("long").as("pos"),
            lit("elem").as("name"), col("col").as("val"))
        val shaped = Seq(st, inl).map(_.select(
          col("k"), col("q"), col("src"), col("pos"), col("name"), col("val")))
        (shaped.head.unionByName(shaped(1)).unionByName(ex))
          .orderBy(col("k"), col("q"), col("src"), col("name"), col("pos"))
      },
      Some("""WITH src AS (
             |  SELECT l_orderkey AS k, l_linenumber AS q, l_partkey AS pk, l_suppkey AS sk
             |  FROM lineitem WHERE l_orderkey % 41 = 0),
             |u AS (
             |  SELECT k, q, 'stack' AS src, CAST(NULL AS BIGINT) AS pos,
             |         'qty' AS name, CAST(q AS BIGINT) AS val FROM src
             |  UNION ALL SELECT k, q, 'stack', NULL, 'bucket', pk % 100 FROM src
             |  UNION ALL SELECT k, q, 'inline', NULL, 'lo', sk % 9 FROM src
             |  UNION ALL SELECT k, q, 'inline', NULL, 'hi', pk % 9 FROM src
             |  UNION ALL SELECT k, q, 'explode', 0, 'elem', pk % 7 FROM src WHERE k % 2 = 0
             |  UNION ALL SELECT k, q, 'explode', 1, 'elem', sk % 7 FROM src WHERE k % 2 = 0
             |  UNION ALL SELECT k, q, 'explode', NULL, 'elem', NULL FROM src WHERE k % 2 <> 0)
             |SELECT k, q, src, pos, name, val
             |FROM u ORDER BY k, q, src, name, pos""".stripMargin)),

    // -----------------------------------------------------------------
    // Sequence-pattern matching (the MATCH_RECOGNIZE / CEP shape
    // without the syntax): each user's event history becomes a coded
    // string — one char per event, ordered by (ts, event_id) — and
    // funnel patterns become REGULAR EXPRESSIONS counted per user:
    // 'v[ce]*p' = view, then clicks/errors, then purchase with nothing
    // else between. Both engines count non-overlapping leftmost
    // matches identically (Java regex and RE2 agree on this class —
    // the negated char set bounds the greedy star, so no backtracking
    // divergence). One shuffle on user_id; the per-user string is
    // bounded by the user's event count.
    // -----------------------------------------------------------------
    QueryDef("q_pattern_match",
      (s, d) => {
        val coded = events(s, d).select(col("user_id"), col("ts"), col("event_id"),
          expr("""CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                 |     WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                 |     ELSE 'e' END""".stripMargin).as("code"))
        coded.groupBy(col("user_id"))
          .agg(expr(
            "array_join(transform(sort_array(collect_list(struct(ts, event_id, code))), x -> x.code), '')")
            .as("seq"))
          .select(col("user_id"),
            length(col("seq")).cast("long").as("n_events"),
            expr("CAST(regexp_count(seq, 'v[ce]*p') AS BIGINT)").as("n_funnel"),
            expr("CAST(regexp_count(seq, 'vp') AS BIGINT)").as("n_direct"),
            expr("CAST(regexp_count(seq, 's.*p') AS BIGINT)").as("signup_to_buy"))
          .orderBy(col("user_id"))
      },
      Some("""WITH coded AS (
             |  SELECT user_id, ts, event_id,
             |         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             |              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
             |              ELSE 'e' END AS code
             |  FROM events),
             |seqs AS (
             |  SELECT user_id, string_agg(code, '' ORDER BY ts, event_id) AS seq
             |  FROM coded GROUP BY user_id)
             |SELECT user_id,
             |       CAST(len(seq) AS BIGINT) AS n_events,
             |       CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_funnel,
             |       CAST(len(regexp_extract_all(seq, 'vp')) AS BIGINT) AS n_direct,
             |       CAST(len(regexp_extract_all(seq, 's.*p')) AS BIGINT) AS signup_to_buy
             |FROM seqs ORDER BY user_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Audience overlap via bitmap AND: per-event-type exact user
    // bitmaps (one aggregate scan of the facts), then pairwise
    // |A ∩ B| and exact Jaccard on the 5-row aggregated table. This is
    // the sketch-algebra completion of q_bitmap_distinct/_rollup — OR
    // answered "union distinct", AND answers "both" — and the shape a
    // 100 TB segment-overlap matrix wants: the raw events are touched
    // once, the pairwise work runs on |types|² sketch rows. The oracle
    // recomputes every intersection from raw rows.
    // -----------------------------------------------------------------
    QueryDef("q_bitmap_overlap",
      (s, d) => {
        val bm = events(s, d).groupBy(col("event_type"))
          .agg(vf.bitmap_agg(col("user_id")).as("bm"))
          .withColumn("n", vf.bitmap_cardinality(col("bm")))
        val a = bm.select(col("event_type").as("t1"), col("bm").as("bm1"), col("n").as("n_a"))
        val b = bm.select(col("event_type").as("t2"), col("bm").as("bm2"), col("n").as("n_b"))
        a.crossJoin(broadcast(b)).filter(col("t1") < col("t2"))
          .withColumn("n_both", vf.bitmap_and_cardinality(col("bm1"), col("bm2")))
          .select(col("t1"), col("t2"), col("n_both"), col("n_a"), col("n_b"),
            expr("n_both * 1000000 DIV (n_a + n_b - n_both)").as("jaccard_ppm"))
          .orderBy(col("t1"), col("t2"))
      },
      Some("""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
             |tot AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1),
             |pair AS (
             |  SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_both
             |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT ta.event_type AS t1, tb.event_type AS t2,
             |       COALESCE(p.n_both, 0) AS n_both, ta.n AS n_a, tb.n AS n_b,
             |       COALESCE(p.n_both, 0) * 1000000 // (ta.n + tb.n - COALESCE(p.n_both, 0)) AS jaccard_ppm
             |FROM tot ta JOIN tot tb ON ta.event_type < tb.event_type
             |LEFT JOIN pair p ON p.t1 = ta.event_type AND p.t2 = tb.event_type
             |ORDER BY t1, t2""".stripMargin)),

    // -----------------------------------------------------------------
    // Second-moment (gram) matrix of the embedding corpus — the
    // single-pass primitive under PCA whitening / covariance-based
    // drift detection. Components collapse to integer ppm first (house
    // rule), so every X_i·X_j entry is an exact BIGINT sum and the
    // upper triangle hashes identically on both engines. Scale shape:
    // each row expands to its d(d+1)/2 local products MAP-SIDE (one
    // codegen'd explode, no join), and partial aggregation bounds the
    // shuffle at 2 080 rows PER PARTITION regardless of corpus size —
    // at 1000 executors the reduce side still sees ~2 080 × tasks tiny
    // longs, never a row-count-proportional shuffle. (A treeAggregate
    // over Array[Long] is the same economics with worse composability.)
    // -----------------------------------------------------------------
    QueryDef("e_gram_matrix",
      (s, d) => {
        val x = embeddings(s, d)
          // 2 080 products per row: spread the one-file scan (explicit
          // count — AQE coalesces a countless repartition of this
          // small input back to one partition)
          .repartition(s.sparkContext.defaultParallelism)
          .select(
          vf.vec_quantize_ppm(col("embedding"))
            .as("e"))
        x.select(explode(expr(
            """flatten(transform(e, (xi, i) ->
              |  transform(slice(e, i + 1, size(e) - i), (xj, dj) ->
              |    named_struct('i', CAST(i AS BIGINT), 'j', CAST(i + dj AS BIGINT),
              |                 'p', xi * xj))))""".stripMargin)).as("c"))
          .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
          .groupBy(col("i"), col("j"))
          .agg(sum(col("p")).as("g_sum"))
          .orderBy(col("i"), col("j"))
      },
      Some("""WITH q AS (
             |  SELECT list_transform(embedding,
             |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
             |  FROM embeddings),
             |c AS (
             |  SELECT ui.i AS i, uj.j AS j, e[ui.i + 1] * e[uj.j + 1] AS p
             |  FROM q,
             |       LATERAL unnest(range(0, len(e))) AS ui(i),
             |       LATERAL unnest(range(ui.i, len(e))) AS uj(j))
             |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
             |       CAST(SUM(p) AS BIGINT) AS g_sum
             |FROM c GROUP BY i, j ORDER BY i, j""".stripMargin)),

    // -----------------------------------------------------------------
    // Signed random projection (Johnson–Lindenstrauss / SimHash-for-
    // vectors): 8 hyperplanes whose ±1 entries come from bit 16 of
    // (i·8+j+1)·2654435761 — Knuth multiplicative hashing in pure
    // BIGINT arithmetic, identical on both engines, so the projection
    // is EXACT through the hash gate (the usual "random projections
    // aren't reproducible" excuse doesn't apply: production pipelines
    // pin the seed for exactly this reason). Scale shape: the entire
    // projection is one per-row `aggregate` over the component array —
    // NARROW, zero shuffles, the embarrassingly-parallel map a 100 TB
    // re-embedding pass wants; downstream LSH bucketing (e_ann_lsh)
    // and near-dup banding consume these 8 longs instead of 64 floats.
    // -----------------------------------------------------------------
    QueryDef("e_rand_proj",
      (s, d) => {
        val x = embeddings(s, d).select(col("vec_id"),
          vf.vec_quantize_ppm(col("embedding"))
            .as("e"))
        x.select(col("vec_id"), posexplode(expr(
            """transform(sequence(0, 7), j ->
              |  aggregate(sequence(0, size(e) - 1), CAST(0 AS BIGINT),
              |    (acc, i) -> acc + CASE
              |      WHEN ((CAST(i * 8 + j + 1 AS BIGINT) * CAST(2654435761 AS BIGINT)) div 65536) % 2 = 0
              |      THEN e[i] ELSE -e[i] END))""".stripMargin)))
          .select(col("vec_id"), col("pos").cast("long").as("j"),
            col("col").as("proj_ppm"))
          .orderBy(col("vec_id"), col("j"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id, list_transform(embedding,
             |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
             |  FROM embeddings),
             |c AS (
             |  SELECT vec_id, uj.j AS j,
             |         CASE WHEN ((CAST(ui.i * 8 + uj.j + 1 AS BIGINT) * 2654435761) // 65536) % 2 = 0
             |              THEN e[ui.i + 1] ELSE -e[ui.i + 1] END AS v
             |  FROM q,
             |       LATERAL unnest(range(0, 8)) AS uj(j),
             |       LATERAL unnest(range(0, len(e))) AS ui(i))
             |SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(SUM(v) AS BIGINT) AS proj_ppm
             |FROM c GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin)),

    // -----------------------------------------------------------------
    // Lloyd's k-means EXACT through the hash gate — the training step
    // under IVF/PQ/SemDeDup (those lanes use Spark ML's float k-means
    // and are rows-only; this lane pins the ALGORITHM itself): k=4
    // centroids seeded from vec_id 0..3, two (assign, update) rounds,
    // final assignment emitted. All arithmetic is exact BIGINT —
    // squared-L2 over ppm components, argmin tie-broken by centroid id,
    // and the update mean uses an offset floor-division
    // ((Σx + n·OFF) div n − OFF with OFF > |x|max, so the numerator is
    // non-negative and Spark's truncating `div` equals DuckDB's
    // flooring `//`) — floats never appear, so both engines walk the
    // identical centroid trajectory. Clusters that lose every member
    // simply drop out of the next round on BOTH sides (no
    // re-seeding — deterministic and mirrored). Scale shape per round:
    // assignment = broadcast of k tiny centroid arrays against the
    // corpus (narrow, one fold per (vec, cid)); update = posexplode +
    // one map-combined (cid, dim) aggregate — k·d rows out; the corpus
    // ppm array localCheckpointed once for all five passes.
    // -----------------------------------------------------------------
    QueryDef("e_kmeans",
      (s, d) => {
        val x = ppmVecs(s, d)
        kmAssign(x, lloydFull(s, d)).orderBy(col("vec_id"))
      },
      Some(kmeansChain(iters = 2, kSql = "4", off = KmOff) +
        "\nSELECT vec_id, cid, dist FROM a3 ORDER BY vec_id")),

    // -----------------------------------------------------------------
    // IVF search EXACT through the hash gate — the serving half of the
    // mechanism e_kmeans trains (e_ann_ivf stays rows-only on its float
    // kernels; this twin pins cell pruning + probe + rerank as an
    // algorithm): corpus assigned to its nearest of the 4 trained
    // centroids (the inverted file), each probe visits its nprobe=2
    // nearest cells only, exact BIGINT squared-L2 reranks the visited
    // candidates, top-5 emitted with the exact distance. Misses against
    // brute force are BY DESIGN (that's what cell pruning means) and
    // parity-safe: the oracle replays the identical cells. Scale shape:
    // training touches a bounded sample in production, assignment is
    // one broadcast-centroid pass, and the search join fans each probe
    // out to its candidate lists only — never the corpus.
    // -----------------------------------------------------------------
    QueryDef("e_ivf_exact",
      (s, d) => {
        val x = ppmVecs(s, d)
        val cent = lloydFull(s, d)
        val cells = kmAssign(x, cent).select(col("vec_id"), col("cid"))
        val pw = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
        val probeCells = centDists(x.filter(col("vec_id") < 10), cent)
          .withColumn("rn", row_number().over(pw))
          .filter(col("rn") <= 2)
          .select(col("vec_id").as("qid"), col("cid"))
        val cand = cells.join(broadcast(probeCells), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"))
        val rw = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
        cand
          .join(x.select(col("vec_id").as("qid"), col("e").as("qe")), Seq("qid"))
          .join(x, Seq("vec_id"))
          .withColumn("dist", vf.vec_l2sq_long(col("e"), col("qe")))
          .withColumn("rank", row_number().over(rw).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("dist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(kmeansChain(iters = 2, kSql = "4", off = KmOff) +
        """,
          |cells AS (SELECT vec_id, cid FROM a3),
          |pc AS (
          |  SELECT vec_id AS qid, cid FROM (
          |    SELECT vec_id, cid,
          |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          |    FROM d3 WHERE vec_id < 10) r WHERE rn <= 2),
          |cand AS (
          |  SELECT pc.qid, cells.vec_id
          |  FROM pc JOIN cells ON cells.cid = pc.cid
          |  WHERE cells.vec_id <> pc.qid),
          |cd AS (
          |  SELECT c.qid, c.vec_id,
          |         CAST(SUM((xq.x - xv.x) * (xq.x - xv.x)) AS BIGINT) AS dist
          |  FROM cand c
          |  JOIN xp xq ON xq.vec_id = c.qid
          |  JOIN xp xv ON xv.vec_id = c.vec_id AND xv.dim = xq.dim
          |  GROUP BY c.qid, c.vec_id),
          |rk AS (
          |  SELECT qid, vec_id, dist,
          |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
          |  FROM cd)
          |SELECT qid, rank, vec_id AS neighbor_id, dist
          |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // Hyperplane-LSH search EXACT through the hash gate (e_ann_lsh
    // stays rows-only on its float kernels): the bucket is the 4-bit
    // sign pattern of the FIRST FOUR e_rand_proj planes (same Knuth
    // sign table — one shared hyperplane family across the lanes), each
    // probe visits its own bucket plus the four Hamming-1 neighbors
    // (multiprobe), exact BIGINT squared-L2 reranks the visited
    // candidates, top-5 with distances. Misses vs brute force are the
    // method (bucket pruning); parity-safe because the oracle replays
    // identical buckets. Scale: the signature map is narrow; the search
    // join fans each probe to 5 of 16 buckets, never the corpus.
    // -----------------------------------------------------------------
    QueryDef("e_lsh_exact",
      (s, d) => {
        val x = ppmVecs(s, d)
        val sg = StageArtifacts.cached(s, s"lsh_sig#$d") {
          x.select(col("vec_id"), col("e"), expr(
            """aggregate(sequence(0, 3), CAST(0 AS BIGINT), (acc, j) -> acc + IF(
              |  aggregate(sequence(0, size(e) - 1), CAST(0 AS BIGINT), (a, i) -> a + CASE
              |    WHEN ((CAST(i * 8 + j + 1 AS BIGINT) * CAST(2654435761 AS BIGINT)) div 65536) % 2 = 0
              |    THEN e[i] ELSE -e[i] END) >= 0,
              |  shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""".stripMargin).as("sig"))
            .localCheckpoint() // the bucket index: probe buckets AND the candidate join
        }
        val pb = sg.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"),
            explode(expr("transform(array(0, 1, 2, 4, 8), m -> sig ^ m)")).as("pb"))
        val rw = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
        sg.join(broadcast(pb), col("sig") === col("pb"))
          .filter(col("vec_id") =!= col("qid"))
          .join(x.select(col("vec_id").as("qid"), col("e").as("qe")), Seq("qid"))
          .withColumn("dist", vf.vec_l2sq_long(col("e"), col("qe")))
          .withColumn("rank", row_number().over(rw).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("dist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id, list_transform(embedding,
             |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
             |  FROM embeddings),
             |xp AS (
             |  SELECT vec_id, u.i AS dim, e[u.i + 1] AS x
             |  FROM q, LATERAL unnest(range(0, len(e))) AS u(i)),
             |pr AS (
             |  SELECT vec_id, uj.j AS j,
             |         SUM(CASE WHEN ((CAST(xp.dim * 8 + uj.j + 1 AS BIGINT) * 2654435761) // 65536) % 2 = 0
             |                  THEN xp.x ELSE -xp.x END) AS p
             |  FROM xp, LATERAL unnest(range(0, 4)) AS uj(j)
             |  GROUP BY vec_id, uj.j),
             |sg AS (
             |  SELECT vec_id, CAST(SUM(CASE WHEN p >= 0 THEN CAST(1 AS BIGINT) << j
             |                               ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
             |  FROM pr GROUP BY vec_id),
             |pb AS (
             |  SELECT vec_id AS qid, xor(sig, CAST(m.m AS BIGINT)) AS pb
             |  FROM sg, LATERAL unnest([0, 1, 2, 4, 8]) AS m(m)
             |  WHERE vec_id < 10),
             |cand AS (
             |  SELECT pb.qid, s2.vec_id
             |  FROM pb JOIN sg s2 ON s2.sig = pb.pb
             |  WHERE s2.vec_id <> pb.qid),
             |cd AS (
             |  SELECT c.qid, c.vec_id,
             |         CAST(SUM((xq.x - xv.x) * (xq.x - xv.x)) AS BIGINT) AS dist
             |  FROM cand c
             |  JOIN xp xq ON xq.vec_id = c.qid
             |  JOIN xp xv ON xv.vec_id = c.vec_id AND xv.dim = xq.dim
             |  GROUP BY c.qid, c.vec_id),
             |rk AS (
             |  SELECT qid, vec_id, dist,
             |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
             |  FROM cd)
             |SELECT qid, rank, vec_id AS neighbor_id, dist
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // SQ8 scalar quantization EXACT through the hash gate (e_ann_sq8
    // stays rows-only on its float kernels): per-dim corpus min/max →
    // 8-bit code (x − mn) · 255 div (mx − mn) → asymmetric scoring
    // (full-precision probe vs RECONSTRUCTED candidate, mn + c·(mx −
    // mn) div 255) — quantize, reconstruct, and ADC rank all in exact
    // BIGINT (every numerator non-negative, so trunc ≡ floor on both
    // engines). SQ8 compresses, it does not prune: every probe scores
    // the full corpus through codes, then top-5. Scale: the per-dim
    // stats are a d-row broadcast; scoring is one pass over codes.
    // -----------------------------------------------------------------
    QueryDef("e_sq8_exact",
      (s, d) => {
        val x = ppmVecs(s, d)
        // dim-EXPANSION of the embedding table (one row per (vec, dim),
        // 64x the vec count) — the corpus-expansion artifact class that
        // must live on disk, not in resident checkpoint blocks (r12
        // 100x-curve lesson; feeds stats, codes, and probe sides)
        val xp = StageArtifacts.cachedParquet(s, s"sq8_xp#$d") {
          x.select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "xv")))
        }
        val stats = xp.groupBy(col("dim"))
          .agg(min(col("xv")).as("mn"), max(col("xv")).as("mx"))
        val recon = xp.join(broadcast(stats), Seq("dim"))
          .withColumn("code", expr(
            "IF(mx > mn, (xv - mn) * 255 div (mx - mn), CAST(0 AS BIGINT))"))
          .select(col("vec_id"), col("dim"),
            expr("mn + code * (mx - mn) div 255").as("rv"))
        val probes = xp.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("dim"), col("xv").as("qx"))
        val rw = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
        recon.join(broadcast(probes), Seq("dim"))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(expr("(qx - rv) * (qx - rv)")).cast("long").as("dist"))
          .withColumn("rank", row_number().over(rw).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("dist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id, list_transform(embedding,
             |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
             |  FROM embeddings),
             |xp AS (
             |  SELECT vec_id, u.i AS dim, e[u.i + 1] AS x
             |  FROM q, LATERAL unnest(range(0, len(e))) AS u(i)),
             |st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM xp GROUP BY dim),
             |rc AS (
             |  SELECT xp.vec_id, xp.dim,
             |         st.mn + (CASE WHEN st.mx > st.mn
             |                       THEN (xp.x - st.mn) * 255 // (st.mx - st.mn)
             |                       ELSE 0 END) * (st.mx - st.mn) // 255 AS rv
             |  FROM xp JOIN st ON st.dim = xp.dim),
             |cd AS (
             |  SELECT p.vec_id AS qid, rc.vec_id,
             |         CAST(SUM((p.x - rc.rv) * (p.x - rc.rv)) AS BIGINT) AS dist
             |  FROM xp p JOIN rc ON rc.dim = p.dim AND rc.vec_id <> p.vec_id
             |  WHERE p.vec_id < 10
             |  GROUP BY p.vec_id, rc.vec_id),
             |rk AS (
             |  SELECT qid, vec_id, dist,
             |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
             |  FROM cd)
             |SELECT qid, rank, vec_id AS neighbor_id, dist
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // -----------------------------------------------------------------
    // SemDeDup EXACT through the hash gate (e_semantic_dedup stays
    // rows-only: its float-cosine greedy chain is order-dependent).
    // This twin pins the deterministic DOMINANCE variant of the same
    // idea: k-means cells bound who is compared (the SemDeDup insight —
    // never all pairs), and within a cell a vector is a duplicate iff
    // some LOWER-id cell-mate sits within squared-L2 TAU; dup_of = the
    // smallest such id, −1 when kept. Unlike the greedy chain (where
    // removing B can save C), the dominance rule is a pure function of
    // the pair set — deterministic, partition-invariant, and exactly
    // SQL-expressible. Scale: the pair stage is per-cell (the cells ARE
    // the blocking), never corpus-wide.
    // -----------------------------------------------------------------
    QueryDef("e_semdedup_exact",
      (s, d) => {
        val x = ppmVecs(s, d)
        // round 9 (the measured 10x soak): cell count SCALES WITH n —
        // k = max(4, n div 1250) keeps the mean cell ~1250 vectors, so
        // in-cell pair work grows LINEARLY with the corpus (SemDeDup's
        // own configuration: cluster count grows with the dataset;
        // fixed k=4 measured 48x at 10x data — pairs are n²/k). Integer
        // div on a row count is engine-identical, and at the driver
        // SFs (n ≤ 5000) k stays 4, so the existing oracles are
        // byte-unchanged; the oracle recomputes the same k from
        // COUNT(*).
        val k = math.max(4L, embCount(s, d) / 1250L)
        val cent =
          if (k == 4L) lloydFull(s, d)
          else StageArtifacts.cached(s, s"lloyd2k#$d#$k") {
            lloyd(x, iters = 2, k = k).localCheckpoint()
          }
        val cells = kmAssign(x, cent).select(col("vec_id"), col("cid"))
          .join(x, Seq("vec_id"))
          .localCheckpoint() // both sides of the per-cell pair join
        // salt the pair join: at driver SFs k is fixture-sized (4
        // cells), so a plain cid-keyed shuffle caps parallelism at k
        // tasks — the standard skew salt (one salt per left row, right
        // side replicated) spreads each cell's pair set across 8·k
        // tasks; it stays useful for hot cells at any k.
        val a = cells.withColumn("salt", pmod(col("vec_id"), lit(8)))
        val b = cells.withColumn("salt", explode(expr("sequence(0, 7)")))
        val dup = a.as("a")
          .join(b.as("b"), Seq("cid", "salt"))
          .filter(col("b.vec_id") < col("a.vec_id"))
          .withColumn("dist", vf.vec_l2sq_long(col("a.e"), col("b.e")))
          .filter(col("dist") <= 1200000000000L)
          .groupBy(col("a.vec_id").as("vec_id"))
          .agg(min(col("b.vec_id")).as("dup_of"))
        x.select(col("vec_id")).join(dup, Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
          .orderBy(col("vec_id"))
      },
      Some(kmeansChain(iters = 2,
        kSql = "GREATEST(4, (SELECT COUNT(*) FROM embeddings) // 1250)",
        off = KmOff) +
        """,
          |cells AS (
          |  SELECT a3.vec_id, a3.cid, q.e
          |  FROM a3 JOIN q ON q.vec_id = a3.vec_id),
          |pairs AS (
          |  SELECT a.vec_id, MIN(b.vec_id) AS dup_of
          |  FROM cells a JOIN cells b
          |    ON a.cid = b.cid AND b.vec_id < a.vec_id
          |  WHERE list_sum(list_transform(list_zip(a.e, b.e),
          |          z -> (z[1] - z[2]) * (z[1] - z[2]))) <= 1200000000000
          |  GROUP BY a.vec_id)
          |SELECT q.vec_id, COALESCE(p.dup_of, -1) AS dup_of
          |FROM q LEFT JOIN pairs p ON p.vec_id = q.vec_id
          |ORDER BY q.vec_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Product quantization EXACT through the hash gate (e_ann_pq /
    // e_ann_ivfpq stay rows-only on their float kernels): the 64-dim
    // space splits into M=4 subspaces of 16, each trained by the same
    // exact integer Lloyd (k=4, 2 rounds) on its slice; a vector's code
    // is its per-subspace nearest-centroid id (4 × 2 bits), and ADC
    // scoring is the table lookup PQ is famous for — the probe's
    // distance to each subspace centroid is computed ONCE (a ≤160-row
    // table) and a candidate's distance is the sum of 4 lookups by its
    // code. Quantize, code, and rank all in exact BIGINT; top-5 per
    // probe with the ADC distance. Scale: codes are one narrow pass,
    // the lookup tables are a broadcast, scoring never touches the
    // original vectors.
    // -----------------------------------------------------------------
    QueryDef("e_pq_exact",
      (s, d) => {
        val x = ppmVecs(s, d)
        val parts = (0 until 4).map { m =>
          val xm = x.select(col("vec_id"), expr(s"slice(e, ${m * 16 + 1}, 16)").as("e"))
          val cent = StageArtifacts.cached(s, s"pq_cb#$d#$m") {
            lloyd(xm, iters = 2).localCheckpoint() // subspace codebook = index build
          }
          val codes = kmAssign(xm, cent)
            .select(col("vec_id"), lit(m).as("m"), col("cid"))
          val dt = centDists(xm.filter(col("vec_id") < 10), cent)
            .select(col("vec_id").as("qid"), lit(m).as("m"), col("cid"), col("dist"))
          (codes, dt)
        }
        val codes = parts.map(_._1).reduce(_ union _)
        val dt = parts.map(_._2).reduce(_ union _)
        val rw = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
        codes.join(broadcast(dt), Seq("m", "cid"))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("dist")).cast("long").as("dist"))
          .withColumn("rank", row_number().over(rw).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("dist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(pqOracleSql(m = 4, width = 16))),

    // -----------------------------------------------------------------
    // IVF-PQ EXACT through the hash gate — the FAISS IVFADC composition
    // with RESIDUAL encoding, which neither e_ivf_exact nor e_pq_exact
    // alone pins (e_ann_ivfpq stays rows-only on its float kernels):
    // coarse cells from the full-space Lloyd; PQ codebooks trained on
    // the RESIDUALS (x − cell centroid), sliced into M=4 × 16 dims;
    // each probe visits its nprobe=2 nearest cells, builds a per-cell
    // ADC table from ITS residual against that cell (q − c_cell), and
    // scores a candidate as the sum of 4 table lookups by the
    // candidate's code. All exact BIGINT; top-5 with the ADC distance.
    // Scale: the residual pass is narrow, the ADC tables are a ≤320-row
    // broadcast, scoring joins candidates to 4 code rows each — the
    // original vectors are never touched after encoding.
    // -----------------------------------------------------------------
    QueryDef("e_ivfpq_exact",
      (s, d) => {
        val x = ppmVecs(s, d)
        val cent = lloydFull(s, d)
        val cells = kmAssign(x, cent).select(col("vec_id"), col("cid"))
        val xr = StageArtifacts.cached(s, s"ivfpq_res#$d") {
          x.join(kmAssign(x, cent).select(col("vec_id"), col("cid")), "vec_id")
            .join(cent, "cid")
            .select(col("vec_id"), col("cid"),
              vf.vec_sub_long(col("e"), col("c")).as("e"))
            .localCheckpoint() // residuals feed 4 trainings + 4 code passes
        }
        val parts = (0 until 4).map { m =>
          val xm = xr.select(col("vec_id"), expr(s"slice(e, ${m * 16 + 1}, 16)").as("e"))
          val cb = StageArtifacts.cached(s, s"ivfpq_cb#$d#$m") {
            lloyd(xm, iters = 2).localCheckpoint() // codebook: codes + ADC tables
          }
          val codes = kmAssign(xm, cb)
            .select(col("vec_id"), lit(m).as("m"), col("cid").as("code"))
          (cb, codes)
        }
        val codes = parts.map(_._2).reduce(_ union _)
        val pw = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
        val probeCells = centDists(x.filter(col("vec_id") < 10), cent)
          .withColumn("rn", row_number().over(pw))
          .filter(col("rn") <= 2)
          .select(col("vec_id").as("qid"), col("cid"))
        val pr = probeCells
          .join(x.select(col("vec_id").as("qid"), col("e").as("qe")), Seq("qid"))
          .join(cent, Seq("cid"))
          .select(col("qid"), col("cid"),
            vf.vec_sub_long(col("qe"), col("c")).as("re"))
        val dt = parts.zipWithIndex.map { case ((cb, _), m) =>
          pr.select(col("qid"), col("cid"), expr(s"slice(re, ${m * 16 + 1}, 16)").as("e"))
            .crossJoin(broadcast(cb.select(col("cid").as("code"), col("c"))))
            .select(col("qid"), col("cid"), lit(m).as("m"), col("code"),
              vf.vec_l2sq_long(col("e"), col("c")).as("dist"))
        }.reduce(_ union _)
        val cand = cells.join(broadcast(probeCells), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
        val rw = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
        cand.join(codes, Seq("vec_id"))
          .join(broadcast(dt), Seq("qid", "cid", "m", "code"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("dist")).cast("long").as("dist"))
          .withColumn("rank", row_number().over(rw).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("dist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfpqOracleSql(m = 4, width = 16)))
  )

  /** Generated oracle for e_ivfpq_exact: the full-space chain gives
    * cells (a3) and probe-cell ranking (d3); residuals feed M suffixed
    * subspace chains; per-(probe, visited-cell) ADC tables come from
    * the probe's residual against each final subspace codebook c2_m. */
  private def ivfpqOracleSql(m: Int, width: Int): String = {
    val subs = (0 until m).map { i =>
      s"""xs$i AS (SELECT vec_id, dim, x FROM xr
         |         WHERE dim >= ${i * width} AND dim < ${(i + 1) * width})""".stripMargin +
        ",\n" + lloydCtes(2, "4", KmOff, s"_$i", s"xs$i")
    }
    val codes = (0 until m)
      .map(i => s"SELECT vec_id, $i AS m, cid AS code FROM a3_$i").mkString(" UNION ALL ")
    val dt = (0 until m)
      .map(i =>
        s"""SELECT p.qid, p.cid, $i AS m, cb.cid AS code,
           |       CAST(SUM((p.x - cb.c) * (p.x - cb.c)) AS BIGINT) AS dist
           |FROM prx p JOIN c2_$i cb ON cb.dim = p.dim
           |GROUP BY p.qid, p.cid, cb.cid""".stripMargin)
      .mkString(" UNION ALL ")
    kmeansChain(iters = 2, kSql = "4", off = KmOff) +
      s""",
         |xr AS (
         |  SELECT xp.vec_id, xp.dim, xp.x - c.c AS x
         |  FROM xp JOIN a3 ON a3.vec_id = xp.vec_id
         |  JOIN c2 c ON c.cid = a3.cid AND c.dim = xp.dim),
         |${subs.mkString(",\n")},
         |codes AS ($codes),
         |pc AS (
         |  SELECT vec_id AS qid, cid FROM (
         |    SELECT vec_id, cid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d3 WHERE vec_id < 10) r WHERE rn <= 2),
         |prx AS (
         |  SELECT pc.qid, pc.cid, xp.dim, xp.x - c.c AS x
         |  FROM pc JOIN xp ON xp.vec_id = pc.qid
         |  JOIN c2 c ON c.cid = pc.cid AND c.dim = xp.dim),
         |dt AS ($dt),
         |cand AS (
         |  SELECT pc.qid, a3.cid, a3.vec_id
         |  FROM pc JOIN a3 ON a3.cid = pc.cid
         |  WHERE a3.vec_id <> pc.qid),
         |sc AS (
         |  SELECT cd.qid, cd.vec_id, CAST(SUM(dt.dist) AS BIGINT) AS dist
         |  FROM cand cd
         |  JOIN codes co ON co.vec_id = cd.vec_id
         |  JOIN dt ON dt.qid = cd.qid AND dt.cid = cd.cid
         |         AND dt.m = co.m AND dt.code = co.code
         |  GROUP BY cd.qid, cd.vec_id),
         |rk AS (
         |  SELECT qid, vec_id, dist,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
         |  FROM sc)
         |SELECT qid, rank, vec_id AS neighbor_id, dist
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** Offset for the exact k-means mean update: > |ppm component|max, so
    * (Σx + n·OFF) is non-negative and Spark's truncating `div` equals
    * DuckDB's flooring `//`. MUST stay a compile-time constant (`final`,
    * no type annotation): `all` above initializes before ordinary vals
    * in this object, and a non-constant here would bake 0 into the
    * oracle SQL. */
  private final val KmOff = 4194304L

  /** Corpus embeddings quantized to exact BIGINT ppm components,
    * localCheckpointed once — every k-means/IVF pass re-reads it. The
    * repartition spreads the one-file scan so the checkpoint (and every
    * distance fold over it) is parallel, not single-partition; the
    * count must be EXPLICIT or AQE coalesces the small shuffle back to
    * one partition. */
  private def ppmVecs(s: SparkSession, d: String): DataFrame =
    StageArtifacts.cached(s, s"ppm#$d") {
      // compiled micros quantization (r14): the interpreted
      // transform(embedding, v -> CAST(floor(...))) evaluated its
      // lambda per ELEMENT — 64 interpreted evals per vector on the
      // artifact build every exact embedding lane shares
      embeddings(s, d).select(col("vec_id"),
        vf.vec_quantize_ppm(col("embedding"))
          .as("e"))
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .localCheckpoint()
    }

  /** Full-space 2-round Lloyd centroids over [[ppmVecs]] — the ONE
    * training e_kmeans/e_ivf_exact/e_ivfpq_exact (and, at driver SFs,
    * e_semdedup_exact) all share; built once per (session, SF) like
    * any index. */
  private def lloydFull(s: SparkSession, d: String): DataFrame =
    StageArtifacts.cached(s, s"lloyd2#$d") {
      lloyd(ppmVecs(s, d), iters = 2).localCheckpoint()
    }

  /** Corpus row count per (session, SF) — sizes the scaled cell counts.
    * Lives in [[StageArtifacts]] so it shares the unique session tag and
    * ApplicationEnd eviction (round-10 ADVICE fix). */
  private def embCount(s: SparkSession, d: String): Long =
    StageArtifacts.cachedLong(s, s"embCount#$d")(embeddings(s, d).count())

  /** All (vec, centroid) exact squared-L2 distances: broadcast of the k
    * tiny centroid arrays against the corpus — narrow, one fold each. */
  private def centDists(x: DataFrame, cent: DataFrame): DataFrame =
    x.crossJoin(broadcast(cent))
      .withColumn("dist", vf.vec_l2sq_long(col("e"), col("c")))
      .select(col("vec_id"), col("cid"), col("dist"))

  /** Nearest centroid per vector, argmin tie-broken by centroid id. */
  private def kmAssign(x: DataFrame, cent: DataFrame): DataFrame =
    centDists(x, cent)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))

  /** `iters` exact Lloyd rounds from centroids seeded at vec_id 0..3:
    * offset floor-division mean update (see KmOff); emptied clusters
    * drop out deterministically. Update = posexplode + one map-combined
    * (cid, dim) aggregate — k·d rows out per round. */
  private def lloyd(x: DataFrame, iters: Int, k: Long = 4L): DataFrame = {
    var cent = x.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("e").as("c"))
    for (_ <- 1 to iters) {
      cent = kmAssign(x, cent).join(x, "vec_id")
        .select(col("cid"), posexplode(col("e")).as(Seq("dim", "xp")))
        .groupBy(col("cid"), col("dim"))
        .agg(expr(s"(sum(xp) + count(1) * ${KmOff}L) div count(1) - ${KmOff}L").as("cp"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, cp))), t -> t.cp)").as("c"))
    }
    cent
  }

  /** `WITH q, xp` prologue shared by every generated-oracle here. MUST
    * stay a def: `all` above initializes before ordinary vals in this
    * object (see KmOff). */
  private def ppmHead: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
      |  FROM embeddings),
      |xp AS (
      |  SELECT vec_id, u.i AS dim, e[u.i + 1] AS x
      |  FROM q, LATERAL unnest(range(0, len(e))) AS u(i))""".stripMargin

  /** DuckDB WITH-chain shared by e_kmeans/e_ivf_exact/e_semdedup_exact:
    * the (distance, assign, update) CTEs are GENERATED per round — one
    * source of truth for the exact integer update rule on both engines
    * (the d_hits discipline). Ends at d{iters+1}/a{iters+1}
    * (full-corpus distances and assignment against the final
    * centroids). */
  private def kmeansChain(iters: Int, kSql: String, off: Long): String =
    ppmHead + ",\n" + lloydCtes(iters, kSql, off, sfx = "", src = "xp")

  /** One Lloyd CTE chain over `src` (a (vec_id, dim, x) relation) with
    * every CTE name suffixed — e_pq_exact runs four of these, one per
    * dim-sliced subspace, next to each other in a single WITH. */
  private def lloydCtes(iters: Int, kSql: String, off: Long,
                        sfx: String, src: String): String = {
    val head =
      s"c0$sfx AS (SELECT vec_id AS cid, dim, x AS c FROM $src WHERE vec_id < ($kSql))"
    val steps = (1 to (iters + 1)).map { i =>
      val dist =
        s"""d$i$sfx AS (
           |  SELECT xp.vec_id, c.cid, CAST(SUM((xp.x - c.c) * (xp.x - c.c)) AS BIGINT) AS dist
           |  FROM $src xp JOIN c${i - 1}$sfx c ON c.dim = xp.dim
           |  GROUP BY xp.vec_id, c.cid),
           |a$i$sfx AS (
           |  SELECT vec_id, cid, dist FROM (
           |    SELECT vec_id, cid, dist,
           |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d$i$sfx) r WHERE rn = 1)""".stripMargin
      if (i <= iters)
        dist + ",\n" +
          s"""c$i$sfx AS (
             |  SELECT a.cid, xp.dim,
             |         (SUM(xp.x) + COUNT(*) * $off) // COUNT(*) - $off AS c
             |  FROM a$i$sfx a JOIN $src xp ON xp.vec_id = a.vec_id
             |  GROUP BY a.cid, xp.dim)""".stripMargin
      else dist
    }
    (head +: steps).mkString(",\n")
  }

  /** Generated oracle for e_pq_exact: M side-by-side subspace Lloyd
    * chains, then codes = a3_m, ADC lookup tables = d3_m (the probe→
    * centroid distances the chain already computed — PQ's table-lookup
    * structure falls straight out), exact sum + rank. */
  private def pqOracleSql(m: Int, width: Int): String = {
    val subs = (0 until m).map { i =>
      s"""xs$i AS (SELECT vec_id, dim, x FROM xp
         |         WHERE dim >= ${i * width} AND dim < ${(i + 1) * width})""".stripMargin +
        ",\n" + lloydCtes(2, "4", KmOff, s"_$i", s"xs$i")
    }
    val codes = (0 until m)
      .map(i => s"SELECT vec_id, $i AS m, cid FROM a3_$i").mkString(" UNION ALL ")
    val dt = (0 until m)
      .map(i => s"SELECT vec_id, $i AS m, cid, dist FROM d3_$i").mkString(" UNION ALL ")
    ppmHead + ",\n" + subs.mkString(",\n") + ",\n" +
      s"""codes AS ($codes),
         |dt AS ($dt),
         |adc AS (
         |  SELECT dt.vec_id AS qid, c.vec_id, CAST(SUM(dt.dist) AS BIGINT) AS dist
         |  FROM codes c JOIN dt ON dt.m = c.m AND dt.cid = c.cid
         |  WHERE dt.vec_id < 10 AND c.vec_id <> dt.vec_id
         |  GROUP BY dt.vec_id, c.vec_id),
         |rk AS (
         |  SELECT qid, vec_id, dist,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
         |  FROM adc)
         |SELECT qid, rank, vec_id AS neighbor_id, dist
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }
}
