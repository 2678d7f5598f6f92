package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{QueryDef, Tables}
import graft.functions.{VariantFunctions => vf}

/** Near-duplicate detection pipelines for training-data curation.
  *
  * Scale design (the part that matters at 100 TB):
  *  - MinHash LSH: tokens → k-slot signature (map-only) → band buckets
  *    (explode k/r rows per doc) → shuffle on (band, bucket-hash) →
  *    pairs only within buckets → exact-Jaccard verification on the
  *    (tiny) candidate set. Candidate generation is the ONLY shuffle and
  *    its width is the bucket histogram, not n².
  *  - SimHash: one 64-bit signature per doc (map-only), bucket on the
  *    top 16 bits → Hamming verification within buckets.
  * Both avoid any O(n²) stage; the brute-force same-source Jaccard in
  * TextQueries is the small-scale exact oracle for recall testing.
  */
object Dedup {
  import TextAnalysis.tokens

  /** Word n-gram shingles: the standard MinHash input. Unigram token
    * SETS collapse on small vocabularies (every long doc contains every
    * word → all docs near-identical → LSH buckets degenerate to O(n²));
    * shingles keep word ORDER, so only genuinely overlapping text
    * collides.
    */
  def shingles(tokensCol: String, n: Int): Column =
    // compiled kernel; semantics pinned to the HOF form
    // transform(sequence(0, greatest(size(t)-n, 0)),
    //           i -> concat_ws(' ', slice(t, i+1, n)))
    // it replaced (WordNgramsSpec) — HOF lambdas evaluate interpreted
    // per element, the r13 hot-path defect class
    vf.word_ngrams(col(tokensCol), n)

  /** docs(id, toks) → candidate id pairs (id_a < id_b) sharing ≥ 1 LSH
    * band bucket; verification is the caller's job (minhashDedup).
    */
  def minhashCandidates(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Single-expression banding: signature + per-band bucket hash in one
    // eval (a lambda over slice(sig, ...) would re-evaluate the
    // signature once per band after project collapse).
    // The exploded rows carry ONLY (id, band, bucket): shuffling the
    // token arrays bands-times per doc costs more than the whole rest of
    // the pipeline; tokens rejoin the (small) surviving candidate set
    // afterwards.
    val banded = docs
      .withColumn("bandArr", graft.functions.VariantFunctions.minhash_bands(
        col("toks"), numHashes, bands))
      .filter(col("bandArr").isNotNull)
      .select(col("id"), posexplode(col("bandArr")).as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact-verified near-dups above `threshold` from the LSH candidates,
    * over `shingleSize`-gram shingle sets. The expensive shingle+
    * signature map runs ONCE over the corpus; exact verification
    * re-derives shingles only for the (tiny) candidate pair set.
    */
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.7, shingleSize: Int = 3): DataFrame = {
    val raw = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    def sortedShinglesOf(c: String): Column = array_sort(array_distinct(
      graft.functions.VariantFunctions.shingle_tokens(col(c), shingleSize)))
    val toks = raw
      // a small input file arrives as ONE partition; spread rows before
      // the CPU-heavy shingle+signature map or it runs single-threaded
      // (explicit count — AQE coalesces a countless keyed repartition
      // of a small input right back to one partition)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"), sortedShinglesOf("text").as("toks"))
    val cand = minhashCandidates(toks, numHashes, bands)
    cand
      .join(raw.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(raw.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .withColumn("jac",
        graft.functions.VariantFunctions.jaccard_sorted(
          sortedShinglesOf("text_a"), sortedShinglesOf("text_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Weighted near-dup pairs: multiset MinHash signatures
    * (weighted_minhash_signature — slot-match probability = WEIGHTED
    * Jaccard) banded for candidates, then EXACT Σmin(tf)/Σmax(tf)
    * verification in integer ppm over the candidate pairs only. The
    * scale path for `d_weighted_jaccard`'s exact join: signatures are
    * one map pass, the shuffle carries (id, band, bucket) only, and
    * the tf-vector join touches candidate pairs, never all pairs.
    * Element MULTISET on purpose (no distinct): tf weighting is the
    * point — boilerplate-heavy near-dups that set-MinHash scores as
    * unrelated keep their similarity here. Elements are word BIGRAMS
    * (with repeats), not unigrams: measured on the fixture, unigram tf
    * vectors of UNRELATED docs already reach wJ 0.34 median / 0.64 max
    * (shared vocabulary, no shared phrasing — the same trap §7.7
    * records for unigram set-Jaccard), while bigram wJ of unrelated
    * docs is ≤0.12 and true edits stay ≥0.6 — clean separation.
    */
  def weightedMinhashDedup(docs: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 128, bands: Int = 32,
                           thresholdPpm: Long = 500000L): DataFrame = {
    val raw = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    // Materialize the bigram arrays and the banded buckets ONCE
    // (localCheckpoint): both sides of the bucket self-join AND the
    // tf verification would otherwise re-run the tokenize+signature
    // chain — measured 3 recomputes ≈ 3x the whole query's cost.
    val toks = raw
      // explicit count — see minhashDedup on AQE coalescing
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .withColumn("w", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("w")) >= 2)
      .select(col("id"), shingles("w", 2).as("toks"))
      // DISK_ONLY: the bigram arrays are corpus-TEXT-sized (≈2× the
      // input text) — the residency-cliff class from the r12 100×
      // curve. Disk blocks keep the recompute-avoidance and lineage
      // truncation with zero heap pinned (same tier rule as the
      // StageArtifacts parquet artifacts; this frame is per-run, so a
      // checkpoint, not a cached artifact).
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val banded = toks
      .withColumn("bandArr", graft.functions.VariantFunctions.minhash_bands_of(
        graft.functions.VariantFunctions.weighted_minhash_signature(col("toks"), numHashes),
        bands))
      .filter(col("bandArr").isNotNull)
      .select(col("id"), posexplode(col("bandArr")).as(Seq("band", "bucket")))
      .localCheckpoint()
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Exact Σmin/Σmax verification in the same expansion-free shape as
    // wminhashMd5On (see that comment for the measured 30x cliff the
    // per-(pair, tok) aggregation hits): per-doc SORTED tf entries,
    // pair↔entries hash joins, one compiled merge walk per pair
    // (SumMinTfSorted), Σmax = Σtf_a + Σtf_b − Σmin.
    val tf = toks.select(col("id"), explode(col("toks")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val docmap = tf.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("tok"), col("tf")))).as("ent"),
        sum(col("tf")).as("stf"))
    val ma = docmap.select(col("id").as("ja"), col("ent").as("e_a"),
      col("stf").as("s_a"))
    val mb = docmap.select(col("id").as("jb"), col("ent").as("e_b"),
      col("stf").as("s_b"))
    cand
      .join(ma.hint("SHUFFLE_HASH"), col("id_a") === col("ja"))
      .join(mb.hint("SHUFFLE_HASH"), col("id_b") === col("jb"))
      .select(col("id_a"), col("id_b"),
        vf.sum_min_tf_sorted(col("e_a"), col("e_b")).as("smin"),
        (col("s_a") + col("s_b")).as("stot"))
      .select(col("id_a"), col("id_b"),
        expr("smin * 1000000 DIV (stot - smin)").as("wj_ppm"))
      .filter(col("wj_ppm") >= thresholdPpm)
  }

  /** SimHash near-dups: bucket by signature prefix, verify by Hamming
    * distance ≤ maxHamming within buckets.
    */
  def simhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 8, prefixBits: Int = 12): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"),
        vf.simhash64(tokens(textCol)).as("sig"))
      .withColumn("bucket", shiftrightunsigned(col("sig"), 64 - prefixBits))
    val a = sigs.select(col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }
}

/** Dedup queries. LSH/SimHash results are approximate-candidate-based —
  * not ANSI-SQL-expressible — so these entries carry no oracle (driver
  * records the weaker rows-only check); the ScalaTest suite instead
  * asserts recall/precision against the exact Jaccard query.
  */
object DedupQueries {
  import Tables._

  val all: Seq[QueryDef] = Seq(
    QueryDef("d_minhash_lsh",
      (s, d) => Dedup.minhashDedup(documents(s, d), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      None),

    QueryDef("d_simhash",
      (s, d) => Dedup.simhashDedup(documents(s, d), "doc_id", "text", maxHamming = 12)
        .orderBy(col("id_a"), col("id_b")),
      None),

    // Weighted-Jaccard LSH near-dups (rows-only: candidate generation
    // is signature-dependent; the exact-wJ verification and recall
    // floor vs the brute-force reference are pinned in OperatorSpec).
    QueryDef("d_wminhash_lsh",
      (s, d) => Dedup.weightedMinhashDedup(documents(s, d), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      None),

    // Winnowing fingerprints per document (rolling-hash k-grams, window
    // minima): local-overlap detection primitive. Rows-only (the rolling
    // hash is not SQL-expressible); overlap guarantees are unit-tested.
    QueryDef("d_winnow",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          graft.functions.VariantFunctions.winnow_fingerprints(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fps"),
          element_at(col("fps"), 1).as("min_fp"))
        .orderBy(col("doc_id")),
      None),

    // The FULL MinHash-LSH pipeline through the hash gate. The main
    // lane (d_minhash_lsh) is rows-only because its signature kernel
    // (xxhash-based, codegen'd) has no cross-engine twin — but the
    // ALGORITHM is deterministic, and with md5 as the hash family
    // (bit-identical builtin on both engines; seed k prepended, min
    // taken over the lexicographic hex ordering both engines share)
    // every stage is SQL-expressible: 3-gram shingles → 8-slot
    // signature → 4 banded buckets (md5 of the band's slot pair) →
    // bucket self-join candidates → exact-Jaccard ppm verification.
    // So the driver record certifies the PIPELINE end to end —
    // banding, bucket join, verification — not just a recall floor.
    // Same scale shape as the main lane: the signature map is the only
    // corpus-wide pass, the shuffle carries (id, band, bucket) rows,
    // and verification touches candidate pairs only (md5 is ~3× the
    // xxhash kernel's cost per shingle, which is why the production
    // lane keeps xxhash). Threshold 0.5: with r=2, b=4 the candidate
    // probability at j=0.5 is 1-(1-j²)⁴ ≈ 0.68 — misses are FINE for
    // parity because the oracle replays the identical banding.
    QueryDef("d_minhash_md5",
      (s, d) => {
        // the shingle table is the lane's index-build artifact: cached
        // per (session, SF) like any signature index (round 9 — the
        // banding, bucket join, and verification below still run per
        // invocation and stay under the oracle gate)
        // corpus-TEXT-sized payload (per-doc shingle arrays) — parquet
        // on disk, not resident checkpoint blocks (r12 100x-curve
        // lesson); shingles feed banding AND verification
        val sh = StageArtifacts.cachedParquet(s, s"minhash_md5_sh#$d") {
          documents(s, d)
            .select(col("doc_id").as("id"),
              expr("regexp_extract_all(text, '\\\\S+', 0)").as("w"))
            .filter(size(col("w")) >= 3)
            .select(col("id"),
              array_distinct(vf.word_ngrams(col("w"), 3)).as("s"))
            // the signature map is CPU-heavy; spread a single-file scan
            // (explicit count: AQE would coalesce a keyed repartition of
            // this small input back to one partition)
            .repartition(s.sparkContext.defaultParallelism, col("id"))
        }
        val banded = sh
          // compiled twin of transform(sequence(1,8), k ->
          //   array_min(transform(s, x -> md5(concat(k,':',x))))) —
          // one pass, running digest minima (Md5KernelsSpec)
          .select(col("id"), vf.minhash_md5_sig(col("s"), 8).as("sig"))
          .select(col("id"), posexplode(expr(
            """transform(sequence(0, 3), b ->
              |  md5(concat(element_at(sig, 2 * b + 1), element_at(sig, 2 * b + 2))))"""
              .stripMargin)).as(Seq("band", "bucket")))
        val cand = banded.as("a")
          .join(banded.as("b"), Seq("band", "bucket"))
          .filter(col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
        cand
          .join(sh.select(col("id").as("id_a"), col("s").as("sa")), Seq("id_a"))
          .join(sh.select(col("id").as("id_b"), col("s").as("sb")), Seq("id_b"))
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("jac_ppm",
            expr("inter * 1000000 DIV (size(sa) + size(sb) - inter)"))
          .filter(col("jac_ppm") >= 500000L)
          .select(col("id_a"), col("id_b"), col("jac_ppm"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id AS id, regexp_extract_all(text, '\S+') AS w
             |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) >= 3),
             |sh AS (
             |  SELECT id, list_distinct(list_transform(range(0, len(w) - 2),
             |           i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))) AS s
             |  FROM t),
             |sig AS (
             |  SELECT id, list_transform(range(1, 9), k ->
             |           list_min(list_transform(s, x -> md5(concat(CAST(k AS VARCHAR), ':', x))))) AS sig
             |  FROM sh),
             |banded AS (
             |  SELECT id, u.b AS band, md5(concat(sig[2 * u.b + 1], sig[2 * u.b + 2])) AS bucket
             |  FROM sig, LATERAL unnest(range(0, 4)) AS u(b)),
             |cand AS (
             |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
             |v AS (
             |  SELECT c.id_a, c.id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
             |         CAST(len(sa.s) AS BIGINT) AS na, CAST(len(sb.s) AS BIGINT) AS nb
             |  FROM cand c
             |  JOIN sh sa ON sa.id = c.id_a
             |  JOIN sh sb ON sb.id = c.id_b)
             |SELECT id_a, id_b, inter * 1000000 // (na + nb - inter) AS jac_ppm
             |FROM v WHERE inter * 1000000 // (na + nb - inter) >= 500000
             |ORDER BY id_a, id_b""".stripMargin)),

    // Winnowing (Schleimer et al. 2003) through the hash gate — the
    // production d_winnow keeps the codegen'd rolling-hash kernel and
    // stays rows-only; this twin pins the SELECTION algorithm with md5
    // as the gram hash (shared lexicographic hex ordering on both
    // engines): char 7-grams → per-window-of-4 minimum keyed by
    // (hash, position) — position zero-padded into the key string so
    // the min is leftmost-minimal, deterministic and mirrored —
    // → distinct fingerprint set per doc, emitted as (count, md5
    // digest of the sorted set) so the gate pins the exact SET without
    // shipping array cells. Plan is fully NARROW (zero shuffles): every
    // stage is per-row array arithmetic, the e_rand_proj shape.
    // Guarantee under test elsewhere (OperatorSpec winnow property):
    // any match ≥ k + w - 1 = 10 chars shares a fingerprint.
    QueryDef("d_winnow_md5",
      (s, d) => documents(s, d)
        .filter(length(col("text")) >= 10)
        // ~1k md5 calls per doc: spread a single-file scan before the
        // map (explicit count: AQE would coalesce a keyed repartition
        // of this small input back to one partition)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        // compiled twin of the two-stage HOF chain
        //   g   = transform(sequence(0, length(text)-7), i ->
        //           concat(md5(substring(text, i+1, 7)), ':', lpad(i, 8, '0')))
        //   fps = array_sort(array_distinct(transform(sequence(0, size(g)-4),
        //           j -> array_min(slice(g, j+1, 4)))))
        // — minima tracked as (digest, position) in a 4-ring, key
        // strings built only for the winners (Md5KernelsSpec)
        .select(col("doc_id"), vf.winnow_fps(col("text"), 7, 4).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          expr("md5(concat_ws('', fps))").as("fp_digest"))
        .orderBy(col("doc_id")),
      Some("""WITH g AS (
             |  SELECT doc_id, list_transform(range(0, len(text) - 6), i ->
             |           md5(substr(text, i + 1, 7)) || ':' ||
             |           lpad(CAST(i AS VARCHAR), 8, '0')) AS g
             |  FROM documents WHERE len(text) >= 10),
             |f AS (
             |  SELECT doc_id, list_sort(list_distinct(list_transform(
             |           range(0, len(g) - 3),
             |           j -> list_min(list_slice(g, j + 1, j + 4))))) AS fps
             |  FROM g)
             |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
             |       md5(array_to_string(fps, '')) AS fp_digest
             |FROM f ORDER BY doc_id""".stripMargin)),

    // SimHash through the hash gate — the production d_simhash keeps
    // the codegen'd xxhash 64-bit kernel and stays rows-only; this twin
    // pins the ALGORITHM (per-bit weighted vote → signature → band
    // bucketing → Hamming verification) with a 32-bit signature whose
    // bit j is the sign of the per-token vote Σ±1, where token t votes
    // +1 on bit j iff hex digit j of md5(t) has an odd value — the md5
    // hex alphabet is the engine-shared bit source. Banding = the two
    // 16-bit halves (catch-all for Hamming ≤ 1, probabilistic above —
    // parity-safe because the oracle replays identical bands); verify =
    // popcount(xor) ≤ 6 on candidates only. Signature map is the one
    // corpus-wide pass; the shuffle carries (id, band, bucket, sig).
    QueryDef("d_simhash_md5",
      (s, d) => {
        // the signature table is the index-build artifact (round 9):
        // cached per (session, SF); banding + verify run per invocation
        val sigs = StageArtifacts.cached(s, s"simhash_md5_sig#$d") {
          documents(s, d)
            .select(col("doc_id").as("id"),
              expr("transform(regexp_extract_all(text, '\\\\S+', 0), t -> md5(t))").as("hs"))
            .filter(size(col("hs")) > 0)
            // CPU-heavy signature map: spread a single-file scan
            // (explicit count, or AQE coalesces it back to one partition)
            .repartition(s.sparkContext.defaultParallelism, col("id"))
            .select(col("id"), expr(
              """aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> acc +
                |  IF(aggregate(hs, 0, (a, h) ->
                |       a + IF(instr('13579bdf', substring(h, j + 1, 1)) > 0, 1, -1)) >= 0,
                |     shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""".stripMargin)
              .as("sig"))
            .localCheckpoint() // feeds banding AND the verify join
        }
        val banded = sigs.select(col("id"), col("sig"),
          posexplode(expr("array(sig % 65536, sig div 65536)")).as(Seq("band", "bucket")))
        banded.as("a").join(banded.as("b"), Seq("band", "bucket"))
          .filter(col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
          .dropDuplicates("id_a", "id_b")
          .withColumn("hamming",
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
          .filter(col("hamming") <= 6)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id AS id,
             |         list_transform(regexp_extract_all(text, '\S+'), t -> md5(t)) AS hs
             |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
             |sg AS (
             |  SELECT id, CAST(list_sum(list_transform(range(0, 32), j -> CASE WHEN
             |           list_sum(list_transform(hs, h -> CASE WHEN
             |             strpos('13579bdf', substr(h, j + 1, 1)) > 0
             |             THEN 1 ELSE -1 END)) >= 0
             |           THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END))
             |         AS BIGINT) AS sig
             |  FROM t),
             |banded AS (
             |  SELECT id, sig, u.b AS band,
             |         CASE WHEN u.b = 0 THEN sig % 65536 ELSE sig // 65536 END AS bucket
             |  FROM sg, LATERAL unnest(range(0, 2)) AS u(b)),
             |p AS (
             |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
             |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
             |FROM p WHERE bit_count(xor(sig_a, sig_b)) <= 6
             |ORDER BY id_a, id_b""".stripMargin)),

    // Weighted MinHash through the hash gate (d_wminhash_lsh keeps the
    // ICWS-style float kernel, rows-only): for INTEGER weights,
    // weighted Jaccard over tf multisets equals set Jaccard over the
    // expansion {(element, occurrence_index)} — so plain md5-MinHash of
    // the expanded elements IS an exact weighted MinHash, every stage
    // SQL-expressible. Elements are word BIGRAMS with repeats (the
    // production lane's choice — see weightedMinhashDedup's comment on
    // unigram-tf false positives); occurrence index = rank of the
    // bigram's position among its equals (one per-doc window);
    // signature/banding identical to d_minhash_md5; verification =
    // exact Σmin(tf)/Σmax(tf) in ppm on candidates only (the
    // d_weighted_jaccard full-outer fold). Scale shape: the bigram
    // explode is the one corpus-wide pass (localCheckpointed — it feeds
    // occurrence ranks AND tf vectors), the shuffle carries (id, band,
    // bucket) rows, verification touches candidate pairs only.
    QueryDef("d_wminhash_md5",
      (s, d) => wminhashMd5On(documents(s, d), tfCacheKey = Some((s, d)))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (
             |  SELECT doc_id AS id, regexp_extract_all(text, '\S+') AS w
             |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) >= 2),
             |bgr AS (
             |  SELECT id, array_to_string(list_slice(w, u.i + 1, u.i + 2), ' ') AS g
             |  FROM t, LATERAL unnest(range(0, len(w) - 1)) AS u(i)),
             |tfc AS (SELECT id, g, COUNT(*) AS tf FROM bgr GROUP BY id, g),
             |ex AS (
             |  SELECT id, list(g || '#' || CAST(u.j AS VARCHAR)) AS s
             |  FROM tfc, LATERAL unnest(range(0, tf)) AS u(j)
             |  GROUP BY id),
             |sig AS (
             |  SELECT id, list_transform(range(1, 9), k ->
             |           list_min(list_transform(s, x -> md5(CAST(k AS VARCHAR) || ':' || x)))) AS sig
             |  FROM ex),
             |banded AS (
             |  SELECT id, u.b AS band, md5(concat(sig[2 * u.b + 1], sig[2 * u.b + 2])) AS bucket
             |  FROM sig, LATERAL unnest(range(0, 4)) AS u(b)),
             |cand AS (
             |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
             |aa AS (SELECT c.id_a, c.id_b, t.g, t.tf FROM cand c JOIN tfc t ON t.id = c.id_a),
             |bb AS (SELECT c.id_a, c.id_b, t.g, t.tf FROM cand c JOIN tfc t ON t.id = c.id_b),
             |u2 AS (
             |  SELECT COALESCE(aa.id_a, bb.id_a) AS id_a, COALESCE(aa.id_b, bb.id_b) AS id_b,
             |         LEAST(COALESCE(aa.tf, 0), COALESCE(bb.tf, 0)) AS mn,
             |         GREATEST(COALESCE(aa.tf, 0), COALESCE(bb.tf, 0)) AS mx
             |  FROM aa FULL OUTER JOIN bb
             |    ON aa.id_a = bb.id_a AND aa.id_b = bb.id_b AND aa.g = bb.g)
             |SELECT id_a, id_b, CAST(SUM(mn) * 1000000 // SUM(mx) AS BIGINT) AS wj_ppm
             |FROM u2 GROUP BY id_a, id_b
             |HAVING CAST(SUM(mn) * 1000000 // SUM(mx) AS BIGINT) >= 500000
             |ORDER BY id_a, id_b""".stripMargin)))

  /** The d_wminhash_md5 pipeline over an arbitrary (doc_id, text)
    * frame (unsorted — the QueryDef adds the oracle's ORDER BY; the
    * ScaleProbe soak aggregates instead). See the QueryDef comment for
    * the expansion identity and scale shape. The expansion set
    * {(g, 0..tf-1)} does NOT depend on which occurrence gets which
    * index, so it comes from the tf aggregate (which the verification
    * stage needs anyway) instead of a per-position rank — one
    * map-combined shuffle instead of a window sort plus a separate tf
    * pass, and the tf table is the single checkpointed artifact. */
  def wminhashMd5On(docs: DataFrame,
      tfCacheKey: Option[(SparkSession, String)] = None): DataFrame = {
    def buildTf(checkpoint: Boolean): DataFrame = {
      val tf0 = docs
        .select(col("doc_id").as("id"),
          expr("regexp_extract_all(text, '\\\\S+', 0)").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("id"), explode(vf.word_ngrams(col("w"), 2)).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as("tf"))
      // DISK_ONLY when checkpointed per-run (the ScaleProbe soak path —
      // the QueryDef path caches as parquet instead): the tf table is
      // posting-list-sized, the residency-cliff class.
      if (checkpoint) tf0.localCheckpoint(true, StorageLevel.DISK_ONLY) else tf0
    }
    // the tf table is the lane's index-build artifact: cached per
    // (session, SF) when the caller passes a key (the QueryDef does;
    // the ScaleProbe soaks pass None and rebuild per run). It is
    // POSTING-LIST sized (a row per (doc, bigram)) — cached as parquet
    // on disk, not pinned executor memory (see
    // StageArtifacts.cachedParquet for the 100x-curve rationale).
    val tf = tfCacheKey match {
      case Some((s, d)) =>
        StageArtifacts.cachedParquet(s, s"wminhash_md5_tf#$d")(buildTf(checkpoint = false))
      case None => buildTf(checkpoint = true)
    }
    def buildBanded: DataFrame = {
      val ex = tf
        // compiled twin of transform(sequence(0, tf-1), j ->
        //   concat(g, '#', CAST(j AS STRING))) — one eval per POSTING
        // row (RepeatIndexedSpec)
        .select(col("id"), explode(vf.repeat_indexed(col("g"), col("tf"))).as("x"))
        .groupBy(col("id")).agg(collect_list(col("x")).as("s"))
      ex
        // compiled md5-signature kernel — see d_minhash_md5 above
        .select(col("id"), vf.minhash_md5_sig(col("s"), 8).as("sig"))
        .select(col("id"), posexplode(expr(
          """transform(sequence(0, 3), b ->
            |  md5(concat(element_at(sig, 2 * b + 1), element_at(sig, 2 * b + 2))))"""
            .stripMargin)).as(Seq("band", "bucket")))
    }
    // the (id, band, bucket) table IS the LSH index — the expensive
    // md5-over-expansion map amortizes with it (cached with the tf
    // artifact; the bucket join + exact verification below stay per-run)
    val banded = tfCacheKey match {
      case Some((s, d)) =>
        StageArtifacts.cachedParquet(s, s"wminhash_md5_banded#$d")(buildBanded)
      case None => buildBanded
    }
    // Checkpointed ONCE per invocation: both verification sides consume
    // it, and without the checkpoint the bucket self-join + distinct
    // recomputes per side (measured 2x the candidate-generation cost,
    // round 13, OPTIMIZATION_r13.md). Pair-id rows only — bounded,
    // never the residency-cliff class.
    val cand0 = banded.as("a")
      .join(banded.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // SOUND size prefilter BEFORE the entry-array joins (r13 100×
    // curve): wj_ppm = smin*1e6 DIV (stot−smin) with smin ≤ min(S_a,
    // S_b) and stot−smin ≥ max(S_a, S_b), so wj_ppm ≤
    // least(S)*1e6 DIV greatest(S) — a pair failing this bound fails
    // the verify too; output identical. The filter joins carry only
    // (pair, two longs), and at the 100× point it removes 22% of
    // candidates (OPTIMIZATION_r13.md §5) before any array is shuffled.
    val sizes = tf.groupBy(col("id")).agg(sum(col("tf")).as("stf"))
    val cand = cand0
      .join(sizes.select(col("id").as("ja"), col("stf").as("sza"))
        .hint("SHUFFLE_HASH"), col("id_a") === col("ja"))
      .join(sizes.select(col("id").as("jb"), col("stf").as("szb"))
        .hint("SHUFFLE_HASH"), col("id_b") === col("jb"))
      .filter(expr("least(sza, szb) * 1000000 DIV greatest(sza, szb) >= 500000"))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    // Verification = Σmin(tf)/Σmax(tf) over each candidate pair's gram
    // union — computed with NO expansion-sized shuffle at all. Two
    // earlier shapes failed at depth: the FULL OUTER SMJ sorted two
    // posting-expansion relations (the r12 100x hour in
    // UnsafeExternalSorter), and its r12 replacement (union both sides
    // + hash-aggregate per (pair, gram)) still shuffled and aggregated
    // Σ(|grams a| + |grams b|) over all candidates — ~154M rows at the
    // 30x curve point. Past executor memory the hash aggregate degrades
    // to sort-based spill: isolated fresh-JVM runs measured 11.8 s at
    // 10x but 103 s at 30x on LINEAR candidate growth (r13,
    // OPTIMIZATION_r13.md: cand 542k @10x → 1.51M @30x — the blow-up
    // was per-row cost, not candidates). The expansion-free form: fold
    // each doc's grams into ONE sorted entry array (doc-count-sized table), hash-join
    // the bounded pair-id rows to the two entry arrays, and compute
    // Σmin per pair in-row with a compiled merge walk
    // (SumMinTfSorted — SQL map_zip_with computes the same fold on the
    // interpreted higher-order path and burned ~400 CPU-s/worker at
    // 30x). Σmax needs no union walk: Σmax = Σtf_a + Σtf_b − Σmin
    // (grams in both sides contribute max = a + b − min; one-sided
    // grams contribute their own tf). The only shuffles left are the
    // two pair↔entries joins, SHUFFLE_HASH-hinted on the entries side —
    // its per-partition build set is docs/partitions rows, bounded
    // at any corpus size by scaling partitions with the data.
    // entries keyed by xxhash64(g), not the gram string (r13 100×
    // curve): the two pair↔entries joins and the exchange between them
    // carry every candidate's entry arrays — 16-byte (long, long)
    // structs cut those bytes ~3× vs (string, long) (OPTIMIZATION_r13.md
    // §5, 100×: verify 14.8 → 6.9 s warm). Gram identity needs injectivity
    // only (the d_repeated_ngram_strip argument: 64-bit over ~100-gram
    // unions per pair, collision odds ~1e-9 corpus-wide,
    // deterministic); the oracle keeps grouping on the raw gram
    // strings, so the hash-exact gate would catch a collision. Signed
    // long compare in the merge walk matches sort_array's ordering of
    // the hashed structs.
    val docmap = tf.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(xxhash64(col("g")).as("h"),
        col("tf")))).as("ent"), sum(col("tf")).as("stf"))
    val ma = docmap.select(col("id").as("ja"), col("ent").as("e_a"),
      col("stf").as("s_a"))
    val mb = docmap.select(col("id").as("jb"), col("ent").as("e_b"),
      col("stf").as("s_b"))
    cand
      .join(ma.hint("SHUFFLE_HASH"), col("id_a") === col("ja"))
      .join(mb.hint("SHUFFLE_HASH"), col("id_b") === col("jb"))
      .select(col("id_a"), col("id_b"),
        vf.sum_min_tf_sorted(col("e_a"), col("e_b")).as("smin"),
        (col("s_a") + col("s_b")).as("stot"))
      .select(col("id_a"), col("id_b"),
        expr("smin * 1000000 DIV (stot - smin)").as("wj_ppm"))
      .filter(col("wj_ppm") >= 500000L)
  }
}
