package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.{documents, lineitem}
import graft.functions.{VariantFunctions => vf}

/** Round-7 curation additions: novelty scoring, URL normalization,
  * asymmetric containment join, and BPE merge-candidate mining.
  *
  * Same determinism discipline as TextQueries: ratios in integer ppm
  * via DIV, 3-gram shingles built by `shingle_tokens` on the Spark side
  * and the proven list-comprehension builder in the DuckDB oracle,
  * ORDER BY over a unique key.
  */
object CurationQueries {

  // Index-build artifacts (shingled corpus, df-ranked token index, NCD
  // pair set) live in StageArtifacts: unique session tags + eviction on
  // ApplicationEnd (round-10 ADVICE fix replacing the per-file maps).

  // corpus-TEXT-sized payload (every doc's shingle array ~ its text):
  // parquet on disk, not resident checkpoint blocks — the r12 100x curve
  // showed text-sized resident caches poisoning the whole session's heap
  private def shingled(s: SparkSession, d: String): DataFrame =
    StageArtifacts.cachedParquet(s, s"curShingle#$d") {
      documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          array_distinct(vf.shingle_tokens(col("text"), 3)).as("toks"))
    }

  /** The DuckDB 3-gram builder shared by every oracle in this file
    * (mirrors d_prefix_join's proven construction). */
  private val gramCte =
    """tk AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents),
      |t AS (
      |  SELECT doc_id, list_distinct(
      |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |     FOR i IN range(1, len(w) - 1)]) AS toks
      |  FROM tk)""".stripMargin

  /** Asymmetric containment join over (doc_id, toks) with toks already
    * distinct: emits every ORDERED pair (a, b), a != b, |toks| >= 4 on
    * both sides, with |Ta ∩ Tb| * tDen >= |Ta| * tNum. Exact — the
    * prefix and positional filters are superset generators, a full
    * intersect verifies. Completeness is property-tested against the
    * quadratic brute force in CurationSpec (same code path as the
    * `d_containment_join` driver query).
    */
  def containmentJoin(docsIn: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val docs = docsIn.filter(size(col("toks")) >= 4)
    containmentJoinRanked(docs, rankedTokens(docs), tNum, tDen)
  }

  /** (doc_id, tok, rank, sz): each doc's tokens ranked by global df
    * order (rarest first). Threshold-independent — a derived index
    * shared by every containment threshold over the same corpus, cached
    * per (session, dir) in the QueryDef (the candidate join consumes it
    * on BOTH sides; without materialization Spark computes the
    * explode+df+window subtree twice per run). `sz` comes from the
    * token array BEFORE the explode — no second window. */
  def rankedTokens(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), size(col("toks")).as("sz"),
      explode(col("toks")).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    tok.join(dfreq, "tok")
      .withColumn("rank", row_number().over(wDoc))
      .select(col("doc_id"), col("tok"), col("rank"), col("sz"))
  }

  def containmentJoinRanked(docs: DataFrame, ranked: DataFrame,
                            tNum: Int, tDen: Int): DataFrame = {
    // the candidate join keys on the token string itself: at 10x,
    // xxhash64 keys cut this lane's shuffle writes by 6% but ran slower
    // in 2 of 3 runs, here and on d_prefix_join (OPTIMIZATION_r14.md)
    val prefixA = ranked.filter(col("rank") <=
      col("sz") - expr(s"($tNum * sz + ${tDen - 1}) div $tDen") + 1)
    val cand = prefixA.as("a").join(ranked.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") =!= col("b.doc_id")
          // positional filter: alpha = ceil(t*sz_a); sound at the
          // pair's minimal common token, which a's prefix contains
          // and b's full table always meets
          && (least(col("a.sz") - col("a.rank"), col("b.sz") - col("b.rank")) + 1)
               * tDen >= col("a.sz") * tNum)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("toks").as("ta")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("toks").as("tb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("n_a", size(col("ta")).cast("long"))
      .filter(col("n_inter") * tDen >= col("n_a") * tNum)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"))
  }

  val all: Seq[QueryDef] = Seq(

    // -----------------------------------------------------------------
    // Per-document novelty: the fraction of a doc's distinct 3-gram
    // shingles whose FIRST corpus occurrence (min doc_id) is this doc —
    // the "how much new text does this document add" curation signal.
    // One shuffle: the exploded gram table is shuffled ONCE for the
    // per-gram window (the d_dup_ngrams lesson — groupBy + join-back
    // would re-derive and re-shuffle the exploded table on both sides).
    // -----------------------------------------------------------------
    QueryDef("d_novelty",
      (s, d) => {
        // The per-gram window shuffles the exploded table ONCE — keyed
        // on xxhash64(gram), an 8-byte long, not the ~20-char gram
        // string (the d_dup_ngrams / d_repeated_ngram_strip treatment):
        // the key never appears in the output, so it needs no
        // cross-engine portability, only injectivity in practice
        // (64-bit over ~1M distinct grams: collision odds ~1e-7,
        // deterministic). The oracle groups on the raw gram string,
        // so the hash-exact gate would catch a collision.
        val grams = shingled(s, d)
          .select(col("doc_id"), explode(col("toks")).as("g0"))
          .select(col("doc_id"), xxhash64(col("g0")).as("g"))
        val wg = Window.partitionBy(col("g"))
        grams.withColumn("first_doc", min(col("doc_id")).over(wg))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty_ppm", expr("n_novel * 1000000 DIV n_grams"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $gramCte,
              |g AS (SELECT doc_id, unnest(toks) AS g FROM t),
              |f AS (SELECT doc_id, g,
              |             MIN(doc_id) OVER (PARTITION BY g) AS first_doc
              |      FROM g)
              |SELECT doc_id,
              |       COUNT(*) AS n_grams,
              |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
              |         * 1000000 // COUNT(*) AS novelty_ppm
              |FROM f GROUP BY doc_id
              |ORDER BY doc_id""".stripMargin)),

    // -----------------------------------------------------------------
    // URL parse/normalize (the web-corpus ingestion shape): URLs are
    // synthesized deterministically from document fields, then taken
    // apart with Spark's parse_url — and the oracle re-derives each
    // part from the SOURCE FIELDS, so the gate proves parse_url exactly
    // inverts the construction (host, path, one query param).
    // -----------------------------------------------------------------
    QueryDef("d_url_parse",
      (s, d) => {
        documents(s, d)
          .withColumn("url",
            concat(lit("https://"), col("source"), lit(".example.com/"),
              col("lang"), lit("/doc/"), col("doc_id"),
              lit("?ref=r"), col("doc_id") % 7, lit("&fmt=txt")))
          .select(
            col("doc_id"),
            expr("parse_url(url, 'HOST')").as("host"),
            expr("parse_url(url, 'PATH')").as("path"),
            expr("parse_url(url, 'QUERY', 'ref')").as("ref"),
            expr("parse_url(url, 'PROTOCOL')").as("proto"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |       source || '.example.com' AS host,
             |       '/' || lang || '/doc/' || doc_id AS path,
             |       'r' || CAST(doc_id % 7 AS VARCHAR) AS ref,
             |       'https' AS proto
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Asymmetric containment join: |Ta ∩ Tb| / |Ta| >= 0.9 for ordered
    // pairs a != b — "a is mostly inside b" (quote/subset detection),
    // which symmetric Jaccard misses whenever |b| >> |a|. Candidates
    // come from a's PREFIX ONLY (rarest ceil(|a|/10)+ tokens under the
    // global df order) joined against the FULL token table of b — no
    // size filter exists for containment (b may be any size), so the
    // prefix must carry the pruning; the positional filter
    // 1 + min(sz_a - i, sz_b - j) >= ceil(0.9*sz_a) tightens it. Exact:
    // filters are superset generators, a full intersect verifies.
    // -----------------------------------------------------------------
    QueryDef("d_containment_join",
      (s, d) => {
        val docs = shingled(s, d).filter(size(col("toks")) >= 4)
        val ranked = StageArtifacts.cached(s, s"curRanked#$d") {
          rankedTokens(docs).localCheckpoint()
        }
        containmentJoinRanked(docs, ranked, 9, 10)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $gramCte,
              |t4 AS (SELECT * FROM t WHERE len(toks) >= 4)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_inter,
              |       CAST(len(a.toks) AS BIGINT) AS n_a
              |FROM t4 a JOIN t4 b ON a.doc_id <> b.doc_id
              |WHERE len(list_intersect(a.toks, b.toks)) * 10 >= len(a.toks) * 9
              |ORDER BY id_a, id_b""".stripMargin)),

    // -----------------------------------------------------------------
    // BPE merge-candidate mining (one tokenizer-training step): count
    // adjacent character pairs inside whitespace tokens across the
    // corpus, emit the top-20 merge candidates under the total order
    // (count DESC, pair ASC). Map + one narrow shuffle on the ~1K pair
    // vocabulary (partial aggregation collapses the exploded pairs
    // map-side); top-20 is TakeOrderedAndProject.
    // -----------------------------------------------------------------
    QueryDef("d_bpe_merge",
      (s, d) => {
        val w = Window.orderBy(col("n").desc, col("pair"))
        documents(s, d)
          .select(explode(TextAnalysis.tokens("text")).as("tok"))
          // Spark's sequence(1, 0) DESCENDS instead of yielding empty —
          // guard single-char tokens (DuckDB's range(1,1) is empty)
          .filter(length(col("tok")) >= 2)
          // compiled twin of transform(sequence(1, length(tok) - 1),
          //   i -> substring(tok, i, 2)) (CharNgramsSpec)
          .select(explode(vf.char_ngrams(col("tok"), 2)).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 20)
          .orderBy(col("rank"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
             |pairs AS (
             |  SELECT unnest([substr(tok, i, 2) FOR i IN range(1, len(tok))]) AS pair
             |  FROM toks),
             |counts AS (
             |  SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
             |SELECT pair, n,
             |       ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
             |FROM counts
             |QUALIFY rank <= 20
             |ORDER BY rank""".stripMargin)),
    // -----------------------------------------------------------------
    // BPE tokenizer TRAINING (round 9 — completes the family: d_bpe_merge
    // mines ONE round's candidates, d_bpe_apply applies a fixed table;
    // this lane runs the full iterative loop): 6 merge rounds, each =
    // mine pair counts over the CURRENT tokenization → argmax under
    // (count DESC, pair ASC) → re-tokenize every word with a single
    // left-to-right pass. Training runs on the (word, freq) TYPE table
    // (the classical BPE working set — vocabulary-sized, not
    // corpus-sized), so at 100 TB each round is one map-combined
    // pair-count shuffle + a 1-row broadcast argmax + a narrow
    // re-tokenize map; per-round localCheckpoint bounds lineage (the
    // d_hits discipline). Re-tokenization uses the doubled-space
    // replace trick — wrap, double every space, replace ' a  b ' with
    // ' ab ', collapse — whose non-overlapping left-to-right semantics
    // BOTH engines share and which provably equals the canonical
    // single-pass list merge (PipelineSpec replays a list-based
    // reference). Per round the lane emits the merged pair, its count
    // at selection time, post-merge token/vocab totals, and an md5
    // digest of the ENTIRE tokenization — so the oracle gate certifies
    // every round's re-tokenization byte-for-byte, not just the winner.
    // -----------------------------------------------------------------
    QueryDef("d_bpe_train",
      (s, d) => bpeTrain(s, documents(s, d), BpeTrainRounds),
      Some(bpeTrainOracle(BpeTrainRounds))),

    // -----------------------------------------------------------------
    // RAKE-style keyword extraction: candidate phrases are maximal
    // stopword-free token runs; each word's weight is deg/freq over the
    // phrase corpus (deg = sum of lengths of phrases containing the
    // occurrence, freq = occurrences), and a phrase scores the sum of
    // its positions' word weights in floor-div ppm — all integers, so
    // both engines agree to the bit. Two narrow shuffles (word stats on
    // the word key, phrase aggregation on the phrase string); phrase
    // strings are rebuilt position-ordered on BOTH engines.
    // -----------------------------------------------------------------
    QueryDef("d_keyword_extract",
      (s, d) => {
        val stopList = TextAnalysis.STOPWORDS.map(w => s"'$w'").mkString(", ")
        val toks = documents(s, d)
          .select(col("doc_id"), posexplode(TextAnalysis.tokens("text")).as(Seq("pos", "tok")))
          .withColumn("is_stop", expr(s"tok IN ($stopList)"))
        val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val phrases = toks
          .withColumn("seg", sum(when(col("is_stop"), 1).otherwise(0)).over(wSeg))
          .filter(!col("is_stop"))
          .groupBy(col("doc_id"), col("seg"))
          .agg(
            expr("transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)").as("ws"),
            count(lit(1)).as("len"))
          .filter(col("len") <= 4)
          .withColumn("phrase", concat_ws(" ", col("ws")))
        val words = phrases.select(col("phrase"), col("len"), explode(col("ws")).as("w"))
        val stats = words.groupBy(col("w"))
          .agg(sum(col("len")).as("deg"), count(lit(1)).as("freq"))
          .withColumn("w_ppm", expr("deg * 1000000 DIV freq"))
        val w20 = Window.orderBy(col("score_ppm").desc, col("phrase"))
        words.join(stats.select(col("w"), col("w_ppm")), "w")
          .groupBy(col("phrase"))
          .agg(sum(col("w_ppm")).as("score_ppm"), count(lit(1)).as("n_word_occ"))
          .select(col("phrase"), col("score_ppm"),
            expr("n_word_occ DIV (size(split(phrase, ' ')))").as("n_phrases"))
          .withColumn("rank", row_number().over(w20).cast("long"))
          .filter(col("rank") <= 20)
          .orderBy(col("rank"))
      },
      Some {
        val stopList = TextAnalysis.STOPWORDS.map(w => s"'$w'").mkString(", ")
        s"""WITH tok AS (
           |  SELECT doc_id,
           |         unnest(regexp_extract_all(text, '\\S+')) AS tok,
           |         generate_subscripts(regexp_extract_all(text, '\\S+'), 1) AS pos
           |  FROM documents),
           |seg AS (
           |  SELECT doc_id, tok, pos,
           |         tok IN ($stopList) AS is_stop,
           |         SUM(CASE WHEN tok IN ($stopList) THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY doc_id ORDER BY pos) AS seg
           |  FROM tok),
           |phr AS (
           |  SELECT doc_id, seg,
           |         string_agg(tok, ' ' ORDER BY pos) AS phrase,
           |         COUNT(*) AS len
           |  FROM seg WHERE NOT is_stop
           |  GROUP BY doc_id, seg HAVING COUNT(*) <= 4),
           |words AS (
           |  SELECT phrase, len, unnest(string_split(phrase, ' ')) AS w FROM phr),
           |stats AS (
           |  SELECT w, CAST(SUM(len) AS BIGINT) * 1000000 // COUNT(*) AS w_ppm
           |  FROM words GROUP BY w),
           |scored AS (
           |  SELECT wd.phrase,
           |         CAST(SUM(st.w_ppm) AS BIGINT) AS score_ppm,
           |         COUNT(*) // len(string_split(wd.phrase, ' ')) AS n_phrases
           |  FROM words wd JOIN stats st ON wd.w = st.w
           |  GROUP BY wd.phrase)
           |SELECT phrase, score_ppm, CAST(n_phrases AS BIGINT) AS n_phrases,
           |       ROW_NUMBER() OVER (ORDER BY score_ppm DESC, phrase) AS rank
           |FROM scored
           |QUALIFY rank <= 20
           |ORDER BY rank""".stripMargin
      }),

    // -----------------------------------------------------------------
    // Modern SQL ergonomics parity: GROUP BY ALL / ORDER BY ALL /
    // LIMIT-OFFSET agree between engines (the "notebook SQL" surface a
    // migrating user types first).
    // -----------------------------------------------------------------
    QueryDef("q_sql_ergonomics",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem_ergo")
        s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
                |FROM lineitem_ergo
                |GROUP BY ALL ORDER BY ALL LIMIT 4 OFFSET 1""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM lineitem
             |GROUP BY ALL ORDER BY ALL LIMIT 4 OFFSET 1""".stripMargin)),

    // -----------------------------------------------------------------
    // Compression-ratio quality signal (the Gopher/CCNet filter):
    // deflate_len(text)/len(text) in ppm — templated or repetitive
    // documents compress far below natural prose. Map-only scan. No
    // cross-engine zlib exists, so (round 8) the driver-lane gate is a
    // per-doc PROPERTY digest instead: decompress(compress(x)) == x
    // (self-inverse — engine-free and exact), plus the DEFLATE format's
    // own length envelope (≤ raw + stored-block overhead; ≥ raw/1032,
    // the format's maximum compression ratio). ratio_ppm value pins
    // live in CurationSpec.
    // -----------------------------------------------------------------
    QueryDef("d_compress_ratio",
      (s, d) => {
        import s.implicits._
        documents(s, d)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val comp = graft.functions.DeflateLen.compressedLength(bytes)
            val n = bytes.length.toLong
            val boundsOk = comp > n / 1032L &&
              comp <= n + 5L * (n / 16383L + 1L) + 6L + 32L
            (id, n, boundsOk, graft.functions.DeflateLen.roundtripOk(bytes))
          })
          .toDF("doc_id", "raw_len", "bounds_ok", "roundtrip_ok")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS raw_len,
             |       true AS bounds_ok, true AS roundtrip_ok
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // -----------------------------------------------------------------
    // Normalized compression distance over the SHINGLE-blocked
    // candidate pairs (Cilibrasi–Vitányi): the parameter-free near-dup
    // second opinion — no tokenizer, no threshold tuning. Candidates
    // come from the 3-gram prefix join (505 true near-dups at sf0.1),
    // NOT the word-level jaccard pairs (255k at sf0.1 — the §7.7
    // unigram trap, which would put 765k deflate calls in the plan);
    // the pair set is derived index data, cached per (session, dir).
    // Round 8: the PAIR SET is exact (the prefix join is deterministic,
    // so DuckDB can't state it but the gate's doc pairs replay through
    // the same ncdPairCache in the digest below)… the NCD values are
    // engine-private, so the driver-lane gate emits Kolmogorov-theory
    // PROPERTY digests per pair instead: subadditivity
    // C(ab) ≤ C(a)+C(b)+slack, monotonicity C(ab)+slack ≥ max(C(a),C(b)),
    // and the normalized range 0 ≤ NCD ≤ 1.1 (the measure exceeds 1
    // only by compressor imperfection). Value contrast pins (self vs
    // unrelated) stay in CurationSpec.
    // -----------------------------------------------------------------
    QueryDef("d_ncd_pairs",
      (s, d) => {
        import s.implicits._
        val pairs = StageArtifacts.cached(s, s"curNcdPairs#$d") {
          TextQueries.prefixSimilarityJoin(shingled(s, d), 7, 10)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
            .localCheckpoint()
        }
        val texts = documents(s, d).select(col("doc_id"), col("text"))
        pairs
          .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
          .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"))
          .as[(Long, Long, String, String)]
          .mapPartitions(_.map { case (ida, idb, ta, tb) =>
            val a = ta.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val b = tb.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val ca = graft.functions.DeflateLen.compressedLength(a)
            val cb = graft.functions.DeflateLen.compressedLength(b)
            val cab = graft.functions.DeflateLen.pairLength(a, b)
            val ncd = if (math.max(ca, cb) == 0) 0L
              else ((cab - math.min(ca, cb)) * 1000000L) / math.max(ca, cb)
            (ida, idb,
              cab <= ca + cb + 64L,            // subadditivity
              cab + 64L >= math.max(ca, cb),   // monotonicity
              ncd >= 0L && ncd <= 1100000L)    // normalized range
          })
          .toDF("doc_a", "doc_b", "subadditive", "monotone", "ncd_in_range")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      // the pair set replays d_prefix_join's proven quadratic oracle;
      // the per-pair zlib properties are constant-true by theory
      Some(s"""WITH $gramCte,
             |p AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |         len(list_intersect(a.toks, b.toks)) AS n_inter,
             |         len(a.toks) + len(b.toks)
             |           - len(list_intersect(a.toks, b.toks)) AS n_union
             |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, true AS subadditive, true AS monotone,
             |       true AS ncd_in_range
             |FROM p WHERE n_inter * 10 >= n_union * 7
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // -----------------------------------------------------------------
    // Entity resolution end to end: blocking (8-char key) → pairwise
    // scoring (bit-stable jaro_winkler ≥ 0.9, the d_jaro_fuzzy rule) →
    // transitive clustering (large/small-star CC over the edge table
    // only) → golden-record survivorship (longest record wins, min id
    // breaks ties). The composition a master-data pipeline runs as one
    // job; every stage is the scale-shaped operator already proven
    // standalone, and the oracle replays all four stages (recursive
    // closure for the clustering).
    // -----------------------------------------------------------------
    QueryDef("d_entity_resolution",
      (s, d) => {
        val p = documents(s, d).select(col("doc_id"),
          substring(col("text"), 1, 8).as("blk"),
          substring(col("text"), 1, 40).as("pre"))
        val pairs = p.as("a").join(p.as("b"),
            col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
          .filter(vf.jaro_winkler(col("a.pre"), col("b.pre")) >= 0.9)
          .select(col("a.doc_id").as("u"), col("b.doc_id").as("v"))
        // CC rounds run on the edge table (tiny next to the corpus) —
        // narrow the shuffle for the iteration, restore after (the
        // d_dup_clusters discipline)
        val partsKey = "spark.sql.shuffle.partitions"
        val prevParts = s.conf.get(partsKey)
        s.conf.set(partsKey, "4")
        val labels =
          try ConnectedComponents.labelComponents(pairs)._1
          finally s.conf.set(partsKey, prevParts)
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        labels
          .join(documents(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
          .withColumn("rn", row_number().over(w))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("n_chars")).as("total_chars"),
            min(when(col("rn") === 1, col("doc_id"))).as("golden_doc"))
          .orderBy(col("cluster_id"))
      },
      Some("""WITH RECURSIVE p AS (
             |  SELECT doc_id, substr(text, 1, 8) AS blk,
             |         substr(text, 1, 40) AS pre, n_chars
             |  FROM documents),
             |pairs AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM p a JOIN p b
             |    ON a.blk = b.blk AND a.doc_id < b.doc_id
             |   AND jaro_winkler_similarity(a.pre, b.pre) >= 0.9),
             |edges AS (
             |  SELECT doc_a AS u, doc_b AS v FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
             |labels AS (
             |  SELECT u AS doc_id, CAST(least(u, MIN(v)) AS BIGINT) AS cluster_id
             |  FROM reach GROUP BY u),
             |m AS (
             |  SELECT l.cluster_id, l.doc_id, p.n_chars,
             |         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
             |           ORDER BY p.n_chars DESC, l.doc_id) AS rn
             |  FROM labels l JOIN p USING (doc_id))
             |SELECT cluster_id, COUNT(*) AS n_members,
             |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |       MIN(CASE WHEN rn = 1 THEN doc_id END) AS golden_doc
             |FROM m GROUP BY cluster_id
             |ORDER BY cluster_id""".stripMargin)),

    // -----------------------------------------------------------------
    // MinHash estimator quality in the DRIVER lane (the e_ann_recall
    // pattern applied to the dedup family): slot-agreement estimates
    // over the exact-Jaccard pair set, reduced to a deterministic
    // meets-floor digest. Signatures are hash-based (no RNG), the pair
    // set is exact, and the error aggregate is integer ppm — so the
    // digest is constant and a bucketing/hash regression that degrades
    // the estimator flips CORRECTNESS, not just a spec. Floors sit
    // above the measured errors at every SF (mean 36-38k ppm ≤ 60k,
    // max 186-241k ppm ≤ 350k; k=64 theory std ≈ 50k at J≈0.75).
    // -----------------------------------------------------------------
    QueryDef("d_minhash_gate",
      (s, d) => {
        val sigs = documents(s, d)
          .select(col("doc_id"),
            vf.minhash_signature(array_distinct(TextAnalysis.tokens("text")), 64).as("sig"))
        TextQueries.exactJaccardPairs(s, d)
          .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), Seq("doc_a"))
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), Seq("doc_b"))
          .withColumn("matches", expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))"))
          .withColumn("err_ppm", abs(
            expr("matches * 1000000 DIV 64") -
              expr("CAST(floor(jac * 1000000 + 0.5) AS BIGINT)")))
          .agg(sum(col("err_ppm")).as("sum_err"), count(lit(1)).as("n"),
            max(col("err_ppm")).as("max_err"))
          .select(
            lit(64L).as("k"),
            (expr("sum_err DIV n") <= 60000L).as("mean_under_60k"),
            (col("max_err") <= 350000L).as("max_under_350k"))
      },
      Some("""SELECT CAST(64 AS BIGINT) AS k,
             |       true AS mean_under_60k,
             |       true AS max_under_350k""".stripMargin))
  )

  /** Merge rounds for d_bpe_train. MUST stay a compile-time constant
    * (`final`, no type annotation): `all` above initializes before
    * ordinary vals in this object (the KmOff lesson). */
  final val BpeTrainRounds = 6

  /** The d_bpe_train re-tokenize expression (both engines): wrap cur in
    * spaces, double every space, replace ' pa  pb ' with ' papb ',
    * collapse runs, trim. Non-overlapping left-to-right replace — the
    * canonical single-pass BPE merge (see PipelineSpec's list-based
    * replay). `pa`/`pb` are column references in scope. */
  private def retokExpr(collapseFlag: String): String =
    // Spark's regexp_replace is global by default; DuckDB needs 'g'
    s"trim(regexp_replace(replace(replace(concat(' ', cur, ' '), ' ', '  '), " +
      s"concat(' ', pa, '  ', pb, ' '), concat(' ', pa, pb, ' ')), ' +', ' '$collapseFlag))"

  /** Iterative BPE training over the corpus word-type table: `k` rounds
    * of (pair-count aggregate → 1-row broadcast argmax → narrow
    * re-tokenize), emitting one certification row per round. See the
    * QueryDef comment for the scale shape.
    */
  def bpeTrain(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    var cur = docs
      .select(explode(TextAnalysis.tokens("text")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(col("tok").as("word"), col("freq"),
        expr("array_join(regexp_extract_all(tok, '.', 0), ' ')").as("cur"))
      .repartition(s.sparkContext.defaultParallelism, col("word"))
      .localCheckpoint()
    val rounds = (1 to k).map { r =>
      val best = cur
        .filter(size(split(col("cur"), " ")) >= 2)
        .select(col("freq"), split(col("cur"), " ").as("t"))
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(t) - 2), " +
            "i -> named_struct('pa', element_at(t, i + 1), 'pb', element_at(t, i + 2)))"))
          .as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pa"), col("pb"))
        .limit(1)
        .localCheckpoint()
      cur = cur.crossJoin(broadcast(best.select(col("pa"), col("pb"))))
        .select(col("word"), col("freq"), expr(retokExpr("")).as("cur"))
        .localCheckpoint()
      val stats = cur.agg(
        sum(col("freq") * size(split(col("cur"), " "))).as("n_tokens"),
        expr("md5(concat_ws(';', transform(array_sort(collect_list(struct(word, cur))), " +
          "x -> concat(x.word, ':', x.cur))))").as("tok_digest"))
      val vocab = cur.select(explode(split(col("cur"), " ")).as("t"))
        .agg(countDistinct(col("t")).as("vocab_size"))
      best.crossJoin(stats).crossJoin(vocab)
        .select(lit(r.toLong).as("round"), col("pa"), col("pb"), col("n"),
          col("n_tokens"), col("vocab_size"), col("tok_digest"))
    }
    rounds.reduce(_ union _).orderBy(col("round"))
  }

  /** Generated DuckDB oracle for d_bpe_train: the per-round (mine,
    * argmax, re-tokenize, certify) CTE chain is emitted for `k` rounds
    * — one Scala source of truth for the update rule on both engines
    * (the d_hits discipline). */
  private def bpeTrainOracle(k: Int): String = {
    val head =
      """WITH w0 AS (
        |  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq,
        |         array_to_string(regexp_extract_all(tok, '.'), ' ') AS cur
        |  FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents)
        |  GROUP BY tok)""".stripMargin
    val steps = (1 to k).map { r =>
      val rtk = "trim(regexp_replace(replace(replace(' ' || cur || ' ', ' ', '  '), " +
        s"' ' || b$r.pa || '  ' || b$r.pb || ' ', ' ' || b$r.pa || b$r.pb || ' '), " +
        "' +', ' ', 'g'))"
      s"""p$r AS (
         |  SELECT s.t[u.i] AS pa, s.t[u.i + 1] AS pb, CAST(SUM(s.freq) AS BIGINT) AS n
         |  FROM (SELECT freq, string_split(cur, ' ') AS t FROM w${r - 1}) s,
         |       LATERAL unnest(range(1, len(s.t))) AS u(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT pa, pb, n FROM p$r ORDER BY n DESC, pa, pb LIMIT 1),
         |w$r AS (SELECT word, freq, $rtk AS cur FROM w${r - 1}, b$r),
         |s$r AS (
         |  SELECT CAST($r AS BIGINT) AS round, b$r.pa, b$r.pb, b$r.n,
         |         (SELECT CAST(SUM(freq * len(string_split(cur, ' '))) AS BIGINT)
         |          FROM w$r) AS n_tokens,
         |         (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM
         |            (SELECT unnest(string_split(cur, ' ')) AS t FROM w$r)) AS vocab_size,
         |         (SELECT md5(string_agg(word || ':' || cur, ';' ORDER BY word))
         |          FROM w$r) AS tok_digest
         |  FROM b$r)""".stripMargin
    }
    s"""$head,
       |${steps.mkString(",\n")}
       |${(1 to k).map(r => s"SELECT * FROM s$r").mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }
}

