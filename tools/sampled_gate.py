#!/usr/bin/env python3
"""Sampled sf1 oracle gate for the 8 quadratic-oracle lanes (round 11,
VERDICT r10 item 1).

These lanes' DuckDB oracles are brute-force all-pairs by design —
trustworthy but O(n^2), infeasible past the 2-3x derived factor
(CORRECTNESS_sfq.json). This gate closes the remaining asymmetry with
a DETERMINISTIC CONTENT-KEYED SAMPLE of the doc/source space (the
d_train_split md5-coin discipline) chosen so the verified predicate
DECOMPOSES EXACTLY over the sample:

- pair-output lanes (d_ngram_jaccard, d_prefix_join,
  d_containment_join, d_ncd_pairs): a pair qualifies as a function of
  its two docs only, so the FULL-corpus engine output filtered to
  pairs with BOTH endpoints in the doc sample equals the brute-force
  oracle over the sample alone. Engine ran the full 10x corpus; the
  oracle pays O(|S|^2), |S| ~ 2000 at sf1.
- per-doc survival (d_dedup_keep): doc b survives iff no same-source
  a < b with J >= 0.7 — verification of sampled docs needs all pairs
  (a, b) with b sampled: O(|S| * block), linear in corpus.
- component lanes (d_dup_clusters, d_curate_pipeline): the pair graph
  is within-source, so a SOURCE sample decomposes components exactly;
  the oracle pays O(sum block^2) over 3 of 20 sources.
- aggregate-output lane (d_fuzzy_join): output is 2 global rows, not
  sliceable post hoc — graft.tools.SampledLanes re-runs the lane's
  exact code path (TextQueries.fuzzyJoinAgg) on the sampled docs and
  this gate compares it to the brute-force oracle over the sample.

Coins (identical text in Spark and DuckDB, no id lists shipped):
  doc:    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0a'   (10/256)
  source: substr(md5(source), 1, 1) < '3'                     (3/16)

Usage:
  sbt "runMain graft.Verify <sfDir> <outDir>"              # full engine outputs
  sbt "runMain graft.tools.SampledLanes <sfDir> <outDir>"  # d_fuzzy_join sample
  python3 tools/sampled_gate.py <sfDir> <outDir> CORRECTNESS_sf1_sampled.json
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from devcheck import norm, cell_hash, TABLES  # noqa: E402

DOC = "substr(md5(CAST({c} AS VARCHAR)), 1, 2) < '0a'"
SRC = "substr(md5({c}), 1, 1) < '3'"

# shared CTE fragments lifted verbatim from the full oracles
TOKS = ("toks AS (SELECT doc_id, source, "
        "list_distinct(regexp_extract_all(text, '\\S+')) AS t FROM documents)")
GRAM = ("tk AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), "
        "t AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
        "FOR i IN range(1, len(w) - 1)]) AS toks FROM tk)")

LANES = {
    # ---- pair-output lanes: engine = full-corpus output sliced to S x S
    "d_ngram_jaccard": {
        "spec": "doc coin on BOTH endpoints; within-source pairs of sampled docs",
        "engine": f"SELECT * FROM eng WHERE {DOC.format(c='doc_a')} AND {DOC.format(c='doc_b')}",
        "oracle": f"""WITH {TOKS},
            s AS (SELECT * FROM toks WHERE {DOC.format(c='doc_id')})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                     / len(list_distinct(a.t || b.t)) AS jac
            FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                    / len(list_distinct(a.t || b.t)) >= 0.7""",
    },
    "d_prefix_join": {
        "spec": "doc coin on BOTH endpoints; global shingle-Jaccard pairs of sampled docs",
        "engine": f"SELECT * FROM eng WHERE {DOC.format(c='id_a')} AND {DOC.format(c='id_b')}",
        "oracle": f"""WITH {GRAM},
            s AS (SELECT * FROM t WHERE {DOC.format(c='doc_id')}),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_inter,
                         CAST(len(a.toks) + len(b.toks)
                              - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_union
                  FROM s a JOIN s b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, n_inter, n_union FROM p
            WHERE n_inter * 10 >= n_union * 7""",
    },
    "d_containment_join": {
        "spec": "doc coin on BOTH endpoints; ordered containment pairs of sampled docs",
        "engine": f"SELECT * FROM eng WHERE {DOC.format(c='id_a')} AND {DOC.format(c='id_b')}",
        "oracle": f"""WITH {GRAM},
            t4 AS (SELECT * FROM t WHERE len(toks) >= 4 AND {DOC.format(c='doc_id')})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_inter,
                   CAST(len(a.toks) AS BIGINT) AS n_a
            FROM t4 a JOIN t4 b ON a.doc_id <> b.doc_id
            WHERE len(list_intersect(a.toks, b.toks)) * 10 >= len(a.toks) * 9""",
    },
    "d_ncd_pairs": {
        "spec": "doc coin on BOTH endpoints; prefix-join pair set of sampled docs",
        "engine": f"SELECT * FROM eng WHERE {DOC.format(c='doc_a')} AND {DOC.format(c='doc_b')}",
        "oracle": f"""WITH {GRAM},
            s AS (SELECT * FROM t WHERE {DOC.format(c='doc_id')}),
            p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         len(list_intersect(a.toks, b.toks)) AS n_inter,
                         len(a.toks) + len(b.toks)
                           - len(list_intersect(a.toks, b.toks)) AS n_union
                  FROM s a JOIN s b ON a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, true AS subadditive, true AS monotone,
                   true AS ncd_in_range
            FROM p WHERE n_inter * 10 >= n_union * 7""",
    },
    # ---- per-doc survival: engine = full survivors sliced to S;
    #      oracle pays O(|S| * block), linear in the corpus
    "d_dedup_keep": {
        "spec": "doc coin on the VERIFIED doc; drop partners scanned over the full block",
        "engine": f"SELECT * FROM eng WHERE {DOC.format(c='doc_id')}",
        "oracle": f"""WITH {TOKS}
            SELECT doc_id FROM documents
            WHERE {DOC.format(c='doc_id')} AND doc_id NOT IN (
              SELECT b.doc_id
              FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE {DOC.format(c='b.doc_id')}
                AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                      / len(list_distinct(a.t || b.t)) >= 0.7)""",
    },
    # ---- component lanes: source sample decomposes the pair graph exactly
    "d_dup_clusters": {
        "spec": "source coin (3/20 sources); components are within-source so the sample is exact",
        "engine": f"""SELECT e.* FROM eng e
            JOIN (SELECT doc_id, source FROM documents) d ON e.doc_id = d.doc_id
            WHERE {SRC.format(c='d.source')}""",
        "oracle": f"""WITH RECURSIVE {TOKS},
            st AS (SELECT * FROM toks WHERE {SRC.format(c='source')}),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM st a JOIN st b ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                      / len(list_distinct(a.t || b.t)) >= 0.7),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u)
            SELECT u AS doc_id, CAST(least(u, MIN(v)) AS BIGINT) AS cluster_id
            FROM reach GROUP BY u""",
    },
    "d_curate_pipeline": {
        "spec": ("source coin (3/20 sources); length cut and near-dup drops are "
                 "within-source, contamination stays GLOBAL (linear)"),
        "engine": f"SELECT * FROM eng WHERE {SRC.format(c='source')}",
        "oracle": f"""WITH sized AS (
              SELECT doc_id, source, text,
                     CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
              FROM documents WHERE {SRC.format(c='source')}),
            cuts AS (SELECT source, quantile_cont(n_tok, 0.1) AS p10 FROM sized GROUP BY source),
            s1 AS (SELECT s.* FROM sized s JOIN cuts c USING (source) WHERE s.n_tok >= c.p10),
            tok4 AS (
              SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
              WHERE len(regexp_extract_all(text, '\\S+')) >= 4),
            grams AS (
              SELECT doc_id, unnest([array_to_string(t[i:i+3], ' ') for i in range(1, len(t) - 2)]) AS gram
              FROM tok4),
            bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0),
            contaminated AS (
              SELECT DISTINCT doc_id FROM grams
              WHERE doc_id % 100 <> 0 AND gram IN (SELECT gram FROM bench)),
            s2 AS (SELECT * FROM s1
                   WHERE doc_id % 100 <> 0
                     AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
            toks AS (
              SELECT doc_id, source, list_distinct(regexp_extract_all(text, '\\S+')) AS t
              FROM documents WHERE {SRC.format(c='source')}),
            drops AS (
              SELECT DISTINCT b.doc_id
              FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE a.doc_id IN (SELECT doc_id FROM s2)
                AND b.doc_id IN (SELECT doc_id FROM s2)
                AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                      / len(list_distinct(a.t || b.t)) >= 0.7),
            s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM drops))
            SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
            FROM s3 GROUP BY source""",
    },
    # ---- aggregate-output lane: engine re-run on the sample (SampledLanes)
    "d_fuzzy_join": {
        "spec": ("doc coin on the INPUT (output is a 2-row global aggregate); engine side = "
                 "the lane's exact code path re-run on sampled docs by graft.tools.SampledLanes"),
        "engine_file": "d_fuzzy_join_sampled.parquet",
        "engine": "SELECT * FROM eng",
        "oracle": f"""WITH p AS (
              SELECT doc_id, substr(text, 1, 16) AS p FROM documents
              WHERE {DOC.format(c='doc_id')}),
            pairs AS (
              SELECT a.doc_id AS i, b.doc_id AS j,
                     CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
              FROM p a, p b
              WHERE a.doc_id < b.doc_id AND levenshtein(a.p, b.p) <= 1)
            SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(i + j) AS BIGINT) AS id_sum
            FROM pairs GROUP BY dist""",
    },
}


def main():
    sf, outdir, record_path = sys.argv[1], sys.argv[2], sys.argv[3]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    record, n_pass = {}, 0
    for name, lane in sorted(LANES.items()):
        try:
            eng_path = f"{outdir}/{lane.get('engine_file', name)}"
            con.execute("CREATE OR REPLACE VIEW eng AS "
                        f"SELECT * FROM read_parquet('{eng_path}/*.parquet')")
            sp = norm(con.execute(lane["engine"]).df())
            ora = norm(con.execute(lane["oracle"]).df())
            rec = {
                "rows_match": len(sp) == len(ora),
                "schema_match": list(sp.columns) == list(ora.columns),
                "hash_match": cell_hash(sp) == cell_hash(ora),
                "spark_rows": len(sp), "oracle_rows": len(ora),
                "sample_spec": lane["spec"], "err": None,
            }
        except Exception as e:  # noqa: BLE001 — record and keep scanning
            rec = {"rows_match": False, "schema_match": False, "hash_match": False,
                   "spark_rows": None, "oracle_rows": None,
                   "sample_spec": lane["spec"],
                   "err": f"{type(e).__name__}: {e}"[:300]}
        record[name] = rec
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        n_pass += ok
        print(f"{name}: {'PASS' if ok else 'FAIL ' + json.dumps(rec)} "
              f"({rec['spark_rows']} rows)", flush=True)
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"sampled_gate: {n_pass}/{len(LANES)} pass")
    sys.exit(0 if n_pass == len(LANES) else 1)


if __name__ == "__main__":
    main()
