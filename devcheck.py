#!/usr/bin/env python3
"""Dev-loop mirror of the driver's correctness gate (VERDICT r6 item 2).

Runs every SparkEntry.oracleSql in DuckDB over the same parquet tables,
loads the Spark-side parquet written by `graft.Verify`, and compares
rows / schema / value-hash through pandas EXACTLY the way the round-6
failures manifested — so oracle-dtype drift (HUGEINT, wide DECIMAL,
array cells) dies here instead of in CORRECTNESS_r{N}.json.

Usage:
  sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/vout"
  python3 devcheck.py /root/testdata/sf0.001 /tmp/vout [--json OUT.json] [names...]

--json writes a per-query record in the driver's CORRECTNESS_r{N}.json
shape (rows_match/schema_match/hash_match/spark_rows/oracle_rows/err) —
used for the committed sf1 gate, CORRECTNESS_sf1.json (VERDICT r9 #1).

This is a DEV tool (python/duckdb are driver-side only); the Spark-side
half of the same contract is OracleDtypeSpec in sbt test.
"""
import sys, json, glob, hashlib
import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cell_hash(df: pd.DataFrame) -> str:
    return hashlib.md5(df.astype(str).to_csv(index=False).encode()).hexdigest()


def dtype_problems(name, sp: pd.DataFrame, ora: pd.DataFrame):
    out = []
    for c in sorted(set(sp.columns) & set(ora.columns)):
        s, o = str(sp[c].dtype), str(ora[c].dtype)
        # float64 on the oracle side with a non-float Spark side is the
        # HUGEINT/DECIMAL degradation signature
        if o.startswith("float") and not s.startswith("float"):
            out.append(f"{name}.{c}: oracle={o} vs spark={s} (HUGEINT/DECIMAL degradation)")
        if any(isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray"
               for v in sp[c].head(3)):
            out.append(f"{name}.{c}: spark side has array cells (unhashable)")
    return out


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf, outdir = argv[0], argv[1]
    only = set(argv[2:])
    record = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    sqls = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(sqls):
        if only and name not in only:
            continue
        try:
            files = glob.glob(f"{outdir}/{name}/*.parquet")
            sp = norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            ora = norm(con.execute(sqls[name]).df())
            probs = dtype_problems(name, sp, ora)
            ok = (len(sp) == len(ora)
                  and list(sp.columns) == list(ora.columns)
                  and cell_hash(sp) == cell_hash(ora))
            record[name] = {
                "rows_match": len(sp) == len(ora),
                "schema_match": list(sp.columns) == list(ora.columns),
                "hash_match": cell_hash(sp) == cell_hash(ora),
                "spark_rows": len(sp), "oracle_rows": len(ora),
                "err": "; ".join(probs) if probs else None,
            }
            if ok and not probs:
                n_pass += 1
            else:
                n_fail += 1
                print(f"FAIL {name}: rows {len(sp)}/{len(ora)} "
                      f"cols {list(sp.columns)}=={list(ora.columns)} "
                      f"hash {cell_hash(sp) == cell_hash(ora)}")
                for p in probs:
                    print(f"  dtype: {p}")
                if len(sp) == len(ora) and list(sp.columns) == list(ora.columns):
                    for c in sp.columns:
                        if not (sp[c].astype(str) == ora[c].astype(str)).all():
                            bad = sp[c].astype(str) != ora[c].astype(str)
                            print(f"  col {c}: {sp[c][bad].iloc[0]!r} vs {ora[c][bad].iloc[0]!r}")
        except Exception as e:  # noqa: BLE001 — report and keep scanning
            n_fail += 1
            record[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None,
                "err": f"{type(e).__name__}: {e}"[:500],
            }
            print(f"ERR  {name}: {type(e).__name__}: {e}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    print(f"devcheck: {n_pass} pass, {n_fail} fail "
          f"({len(sqls) - n_pass - n_fail} skipped)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
