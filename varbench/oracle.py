#!/usr/bin/env python3
"""DuckDB oracle worker for the `lanes` workload.

Reads one JSON request per line on stdin and answers one JSON line:

  {"cmd": "tables", "dir": D}            register every D/*.parquet as a view
  {"cmd": "oracle", "name": N, "sql": S} run the lane's oracle SQL, keep its hash
  {"cmd": "check", "name": N, "path": P} hash Spark's Parquet output under P
                                         and compare with the kept hash

Rows are compared with the repository's own rule, `norm` and `cell_hash`
from devcheck.py (columns sorted by name, rows sorted by every column, an
MD5 over the CSV of the string-cast cells), plus row count and column
names.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from devcheck import cell_hash, norm  # noqa: E402 - needs the repository root on the path


def digest(df):
    df = norm(df)
    return {"rows": len(df), "cols": list(df.columns), "hash": cell_hash(df)}


def main():
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    expected = {}
    for line in sys.stdin:
        req = json.loads(line)
        try:
            cmd = req["cmd"]
            if cmd == "tables":
                for f in sorted(glob.glob(os.path.join(req["dir"], "*.parquet"))):
                    name = os.path.basename(f)[: -len(".parquet")]
                    con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                                f"SELECT * FROM read_parquet('{f}')")
                resp = {"ok": True}
            elif cmd == "oracle":
                expected[req["name"]] = digest(con.execute(req["sql"]).df())
                resp = {"ok": True}
            elif cmd == "check":
                files = sorted(glob.glob(os.path.join(req["path"], "*.parquet")))
                frames = [pd.read_parquet(f) for f in files]
                got = digest(pd.concat(frames, ignore_index=True) if frames else pd.DataFrame())
                want = dict(expected[req["name"]])
                if req.get("corrupt") == "1":
                    want["hash"] = "corrupted-" + want["hash"]
                resp = {"ok": got == want}
                if got != want:
                    resp["err"] = f"{req['name']}: spark {got} != oracle {want}"
            else:
                resp = {"ok": False, "err": f"unknown cmd {cmd}"}
        except Exception as e:  # noqa: BLE001 - reported to the caller as a failed op
            resp = {"ok": False, "err": f"{type(e).__name__}: {e}"[:2000]}
        sys.stdout.write(json.dumps(resp) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
