#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify: load <out>/<name> parquet, run the
oracle SQL from oracle_sql.json against DuckDB views over <sfDir>/*.parquet
(each table one parquet file or a directory of part files),
and compare row count, column names/types, and a canonical value hash
(columns sorted by name, rows sorted, values normalized).

TWO independent canonicalization paths run per query (the r12 lesson:
q313's >int64 DECIMAL(38,0) passed the pandas path locally while the
driver's harness hash-mismatched it, because pandas normalizes away
exactly the representational differences a different reader surfaces):

  1. pandas   — DuckDB .df() on both sides (float/object coercion)
  2. pyarrow  — DuckDB .arrow() on both sides, values via .as_py()
                (Decimal stays Decimal, no float coercion)

A query passes only if BOTH paths match; if the paths DISAGREE with each
other, the query is flagged HARNESS-DIVERGENCE — a representation riding
the hash that a third harness could legitimately read differently.
"""
import os, sys, json, glob, hashlib
from decimal import Decimal
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    def norm(v):
        if v is None or v != v:  # NaN/None
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)
    rows = ["|".join(norm(v) for v in r) for r in df.itertuples(index=False, name=None)]
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()

def canon_arrow(tbl) -> str:
    """pyarrow canonicalization — no pandas float coercion: Decimal
    renders as its exact plain-format digits, ints as ints, floats as
    repr. Surfaces any value whose identity depends on the reader."""
    cols = sorted(tbl.column_names)
    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, Decimal):
            return format(v.normalize(), "f")
        if isinstance(v, float):
            if v != v:
                return "NULL"
            return repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = ["|".join(norm(v) for v in vals) for vals in zip(*data)]
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # a fixture table is one parquet file, or (tools.Scale10x) a
        # Spark output directory of part files
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(oracle):
        sql = oracle[name]
        pq = f"{out_dir}/{name}"
        try:
            mine = con.sql(f"SELECT * FROM '{pq}/*.parquet'").df()
            mine_a = con.sql(f"SELECT * FROM '{pq}/*.parquet'").arrow()
        except Exception as e:
            results[name] = f"SPARK-MISSING ({e})"; continue
        try:
            theirs = con.sql(sql).df()
            theirs_a = con.sql(sql).arrow()
        except Exception as e:
            results[name] = f"ORACLE-ERR ({str(e)[:120]})"; continue
        stat = []
        if len(mine) != len(theirs):
            stat.append(f"rows {len(mine)} vs {len(theirs)}")
        if sorted(mine.columns) != sorted(theirs.columns):
            stat.append(f"cols {sorted(mine.columns)} vs {sorted(theirs.columns)}")
        else:
            pd_ok = canon(mine) == canon(theirs)
            ar_ok = canon_arrow(mine_a) == canon_arrow(theirs_a)
            if pd_ok != ar_ok:
                stat.append("HARNESS-DIVERGENCE pandas=%s arrow=%s"
                            % (pd_ok, ar_ok))
            elif not pd_ok:
                stat.append("hash mismatch")
        results[name] = "OK rows=%d" % len(mine) if not stat else "FAIL: " + "; ".join(stat)
    # queries with no oracle
    for d in sorted(glob.glob(f"{out_dir}/q*")):
        name = os.path.basename(d)
        if name not in oracle and os.path.isdir(d):
            try:
                n = len(con.sql(f"SELECT * FROM '{d}/*.parquet'").df())
                results[name] = f"rows-only rows={n}"
            except Exception as e:
                results[name] = f"SPARK-MISSING ({e})"
    bad = 0
    for k in sorted(results):
        flag = "  " if results[k].startswith(("OK", "rows-only")) else "XX"
        if flag == "XX": bad += 1
        print(f"{flag} {k}: {results[k]}")
    print(f"\n{len(results)} queries, {bad} failing")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
