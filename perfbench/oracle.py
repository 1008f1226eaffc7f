#!/usr/bin/env python3
"""Correctness check for one benchmark run, outside the timed region.

Each persisted result is compared with DuckDB running the engine's own
oracle SQL (SparkEntry.oracleSql) over the same parquet tables, with the
normalisation of tools/check.py: columns sorted by name, cells rendered
canonically (floats via %.10g with a kept float marker, dates without a
spurious midnight), rows compared as a multiset.

Expected results come from the oracle only, never from the engine. They
are kept as a digest of the sorted row hashes (plus columns and row
count) in perfbench/expected/<query>.json, keyed by the SHA-256 of the
oracle SQL and of the tables; when either changes, the oracle is run
again and the digest cached under .bench_build/expected/.

    python3 perfbench/oracle.py --refresh   # rewrite perfbench/expected/
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED = os.path.join(HERE, "expected")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB output types that render the same way Spark's parquet output does.
ALLOWED_TYPES = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT",
                 "VARCHAR", "DOUBLE", "DATE", "TIMESTAMP"}


def cell(v):
    if isinstance(v, float):
        s = f"{v:.10g}"
        # keep the float marker: int-vs-float dtype drift must fail
        if s.replace("-", "").isdigit():
            s += ".0"
        return s
    s = str(v)
    # a DuckDB DATE comes back from pandas with a spurious midnight
    if s.endswith(" 00:00:00"):
        return s[:-9]
    return s


def canon(col: pd.Series):
    """`cell` over a whole column; integer and boolean columns render the
    same through numpy's vectorised str."""
    k = col.dtype.kind
    if k in "iub":
        return col.astype(str)
    if k == "f":
        return list(map(cell, map(float, col.tolist())))
    return list(map(cell, col.tolist()))


def summary(df: pd.DataFrame):
    """Columns, row count and order-free digest of the canonical rows."""
    df = pd.DataFrame({c: canon(df[c]) for c in sorted(df.columns)},
                      columns=sorted(df.columns))
    h = pd.util.hash_pandas_object(df, index=False).to_numpy().copy()
    h.sort()
    return {"columns": list(df.columns), "rows": len(df),
            "digest": hashlib.sha256(h.tobytes()).hexdigest()}


def sha(b):
    return hashlib.sha256(b).hexdigest()


class Oracle:
    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
                h.update(sha(f.read()).encode())
        self.tables_sha = h.hexdigest()

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def compute(self, sql):
        con = self._connect()
        desc = con.execute(f"DESCRIBE {sql}").df()
        bad = [(r["column_name"], r["column_type"]) for _, r in desc.iterrows()
               if r["column_type"] not in ALLOWED_TYPES]
        if bad:
            raise ValueError(f"non-portable oracle types {bad}")
        return summary(con.execute(sql).df())

    def expected(self, name, sql, dirs=None):
        key = {"sql_sha256": sha(sql.encode()), "tables_sha256": self.tables_sha}
        for d in dirs or (COMMITTED, self.cache_dir):
            p = os.path.join(d, f"{name}.json")
            if os.path.exists(p):
                with open(p) as f:
                    e = json.load(f)
                if all(e.get(k) == v for k, v in key.items()):
                    return e
        e = dict(key, **self.compute(sql))
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = os.path.join(self.cache_dir, f".{name}.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(e, f, indent=1)
        os.replace(tmp, os.path.join(self.cache_dir, f"{name}.json"))
        return e

    def check(self, name, sql, out_dir):
        """None when the result at out_dir matches the oracle, else why not."""
        if not sql:
            return "no oracle sql"
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return "no output"
        try:
            exp = self.expected(name, sql)
        except Exception as e:  # an oracle that cannot run fails the query
            return f"oracle error: {str(e).splitlines()[0][:200]}"
        got = summary(pd.concat([pd.read_parquet(f) for f in files]))
        if got["columns"] != exp["columns"]:
            return f"columns {got['columns']} != {exp['columns']}"
        if got["rows"] != exp["rows"]:
            return f"rows {got['rows']} != {exp['rows']}"
        if got["digest"] != exp["digest"]:
            return "values differ"
        return None


def refresh():
    """Recompute every workload query's expected digest from the oracle."""
    sys.path.insert(0, HERE)
    import run
    names = sorted({q for qs in run.WORKLOADS.values() for q in qs})
    os.makedirs(run.BUILD, exist_ok=True)
    out = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", run.classpath(),
                    "graftbench.OracleSql",
                    out, ",".join(names)], check=True)
    with open(out) as f:
        sqls = json.load(f)
    oracle = Oracle(run.DATA, os.path.join(run.BUILD, "expected"))
    os.makedirs(COMMITTED, exist_ok=True)
    for n in names:
        e = oracle.expected(n, sqls[n], dirs=[oracle.cache_dir])
        with open(os.path.join(COMMITTED, f"{n}.json"), "w") as f:
            json.dump(e, f, indent=1)
            f.write("\n")
        print(n, e["rows"], "rows")


if __name__ == "__main__":
    if sys.argv[1:] != ["--refresh"]:
        sys.exit(__doc__)
    refresh()
