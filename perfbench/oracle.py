"""Compare written query results with their DuckDB oracle twins.

Each query's Spark result is the parquet directory the job wrote; its oracle
is the `SparkEntry.oracleSql` text for the key, run by DuckDB over views of
the same generated corpus. Columns are matched by name; values must be equal
in row order (NaN equals NaN), and integer columns must stay integer (any
width) on both sides.
"""
import glob
import math
import os

import duckdb

TABLES = ["events", "documents"]


class Oracle:
    def __init__(self, corpus_dir, oracle_sql):
        self.con = duckdb.connect()
        self.con.sql(f"SET threads={len(os.sched_getaffinity(0))}")
        self.con.sql("SET memory_limit='2GB'")
        for t in TABLES:
            path = os.path.join(corpus_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.sql = oracle_sql
        self.expected = {}

    def _expected(self, key):
        if key not in self.expected:
            self.expected[key] = self.con.sql(self.sql[key]).df()
        return self.expected[key]

    def check(self, key, result_dir):
        """None when the result equals the oracle, else a one-line reason."""
        if key not in self.sql:
            return "no oracle SQL"
        files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
        if not files:
            return "no result written"
        try:
            odf = self._expected(key)
        except Exception as e:  # an oracle that cannot run is a mismatch
            return f"oracle error: {str(e)[:200]}"
        sdf = self.con.sql("SELECT * FROM read_parquet([" +
                           ",".join(f"'{f}'" for f in files) + "])").df()
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            return f"columns differ: spark={scols} oracle={ocols}"
        if len(odf) != len(sdf):
            return f"rows differ: spark={len(sdf)} oracle={len(odf)}"

        def kind(dt):
            return "i" if dt.kind in ("i", "u") else dt.kind
        for c in ocols:
            if kind(odf[c].dtype) != kind(sdf[c].dtype):
                return f"type differs in {c}: spark={sdf[c].dtype} oracle={odf[c].dtype}"
            for i, (a, b) in enumerate(zip(odf[c].tolist(), sdf[c].tolist())):
                if not same(a, b):
                    return f"value differs: col={c} row={i} spark={b!r} oracle={a!r}"
        return None


def same(a, b):
    """Exact equality, NaN equal to NaN, lists element by element."""
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, dict) or isinstance(b, dict):
        return a == b
    if hasattr(a, "__len__") and hasattr(b, "__len__") and not isinstance(a, (str, bytes)):
        a, b = list(a), list(b)
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return bool(a == b)
