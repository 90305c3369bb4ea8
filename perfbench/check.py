"""Output checks, run after the timed window.

analytics/corpus: every op's output (written by the harness's check pass)
must equal `SparkEntry.oracleSql` run in DuckDB over the same generated
tables — rows sorted by all columns, exact value equality.
cdc_http: the compacted output must equal the expected compaction of what
the stub served (stub.expected_compaction).
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _norm(v):
    if isinstance(v, np.ndarray):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, pd.Timestamp):
        return v.value
    return v


def _sort_key(row):
    # None sorts first; mixed types compare by type name then value
    return tuple((x is not None, type(x).__name__, x) if not isinstance(x, tuple)
                 else (True, "tuple", repr(x)) for x in row)


def frames_equal(expected, actual):
    """None when equal, else a one-line description of the first difference."""
    if set(expected.columns) != set(actual.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(expected) != len(actual):
        return f"rows {len(actual)} != {len(expected)}"
    cols = sorted(expected.columns)
    e = sorted((tuple(_norm(v) for v in r) for r in expected[cols].itertuples(index=False)),
               key=_sort_key)
    a = sorted((tuple(_norm(v) for v in r) for r in actual[cols].itertuples(index=False)),
               key=_sort_key)
    for i, (x, y) in enumerate(zip(e, a)):
        if x != y:
            return f"row {i}: {y!r:.200} != {x!r:.200}"
    return None


def oracle_check(data_dir, check_dir, oracle_sql, ops, threads, tmp_dir):
    """{op: (rows or None, error or None)} for every op."""
    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    con.sql("SET memory_limit='1GB'")
    con.sql(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for op in ops:
        path = os.path.join(check_dir, op)
        sql = oracle_sql.get(op)
        if not glob.glob(os.path.join(path, "*.parquet")):
            out[op] = (None, "no output")
        elif sql is None:
            out[op] = (None, "no oracle")
        else:
            try:
                expected = con.sql(sql).df()
            except duckdb.Error as e:
                out[op] = (None, f"oracle error: {e}")
                continue
            actual = read_output(path)
            out[op] = (len(actual), frames_equal(expected, actual))
    con.close()
    return out


def cdc_check(check_dir, expected_rows):
    actual = read_output(os.path.join(check_dir, "cdc_drain"))
    if actual is None:
        return None, "no output"
    return len(actual), frames_equal(pd.DataFrame(expected_rows), actual)
