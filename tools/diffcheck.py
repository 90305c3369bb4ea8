#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle differential check.

Usage: python3 tools/diffcheck.py <sfDir> <verifyOutDir> [q_a q_b ...]

Registers each testdata parquet as a DuckDB view, runs every oracle SQL from
oracle_sql.json, and compares with the Spark-written parquet (columns sorted
by name, exact value equality — same spirit as the driver's hash compare).
"""
import sys, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    # DuckDB keeps its own host-derived memory limit (80% of RAM); give it
    # a temp dir so heavy oracles spill at that limit instead of dying
    # (observed at the 100x dir: an in-memory connection with no temp dir
    # grinds to the cap and fails instead of spilling)
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only:
        dumped = {d.split("/")[-1] for d in glob.glob(f"{out_dir}/q_*")}
        unknown = sorted(only - oracle.keys() - dumped)
        if unknown:
            print(f"UNKNOWN QUERIES: {', '.join(unknown)}")
            return 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    fails = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"{name:22s} NO SPARK OUTPUT"); fails.append(name); continue
        try:
            rel = con.sql(sql)
            # Driver-parity dtype gate: the driver hashes DuckDB's native
            # result types, and an un-cast SUM(BIGINT) silently widens to
            # HUGEINT (int128) — value-equal to Spark's int64 after pandas
            # coercion but hash-DIFFERENT on the driver (the round-6 red-row
            # cause). Fail here, before pandas hides it.
            # Substring match, not prefix: a widened type nested inside a
            # LIST/STRUCT column (e.g. BIGINT[] that widened to HUGEINT[])
            # stringifies with the widened name in the middle of the type.
            widened = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                       if any(w in str(t).upper()
                              for w in ("HUGEINT", "DECIMAL", "UBIGINT"))]
            if widened:
                print(f"{name:22s} ORACLE DTYPE {widened} — cast to BIGINT/DOUBLE in the oracle SQL")
                fails.append(name); continue
            odf = rel.df()
        except Exception as e:
            print(f"{name:22s} ORACLE ERROR: {e}"); fails.append(name); continue
        sdf = pd.read_parquet(files[0]) if len(files) == 1 else pd.concat(
            [pd.read_parquet(f) for f in sorted(files)])
        # sort rows by all columns, like the driver's hash compare — query
        # ORDER BY ties would otherwise show up as false value diffs
        cols = sorted(odf.columns)
        o = odf[cols].sort_values(by=cols).reset_index(drop=True)
        s = sdf[cols].sort_values(by=cols).reset_index(drop=True) if set(sdf.columns) == set(odf.columns) else None
        if s is None:
            print(f"{name:22s} COLUMN MISMATCH spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            fails.append(name); continue
        if len(o) != len(s):
            print(f"{name:22s} ROWCOUNT spark={len(s)} oracle={len(o)}"); fails.append(name); continue
        bad = []
        for c in o.columns:
            oc, sc = o[c], s[c]
            if oc.dtype.kind == 'f' or sc.dtype.kind == 'f':
                eq = (oc.isna() & sc.isna()) | (oc == sc)  # exact double equality
            else:
                eq = (oc.isna() & sc.isna()) | (oc.astype(object) == sc.astype(object))
            if not eq.all():
                i = int(np.where(~eq)[0][0])
                bad.append((c, i, oc.iloc[i], sc.iloc[i]))
        if bad:
            c, i, ov, sv = bad[0]
            print(f"{name:22s} VALUE DIFF col={c} row={i} oracle={ov!r} spark={sv!r} ({len(bad)} cols differ)")
            fails.append(name)
        else:
            print(f"{name:22s} OK ({len(o)} rows)")
    # rows-only queries
    for d in sorted(glob.glob(f"{out_dir}/q_*")):
        name = d.split("/")[-1]
        if name in oracle: continue
        if only and name not in only: continue
        files = glob.glob(f"{d}/*.parquet")
        n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
        status = "rows>0 OK" if n > 0 else "EMPTY!"
        if n == 0: fails.append(name)
        print(f"{name:22s} {status} ({n} rows, no oracle)")
    print(f"\n{'ALL PASS' if not fails else 'FAILURES: ' + ', '.join(fails)}")
    return 1 if fails else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  only=set(sys.argv[3:]) or None))
