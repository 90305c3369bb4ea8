#!/usr/bin/env python3
"""Synthesize a larger scale factor by replicating sf0.1 N times with
consistently offset keys, so joins stay referentially intact and the
engine can be dry-run at ~sf1 (the driver only ships up to sf0.1).

Usage: python3 tools/scalegen.py [N] [srcDir] [outDir]

Key columns are offset per replica by i * (max(key)+1) of the BASE table
that owns the key (so lineitem.l_partkey lines up with part.p_partkey in
every replica). Dimension tables region/nation are copied once.
Documents/embeddings replicate with identical text/vectors — exact
duplicates across replicas, which is precisely the workload the dedup
and similarity operators exist for.

Each written table's row count is checked against N times its source's
(once for region/nation); a short table exits non-zero, naming it.
"""
import sys, os
import duckdb

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf1"

# table -> {column: base_table_owning_the_key}
OFFSETS = {
    "region":   None,                      # copy once
    "nation":   None,                      # copy once
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part":     {"p_partkey": "part"},
    "orders":   {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events":   {"event_id": "events:event_id", "user_id": "events:user_id"},
    "documents": {"doc_id": "documents:doc_id"},
    "embeddings": {"vec_id": "embeddings:vec_id"},
}

def main():
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    # DuckDB keeps its own host-derived memory limit; give it a temp dir
    # under the output dir so the 100x lineitem COPY spills at that limit
    # instead of dying, as tools/diffcheck.py does
    con.sql(f"SET temp_directory='{OUT}/.duckdb_tmp'")
    base = {}  # owner -> max+1
    def stride(owner):
        if owner not in base:
            if ":" in owner:
                t, c = owner.split(":")
            else:
                t, c = owner, None
                # key column = the one named in OFFSETS[t] keyed by this owner
                for col, o in OFFSETS[t].items():
                    if o == owner:
                        c = col
            base[owner] = con.sql(
                f"SELECT max({c})+1 FROM '{SRC}/{t}.parquet'").fetchone()[0]
        return base[owner]

    for t, off in OFFSETS.items():
        src = f"'{SRC}/{t}.parquet'"
        dst = f"{OUT}/{t}.parquet"
        if off is None:
            con.sql(f"COPY (SELECT * FROM {src}) TO '{dst}' (FORMAT PARQUET)")
        else:
            parts = []
            for i in range(N):
                # * REPLACE keeps the source COLUMN ORDER intact — queries
                # that serialize whole rows (to_json(struct(*)) in
                # q_kafka_frame) are order-sensitive, and the earlier
                # offset-cols-first SELECT reordered events at sf1
                repl = ", ".join(
                    f"{c} + {i * stride(owner)} AS {c}" for c, owner in off.items())
                parts.append(f"SELECT * REPLACE ({repl}) FROM {src}")
            con.sql(f"COPY ({' UNION ALL '.join(parts)}) TO '{dst}' (FORMAT PARQUET)")
        n = con.sql(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
        want = con.sql(f"SELECT count(*) FROM {src}").fetchone()[0] * (1 if off is None else N)
        if n != want:
            sys.exit(f"scalegen: {t}: wrote {n:,} rows to {dst}, expected {want:,}")
        print(f"{t:12s} {n:>10,} rows -> {dst}")

if __name__ == "__main__":
    main()
