"""Generate a 10x-scaled fixture set for the scaling-curve bench point:
at sf1 the local-mode per-query floor stops dominating and the
BENCH-vs-DuckDB ratio measures real compute.

Each scaled table is the union of K=10 key-shifted copies of the
sf0.1 fixture: every key column is offset by copy_index * (max_key+1)
so referential joins keep matching within a copy and cardinalities
scale with volume (10x orders, 10x customers, 10x users, ...), while
non-key distributions (dates, prices, text, vectors) keep the sf0.1
shape. region/nation are dimension-stable (TPC-H keeps them fixed at
every SF) and are copied as-is.

Output: /root/repo/.scratch/sf1/*.parquet (gitignored scratch).
Usage: python tools/make_sf10x.py [src_sf_dir] [k]
"""

from __future__ import annotations

import os
import sys

import duckdb

#: key columns to shift per table (column -> shifted by that table's
#: own max+1; foreign keys shift by the REFERENCED table's max+1 so
#: joins stay aligned across tables).
KEYED = {
    "orders": {"o_orderkey": "orders.o_orderkey", "o_custkey": "customer.c_custkey"},
    "lineitem": {
        "l_orderkey": "orders.o_orderkey",
        "l_partkey": "part.p_partkey",
        "l_suppkey": "supplier.s_suppkey",
    },
    "customer": {"c_custkey": "customer.c_custkey"},
    "part": {"p_partkey": "part.p_partkey"},
    "supplier": {"s_suppkey": "supplier.s_suppkey"},
    "events": {"event_id": "events.event_id", "user_id": "events.user_id"},
    "documents": {"doc_id": "documents.doc_id"},
    "embeddings": {"vec_id": "embeddings.vec_id"},
}
COPY_AS_IS = ["region", "nation"]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    # output dir name (under .scratch/): sf1 for the 10x point,
    # sf10 for the 100x scaling point
    name = sys.argv[3] if len(sys.argv) > 3 else "sf1"
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        name,
    )
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in list(KEYED) + COPY_AS_IS:
        # src tables may themselves be directory layouts (sf1 built by
        # this script) — glob the part files in that case
        p = f"{src}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # strides: max+1 per referenced key, computed once
    stride: dict[str, int] = {}
    for refs in KEYED.values():
        for ref in refs.values():
            if ref not in stride:
                tbl, col = ref.split(".")
                stride[ref] = (
                    con.execute(f"SELECT max({col})+1 FROM {tbl}").fetchone()[0]
                )

    for t in COPY_AS_IS:
        con.execute(
            f"COPY (SELECT * FROM {t}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied as-is")
    # Scaled tables are written as a DIRECTORY of k part files (one
    # per key-shifted copy): a single merged file would give Spark one
    # scan partition per table (file < maxPartitionBytes), which is
    # unrepresentative of any real multi-file warehouse layout and
    # serializes the scan stage. Spark reads the directory natively;
    # tools/baseline_duck.py globs it.
    for t, refs in KEYED.items():
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        tdir = f"{out}/{t}.parquet"
        os.makedirs(tdir, exist_ok=True)
        for f in os.listdir(tdir):
            os.remove(os.path.join(tdir, f))
        for i in range(k):
            exprs = []
            for c in cols:
                if c in refs:
                    exprs.append(f"{c} + {i} * {stride[refs[c]]} AS {c}")
                else:
                    exprs.append(c)
            con.execute(
                f"COPY (SELECT {', '.join(exprs)} FROM {t}) TO "
                f"'{tdir}/part-{i:02d}.parquet' (FORMAT PARQUET)"
            )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{tdir}/*.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows ({k}x, {k} files)")


if __name__ == "__main__":
    main()
