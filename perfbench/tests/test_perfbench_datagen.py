"""The seeded table generator and the benchmark's metric list.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

#: Parquet types of the reference fixtures (FIXTURES.md).
EXPECTED_TYPES = {
    "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
    "nation": {"n_nationkey": pa.int32(), "n_name": pa.string(), "n_regionkey": pa.int32()},
    "customer": {"c_custkey": pa.int64(), "c_name": pa.string(), "c_nationkey": pa.int32(),
                 "c_acctbal": pa.float64(), "c_mktsegment": pa.string()},
    "supplier": {"s_suppkey": pa.int64(), "s_name": pa.string(), "s_nationkey": pa.int32(),
                 "s_acctbal": pa.float64()},
    "part": {"p_partkey": pa.int64(), "p_name": pa.string(), "p_brand": pa.string(),
             "p_type": pa.string(), "p_size": pa.int32(), "p_retailprice": pa.float64()},
    "orders": {"o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(),
               "o_totalprice": pa.float64(), "o_orderdate": pa.timestamp("us"),
               "o_orderpriority": pa.string()},
    "lineitem": {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
                 "l_linenumber": pa.int32(), "l_quantity": pa.float64(),
                 "l_extendedprice": pa.float64(), "l_discount": pa.float64(),
                 "l_tax": pa.float64(), "l_returnflag": pa.string(),
                 "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us")},
    "events": {"event_id": pa.int64(), "ts": pa.timestamp("us"), "user_id": pa.int64(),
               "event_type": pa.string(), "value": pa.float64(), "props": pa.string()},
    "documents": {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
                  "source": pa.string(), "n_chars": pa.int64()},
    "embeddings": {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()),
                   "label": pa.int32()},
}

#: Row counts of the reference fixtures at sf0.01 (FIXTURES.md).
SF001_ROWS = {"region": 5, "nation": 25, "supplier": 100, "customer": 1500, "part": 2000,
              "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
              "embeddings": 500}


def test_schema_and_row_counts_match_the_reference_fixtures():
    tables = datagen.tables(0.01, seed=3)
    assert set(tables) == set(EXPECTED_TYPES)
    for name, table in tables.items():
        assert {f.name: f.type for f in table.schema} == EXPECTED_TYPES[name], name
        assert table.num_rows == SF001_ROWS[name], name


def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = datagen.tables(0.001, 7), datagen.tables(0.001, 7), datagen.tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_documents_carry_near_and_exact_duplicates():
    docs = datagen.tables(0.01, seed=5)["documents"].to_pydict()
    texts = docs["text"]
    near = [t for t in texts if t.endswith(" dup")]
    assert 10 <= len(near) <= 50  # about 5 % of 500
    assert all(t[: -len(" dup")] in texts for t in near)
    assert docs["n_chars"] == [len(t) for t in texts]


def test_events_are_ordered_and_embeddings_unit_norm():
    t = datagen.tables(0.01, seed=5)
    ts = t["events"].column("ts").cast(pa.int64()).to_pylist()
    assert ts == sorted(ts)
    for vec in t["embeddings"].column("embedding").to_pylist()[:20]:
        assert abs(sum(x * x for x in vec) - 1.0) < 1e-5


def test_benchmark_json_lists_what_run_prints():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        n: run.layer_unit(n) for n in workloads.PER_LAYER
    }
