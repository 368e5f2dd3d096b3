"""Iceberg manifest layer: Avro reader goldens + planning semantics.

The avro_light reader's correctness argument is deliberately NOT
"round-trips our own writer": the fixture bytes are golden-pinned here
(md5 per file) so any writer drift is visible, specific decoded values
are pinned against hand-derived expectations from the spec encoding,
and the operator output is cross-checked by the DuckDB oracle over the
independent NDJSON projection (tests/test_parity.py does that part).
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import struct

import pytest

from hive_metadata_collect_spark.sources.avro_light import (
    read_ocf,
    write_ocf,
)

META = str(
    pathlib.Path(__file__).resolve().parents[1]
    / "fixtures"
    / "iceberg_table"
    / "metadata"
)

GOLDEN_MD5 = {
    "m-0001.avro": "07642b1eeca938f330eb028e0121936c",
    "m-0001r.avro": "93ead360e99eb750424404c46128f60c",
    "m-0002.avro": "0499538037ae97f8355c241043081e30",
    "m-0003.avro": "331fa8690dbad3cdf526bfa9d646a99b",
    "snap-3051729675574597004-1.avro": "b101e4ca92d208ce4d1a8e204d99115d",
    "snap-3055729675574597111-1.avro": "ea5997f875ce57648b66407330420231",
    "snap-3060729675574597999-1.avro": "f379feac942ed293d9a1083489f8ca9f",
}


def test_fixture_bytes_golden():
    for name, want in GOLDEN_MD5.items():
        got = hashlib.md5(
            open(os.path.join(META, name), "rb").read()
        ).hexdigest()
        assert got == want, f"{name} fixture bytes drifted: {got}"


def test_reader_decodes_manifest_entry_values():
    _schema, recs = read_ocf(
        open(os.path.join(META, "m-0003.avro"), "rb").read()
    )
    assert len(recs) == 2
    e = recs[0]
    assert e["status"] == 1
    assert e["snapshot_id"] == 3060729675574597999
    d = e["data_file"]
    assert d["file_path"] == "data/f-c1.parquet"
    assert d["file_format"] == "PARQUET"
    assert d["record_count"] == 40
    assert d["file_size_in_bytes"] == 5100
    assert struct.unpack("<q", d["lower_bounds"][0]["value"])[0] == 96
    assert struct.unpack("<q", d["upper_bounds"][0]["value"])[0] == 180


def test_reader_decodes_manifest_list():
    _schema, recs = read_ocf(
        open(os.path.join(META, "snap-3060729675574597999-1.avro"), "rb").read()
    )
    assert [r["manifest_path"] for r in recs] == [
        "m-0003.avro",
        "m-0001r.avro",
        "m-0002.avro",
    ]
    r = recs[1]  # the overwrite's rewritten manifest
    assert r["existing_files_count"] == 1
    assert r["deleted_files_count"] == 1
    assert r["deleted_rows_count"] == 50


def test_zigzag_roundtrip_extremes():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "long"]},
            {"name": "c", "type": "string"},
            {"name": "d", "type": "boolean"},
            {"name": "e", "type": {"type": "map", "values": "string"}},
        ],
    }
    rows = [
        {"a": 0, "b": None, "c": "", "d": False, "e": {}},
        {"a": -1, "b": 2**62, "c": "naïve ✓", "d": True, "e": {"k": "v"}},
        {"a": -(2**62), "b": -3, "c": "x" * 300, "d": False,
         "e": {"a": "1", "b": "2"}},
    ]
    _s, got = read_ocf(write_ocf(schema, rows))
    assert got == rows


def test_bad_magic_and_codec_raise():
    with pytest.raises(ValueError, match="magic"):
        read_ocf(b"PAR1" + b"\x00" * 32)
    # non-null codec in the file-metadata map must raise, not
    # misdecode the compressed block
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}],
    }
    blob = bytearray(write_ocf(schema, [{"a": 1}]))
    idx = blob.find(b"null", blob.find(b"avro.codec"))
    assert idx > 0
    # same-length codec name keeps the Avro string length prefix valid
    blob[idx : idx + 4] = b"zstd"
    with pytest.raises(ValueError, match="unsupported Avro codec"):
        read_ocf(bytes(blob))


def test_manifest_prune_plan_semantics(spark, sf_dir):
    from hive_metadata_collect_spark import registry

    ops = registry.load_all()
    rows = {
        r["file_path"]: r
        for r in ops["cat_iceberg_manifest_prune"].fn(spark, sf_dir).collect()
    }
    # overwrite-deleted file never appears in the live plan
    assert "data/f-a2.parquet" not in rows
    assert len(rows) == 6
    # bounds pruning: only f-a1 [1,100] misses [150,450]
    assert rows["data/f-a1.parquet"]["selected"] is False
    assert sum(1 for r in rows.values() if r["selected"]) == 5
    # the carried-forward snapshot-2 manifest still serves its files
    assert rows["data/f-b2.parquet"]["manifest_path"] == "m-0002.avro"


def test_live_reconcile_invariant(spark, sf_dir):
    from hive_metadata_collect_spark import registry

    ops = registry.load_all()
    row = (
        registry.load_all()["cat_iceberg_live_reconcile"]
        .fn(spark, sf_dir)
        .collect()[0]
    )
    assert row["n_live_files"] == 6
    assert row["live_records"] == 280
    assert row["summary_net_records"] == 280
    assert row["reconciled"] is True
