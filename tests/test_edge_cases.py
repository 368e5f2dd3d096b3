"""Engine-side semantic assertions the DuckDB oracle can't express
(SURVEY.md §5.3b): approximation bounds, LSH recall vs exact, UDTF
multi-key behavior, empty/ties/null edge fixtures, multimodal
plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.sources.fixtures import load_table

OPS = registry.load_all()


def test_approx_distinct_within_5pct(spark, sf_dir):
    """The op's own within-bound bools must be TRUE, its exact columns
    must equal independently-computed exacts, and the raw HLL++
    estimate must numerically land inside the ±5% band."""
    row = OPS["agg_approx_distinct"].fn(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    exact_parts = li.select("l_partkey").distinct().count()
    exact_orders = li.select("l_orderkey").distinct().count()
    assert row["exact_parts"] == exact_parts
    assert row["exact_orders"] == exact_orders
    assert row["parts_within_5pct"] and row["orders_within_5pct"]
    raw = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("ao"),
    ).collect()[0]
    assert abs(raw["ap"] - exact_parts) / exact_parts < 0.05
    assert abs(raw["ao"] - exact_orders) / exact_orders < 0.05


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    from hive_metadata_collect_spark.llm.dedup import minhash_lsh_candidates

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in OPS["dedup_near_minhash"].fn(spark, sf_dir).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(spark, sf_dir).collect()
    }
    assert exact, "exact near-dup set unexpectedly empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"MinHash-LSH recall too low: {recall:.2f}"
    # ... and the registered contract op must report the same verdict
    row = OPS["dedup_near_minhash_lsh"].fn(spark, sf_dir).collect()[0]
    assert row["n_exact_pairs"] == len(exact)
    assert row["recall_ge_09"] is True


def test_projection_lsh_recall_vs_exact(spark, sf_dir):
    from hive_metadata_collect_spark.llm.similarity import lsh_pair_candidates

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in OPS["sim_pairs_threshold"].fn(spark, sf_dir).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_pair_candidates(spark, sf_dir).collect()
    }
    assert exact, "exact similar-pair set unexpectedly empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"projection-LSH recall too low: {recall:.2f}"
    # re-ranking is exact → no false positives above threshold
    assert approx <= exact
    row = OPS["sim_pairs_lsh"].fn(spark, sf_dir).collect()[0]
    assert row["n_exact_pairs"] == len(exact)
    assert row["recall_ge_05"] is True
    assert row["no_false_positives"] is True


def test_udtf_multi_key_props(spark):
    """The fixture only carries single-key props; prove multi-key
    explode behavior on an inline frame."""
    from hive_metadata_collect_spark.llm.udfs import register_split_props

    register_split_props(spark)
    df = spark.createDataFrame(
        [
            (1, '{"a": 1, "b": 2}'),
            (2, "{}"),
            (3, None),
            (4, "not json"),
            (5, '{"f": 1.9, "g": 3.0, "s": "x", "t": true}'),
        ],
        "event_id long, props string",
    )
    df.createOrReplaceTempView("hmcs_events_src")
    out = spark.sql(
        "SELECT e.event_id, t.prop_key, t.prop_val "
        "FROM hmcs_events_src e, LATERAL hmcs_split_props(e.props) t"
    ).collect()
    # Non-integral floats, strings, and bools map to NULL (CAST-to-
    # BIGINT oracle semantics); integral floats pass through.
    assert {(r["event_id"], r["prop_key"], r["prop_val"]) for r in out} == {
        (1, "a", 1),
        (1, "b", 2),
        (5, "f", None),
        (5, "g", 3),
        (5, "s", None),
        (5, "t", None),
    }


def test_asof_join_edges(spark):
    """As-of semantics on a hand-built frame: equal-ts view counts,
    later views don't, no-prior-view → null."""
    from hive_metadata_collect_spark.operators import joins  # noqa: F401
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        (1, ts(0), 7, "view", 0.0, "{}"),
        (2, ts(5), 7, "click", 0.0, "{}"),   # prior view at t0
        (3, ts(5), 8, "click", 0.0, "{}"),   # no view ever -> null
        (4, ts(9), 7, "view", 0.0, "{}"),
        (5, ts(9), 7, "click", 0.0, "{}"),   # equal-ts view counts (>= semantics)
        (6, ts(20), 7, "view", 0.0, "{}"),   # later view must not backfill
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )

    import unittest.mock as mock

    with mock.patch.object(joins, "load_table", return_value=ev):
        out = {r["event_id"]: r["prior_view_ts"] for r in joins.join_asof(spark, "ignored").collect()}
    assert out[2] == ts(0)
    assert out[3] is None
    assert out[5] == ts(9)


def test_windows_single_row_and_empty_groups(spark):
    """Window ops on degenerate frames: single row and empty input."""
    from hive_metadata_collect_spark.operators import windows

    import unittest.mock as mock

    one = spark.createDataFrame(
        [(1, 1, "O", 10.0, __import__("datetime").datetime(2020, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    empty = one.filter(F.lit(False))
    for frame, expect in [(one, 1), (empty, 0)]:
        with mock.patch.object(windows, "load_table", return_value=frame):
            assert windows.win_topk_per_group(spark, "x").count() == expect
            assert windows.win_running_sum(spark, "x").count() == expect


def test_dedup_exact_finds_planted_dups(spark):
    from hive_metadata_collect_spark.llm import dedup
    import unittest.mock as mock

    docs = spark.createDataFrame(
        [(1, "aa bb", "en", "s", 5), (2, "aa bb", "en", "s", 5), (3, "cc", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with mock.patch.object(dedup, "load_table", return_value=docs):
        out = dedup.dedup_exact(spark, "x").collect()
    assert len(out) == 1 and out[0]["n_docs"] == 2 and out[0]["keep_doc"] == 1


def test_multimodal_plumbing(spark, sf_dir):
    """Full binary pipeline with the deterministic fake decoder, plus
    the frame-sampling explode stage."""
    from hive_metadata_collect_spark.llm import multimodal as mm

    d = load_table(spark, sf_dir, "documents").limit(20)
    payloads = d.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("video").alias("modality"),
    )
    decoded = mm.decode_features(payloads, decoder=mm.fake_decode)
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(64 <= r["width"] <= 64 + 255 for r in rows)
    frames = mm.sample_frames(decoded, every_nth=2)
    assert frames.count() >= 20  # every doc emits frame 0

    # every modality slot now holds a REAL container parser; feeding
    # it non-container bytes (utf-8 text) must fail loudly, never
    # decode garbage silently
    with pytest.raises(Exception) as exc_info:
        mm.decode_features(payloads).collect()
    assert "not a YUV4MPEG2" in str(exc_info.value) or "ValueError" in str(
        exc_info.value
    )


def test_ivf_recall_vs_exact(spark, sf_dir):
    from hive_metadata_collect_spark.llm.similarity import ivf_topk_neighbors

    exact = [r["vec_id"] for r in OPS["sim_topk_cosine"].fn(spark, sf_dir).collect()]
    approx = [r["vec_id"] for r in ivf_topk_neighbors(spark, sf_dir).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    row = OPS["sim_topk_ivf"].fn(spark, sf_dir).collect()[0]
    assert row["n_returned"] == 10
    assert row["recall_ge_04"] is True


def test_hll_union_within_5pct(spark, sf_dir):
    """Every row's within_5pct bool must hold, and the exact columns
    must match independently-computed exact distincts (global and
    per-flag)."""
    from hive_metadata_collect_spark import registry
    from hive_metadata_collect_spark.sources.fixtures import load_table

    ops = registry.load_all()
    rows = {
        r["key"]: r for r in ops["agg_hll_union"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact_global = li.select("l_partkey").distinct().count()
    assert rows["__global__"]["exact_distinct"] == exact_global
    for r in rows.values():
        assert r["within_5pct"], r
    for row in (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    ):
        assert rows[row["l_returnflag"]]["exact_distinct"] == row["n"]


def test_wav_decoder_known_bytes():
    """decode_wav on a hand-assembled 3-sample PCM16 mono WAV."""
    import struct

    import math

    from hive_metadata_collect_spark.llm.multimodal import decode_wav

    samples = (100, -200, 300)
    data = struct.pack("<3h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    out = decode_wav(payload)
    assert out["sample_rate"] == 8000
    assert out["n_samples"] == 3
    expected = math.sqrt(sum(s * s for s in samples) / 3)
    assert abs(out["rms"] - expected) < 1e-9


def test_wav_decoder_rejects_garbage():
    import pytest as _pytest

    from hive_metadata_collect_spark.llm.multimodal import decode_wav

    with _pytest.raises(ValueError):
        decode_wav(b"not a wav at all........")


def test_ppm_decoder_known_bytes():
    from hive_metadata_collect_spark.llm.multimodal import decode_ppm

    payload = b"P6\n2 3\n255\n" + bytes(range(18))
    out = decode_ppm(payload)
    assert (out["width"], out["height"], out["maxval"]) == (2, 3, 255)
    assert abs(out["mean_pixel"] - sum(range(18)) / 18) < 1e-9


def test_ppm_decoder_rejects_truncated():
    import pytest as _pytest

    from hive_metadata_collect_spark.llm.multimodal import decode_ppm

    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n4 4\n255\n" + bytes(5))


def test_video_decoder_real_y4m_and_bad_magic():
    """The video modality carries a REAL YUV4MPEG2 parser: a synth
    stream decodes to its closed-form luma stats, and non-y4m bytes
    (e.g. an MP4 ftyp box) raise a format error, not a decode."""
    import pytest as _pytest

    from hive_metadata_collect_spark.llm.multimodal import DECODERS

    w, h = 4, 2
    y_plane = bytes(range(w * h))
    chroma = bytes((w // 2) * (h // 2)) * 2
    stream = b"YUV4MPEG2 W4 H2 F25:1 C420\n" + 2 * (b"FRAME\n" + y_plane + chroma)
    out = DECODERS["video"](stream)
    assert (out["width"], out["height"], out["n_frames"]) == (w, h, 2)
    assert abs(out["mean_y"] - sum(range(w * h)) / (w * h)) < 1e-9

    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        DECODERS["video"](b"\x00\x00\x00\x18ftypmp42")


def test_pq_recall_vs_exact(spark, sf_dir):
    """PQ ANN must recover most of the exact top-10 after ADC
    candidate generation + exact re-rank."""
    from hive_metadata_collect_spark.llm.similarity import pq_topk_neighbors

    exact = [r["vec_id"] for r in OPS["sim_topk_cosine"].fn(spark, sf_dir).collect()]
    approx = [r["vec_id"] for r in pq_topk_neighbors(spark, sf_dir).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, f"PQ recall too low: {recall:.2f}"
    row = OPS["sim_topk_pq"].fn(spark, sf_dir).collect()[0]
    assert row["n_returned"] == 10
    assert row["recall_ge_05"] is True


def test_lsh_components_invariants(spark, sf_dir):
    """LSH-bucket star components: labels are component minima (every
    canonical_id <= its doc_id and is itself a clustered doc's label
    root), and exact duplicates — identical text, hence identical
    minhash signatures and band buckets — always land in one cluster."""
    rows = OPS["dedup_lsh_components"].fn(spark, sf_dir).collect()
    label = {r["doc_id"]: r["canonical_id"] for r in rows}
    assert rows, "no clustered docs at this sf"
    assert all(c <= d for d, c in label.items())
    # every canonical is a fixpoint: label[c] == c for clustered canons
    assert all(label.get(c, c) == c for c in set(label.values()))
    from hive_metadata_collect_spark.sources.fixtures import load_table
    import pyspark.sql.functions as F

    dup_groups = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .collect()
    )
    for g in dup_groups:
        labels = {label.get(d) for d in g["ids"]}
        assert len(labels) == 1 and None not in labels, g["ids"]


def test_ivfpq_recall_vs_exact(spark, sf_dir):
    """Composite IVF+PQ must recover most of the exact top-10: the
    coarse quantizer's unprobed-list misses are the only loss source
    the exact re-rank cannot absorb, so recall tracks plain IVF."""
    from hive_metadata_collect_spark.llm.similarity import ivfpq_topk_neighbors

    exact = [r["vec_id"] for r in OPS["sim_topk_cosine"].fn(spark, sf_dir).collect()]
    approx = [r["vec_id"] for r in ivfpq_topk_neighbors(spark, sf_dir).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, f"IVFPQ recall too low: {recall:.2f}"
    row = OPS["sim_topk_ivfpq"].fn(spark, sf_dir).collect()[0]
    assert row["n_returned"] == 10
    assert row["recall_ge_04"] is True


def test_approx_percentiles_within_bound(spark, sf_dir):
    """Sketch percentiles must land within one quantile step of the
    exact interpolated values (accuracy 10000 → ~1e-4 rank error;
    l_quantity is integer-valued 1..50, so allow one unit)."""
    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in OPS["agg_percentiles"].fn(spark, sf_dir).collect()
    }
    got = {
        r["l_returnflag"]: r
        for r in OPS["agg_approx_percentiles"].fn(spark, sf_dir).collect()
    }
    assert exact.keys() == got.keys()
    for k in exact:
        assert got[k]["p50_exact"] == exact[k][0], (k, got[k], exact[k])
        assert got[k]["p90_exact"] == exact[k][1], (k, got[k], exact[k])
        assert got[k]["p50_within_1"] and got[k]["p90_within_1"], got[k]


def test_approx_topk_recall_vs_exact(spark, sf_dir):
    """approx_top_k's 10 heavy hitters must match the exact top-10 of
    l_partkey % 97 with tie tolerance: every sketch item's exact count
    must be >= the 10th-highest exact count, and every exact item
    strictly above that threshold must appear in the sketch. With 97
    distinct keys and a 100-slot sketch the counts are also exact."""
    li = load_table(spark, sf_dir, "lineitem")
    exact_rows = (
        li.groupBy((F.col("l_partkey") % 97).alias("item"))
        .count()
        .orderBy(F.desc("count"), "item")
        .collect()
    )
    exact_counts = {r["item"]: r["count"] for r in exact_rows}
    threshold = exact_rows[9]["count"]
    approx = OPS["agg_approx_topk"].fn(spark, sf_dir).collect()
    assert len(approx) == 10
    for r in approx:
        assert exact_counts.get(r["item"], 0) >= threshold, (
            r["item"],
            r["est_count"],
            threshold,
        )
    must_include = {i for i, c in exact_counts.items() if c > threshold}
    sketch_items = {r["item"] for r in approx}
    assert must_include <= sketch_items
    # 97 keys < 100 sketch slots -> the sketch degrades to exact counts
    for r in approx:
        assert r["est_count"] == exact_counts[r["item"]]


def test_storage_size_matches_os_stat(spark, sf_dir):
    """cat_storage_size totals must equal os.stat byte-for-byte and
    n_files must match the directory listing (the engine-side oracle
    for the path-parameterized op that static SQL can't express)."""
    import glob as _glob
    import os as _os

    from hive_metadata_collect_spark.catalog.partitions import (
        storage_size_live,
    )

    rows = {
        r["table_name"]: r
        for r in storage_size_live(spark, sf_dir).collect()
    }
    expected: dict[str, list] = {}
    for p in _glob.glob(_os.path.join(sf_dir, "*.parquet")):
        t = _os.path.basename(p).removesuffix(".parquet")
        if _os.path.isdir(p):
            # make_sf10x.py directory layout: table.parquet/part-NN.parquet
            for part in _glob.glob(_os.path.join(p, "*.parquet")):
                expected.setdefault(t, []).append(_os.stat(part).st_size)
        else:
            expected.setdefault(t, []).append(_os.stat(p).st_size)
    assert rows.keys() == expected.keys()
    for t, sizes in expected.items():
        assert rows[t]["n_files"] == len(sizes), t
        assert rows[t]["total_bytes"] == sum(sizes), t


def test_storage_size_multifile_dir_layout(spark, tmp_path):
    """On the sf10x directory layout
    (`lineitem.parquet/part-00.parquet`) every part file must roll up
    under its TABLE directory's name — the old filename-only regex
    collapsed all multi-file tables into an empty-string group."""
    import os as _os

    root = tmp_path / "wh"
    for table, nparts in [("lineitem", 3), ("orders", 2)]:
        d = root / f"{table}.parquet"
        d.mkdir(parents=True)
        for i in range(nparts):
            (d / f"part-{i:02d}.parquet").write_bytes(b"x" * (100 + i))
    # single-file table beside the directory tables
    (root / "region.parquet").write_bytes(b"y" * 37)

    from hive_metadata_collect_spark.catalog.partitions import (
        storage_size_live,
    )

    rows = {
        r["table_name"]: r
        for r in storage_size_live(spark, str(root)).collect()
    }
    assert rows.keys() == {"lineitem", "orders", "region"}
    assert rows["lineitem"]["n_files"] == 3
    assert rows["lineitem"]["total_bytes"] == 100 + 101 + 102
    assert rows["orders"]["n_files"] == 2
    assert rows["orders"]["total_bytes"] == 100 + 101
    assert rows["region"]["n_files"] == 1
    assert rows["region"]["total_bytes"] == 37


def test_storage_size_never_reads_content(spark, sf_dir):
    """The binaryFile scan must prune the content column — the plan's
    ReadSchema carries only path/length metadata fields."""
    from hive_metadata_collect_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["cat_storage_size"].fn(spark, sf_dir))
    assert "content" not in plan
    assert "length" in plan


def test_pack_sequences_is_contiguous(spark, sf_dir):
    """Packing invariant: within each language stream, doc k+1's start
    offset equals doc k's start + doc k's token count (zero waste,
    zero overlap), and every bin_offset < the context budget."""
    from hive_metadata_collect_spark.llm.text import _PACK_CTX

    rows = OPS["pipeline_pack_sequences"].fn(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert by_lang
    for lang, docs in by_lang.items():
        docs.sort(key=lambda r: r["doc_id"])
        start = 0
        for r in docs:
            assert r["bin_id"] == start // _PACK_CTX, (lang, r)
            assert r["bin_offset"] == start % _PACK_CTX, (lang, r)
            assert 0 <= r["bin_offset"] < _PACK_CTX
            start += r["n_tokens"]


def test_stratified_sample_rates(spark, sf_dir):
    """Sampled stratum sizes must track the declared rates (md5
    buckets are uniform-ish; allow a wide tolerance at fixture scale)
    and sampling must be a subset of the corpus keyed deterministically."""
    d = load_table(spark, sf_dir, "documents")
    totals = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sampled: dict[str, int] = {}
    for r in OPS["pipeline_stratified_sample"].fn(spark, sf_dir).collect():
        sampled[r["lang"]] = sampled.get(r["lang"], 0) + 1
    for lang, n_total in totals.items():
        rate = 0.20 if lang == "en" else 0.60
        got = sampled.get(lang, 0) / n_total
        assert abs(got - rate) < 0.15, (lang, got, rate)


def test_lineage_sql_cte_aliases_excluded(spark, sf_dir):
    """Lineage grammar: the parser must never emit a CTE alias as a
    source table — the table INSIDE the CTE body is the true source —
    and must parse INSERT OVERWRITE targets and backticked identifiers
    like the plain forms."""
    rows = OPS["cat_lineage_sql"].fn(spark, sf_dir).collect()
    srcs = {r["src_table"] for r in rows}
    dsts = {r["dst_table"] for r in rows}
    # CTE aliases (tmp_*) excluded; CTE-body tables (staging_*) present
    assert not any(s.startswith("tmp_") for s in srcs), sorted(srcs)
    assert any(s.startswith("staging_") for s in srcs)
    # derived-table subquery: inner table survives, alias 's' does not
    assert any(s.startswith("inner_") for s in srcs)
    assert "s" not in srcs and "select" not in srcs
    # backtick-quoted FROM parses to the bare name (no stray backticks)
    assert all("`" not in s for s in srcs)
    # INSERT OVERWRITE TABLE targets parse identically to INSERT INTO
    assert all(d.startswith("mart_") for d in dsts)


def test_lineage_sql_columns_resolve_through_cte(spark, sf_dir):
    """Column refs bound to a CTE alias must resolve THROUGH the CTE
    to its underlying table: cte_* never appears as a source, base_*
    (the CTE body's table) does, with column names intact."""
    rows = OPS["cat_lineage_sql_columns"].fn(spark, sf_dir).collect()
    srcs = {r["src_table"] for r in rows}
    assert not any(s.startswith("cte_") for s in srcs), sorted(srcs)
    base_cols = {
        r["column_name"] for r in rows if r["src_table"].startswith("base_")
    }
    assert base_cols  # CTE-resolved column edges exist
    assert all(c.startswith("col_") for c in base_cols)
    assert all("`" not in s for s in srcs)


def test_incremental_stats_merge_equals_direct(spark, sf_dir):
    """The associativity property the incremental collector rests on:
    merging per-bucket stat tuples must reproduce the direct
    single-pass aggregate exactly (DECIMAL sums make this true by
    construction; float sums would not be)."""
    from pyspark.sql import functions as F

    from hive_metadata_collect_spark import registry
    from hive_metadata_collect_spark.sources.fixtures import load_table

    ops = registry.load_all()
    merged = ops["cat_incremental_stats_merge"].fn(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    direct = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_price"),
    ).collect()[0]
    assert merged["n_rows"] == direct["n_rows"]
    assert merged["min_qty"] == direct["min_qty"]
    assert merged["max_qty"] == direct["max_qty"]
    assert merged["sum_price"] == direct["sum_price"]


def test_decontaminate_lsh_recall_and_precision_vs_exact(spark, sf_dir):
    """The SRP-bucketed decontamination path vs its exact twin:
    every flagged train vector must be truly contaminated (precision
    1 — the exact re-rank guarantees it) and the flagged set must
    recover most of the exact twin's flags (banding recall)."""
    from hive_metadata_collect_spark import registry

    ops = registry.load_all()
    from hive_metadata_collect_spark.llm.similarity import (
        decontaminate_lsh_hits,
    )

    exact = {
        r["train_vec"]: r["max_cosine"]
        for r in ops["pipeline_decontaminate_embed"].fn(spark, sf_dir).collect()
    }
    approx = {
        r["train_vec"]: r["max_cosine"]
        for r in decontaminate_lsh_hits(spark, sf_dir).collect()
    }
    assert set(approx) <= set(exact), "false contamination flags"
    if exact:
        recall = len(set(approx) & set(exact)) / len(exact)
        assert recall >= 0.6, f"recall {recall}"
    for k, v in approx.items():
        assert v <= exact[k] + 1e-9  # candidate max can't exceed exact max
    row = (
        ops["pipeline_decontaminate_embed_lsh"].fn(spark, sf_dir).collect()[0]
    )
    assert row["n_exact_contaminated"] == len(exact)
    assert row["subset_ok"] is True
    assert row["recall_ge_06"] is True


def test_parquet_footer_stats_match_duckdb_metadata(spark, sf_dir, duck):
    """Two independent footer parsers must agree: pyarrow's row-group
    count and row count vs DuckDB's parquet_metadata() on the same
    file."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/lineitem.parquet"
    md = pq.ParquetFile(path).metadata
    # parquet_metadata() is one row per (row_group, column) — dedupe
    # to row groups before summing
    n_groups, n_rows = duck.execute(
        f"""SELECT count(*), sum(row_group_num_rows) FROM (
                SELECT DISTINCT row_group_id, row_group_num_rows
                FROM parquet_metadata('{path}'))
            """
    ).fetchone()
    assert md.num_row_groups == n_groups
    assert md.num_rows == n_rows


def test_fk_inference_discriminates(spark, sf_dir):
    """The containment pass must REJECT the two seeded negative
    controls (measure column: containment << 1; reversed FK:
    parent side non-unique) while inferring every true FK."""
    from hive_metadata_collect_spark.catalog.stats import cat_fk_inference

    rows = {
        (r.child_table, r.child_column): r
        for r in cat_fk_inference(spark, sf_dir).collect()
    }
    assert not rows[("part", "p_size")].is_inferred_fk
    assert rows[("part", "p_size")].containment < 0.5
    assert not rows[("orders", "o_orderkey")].is_inferred_fk
    assert not rows[("orders", "o_orderkey")].parent_is_unique
    true_fks = [k for k in rows if k not in
                {("part", "p_size"), ("orders", "o_orderkey")}]
    assert all(rows[k].is_inferred_fk for k in true_fks)


def test_lineage_cycles_girth_bounds(spark, sf_dir):
    """Every reported girth must be a feasible cycle length: at least
    2 (self-loops are filtered out of the edge synth) and at most
    |V| (a shortest cycle is simple)."""
    from hive_metadata_collect_spark.catalog.lineage import (
        cat_lineage_cycles,
    )

    rows = cat_lineage_cycles(spark, sf_dir).collect()
    assert rows, "fixture transition graph is known cyclic"
    for r in rows:
        assert 2 <= r.min_cycle_len <= 5


def test_lineage_sql_qualified_and_quoted_identifiers(spark, sf_dir):
    """Lineage grammar: db-qualified and
    ANSI-double-quoted identifiers. `db.t` and `t` must resolve to
    DISTINCT sources (different src_db, same src_table), both quote
    styles must normalize to the bare table name, and the db prefix
    must never leak into src_table."""
    edges = OPS["cat_lineage_sql"].fn(spark, sf_dir).collect()
    by_table = {}
    for r in edges:
        by_table.setdefault(r.src_table, set()).add(r.src_db)
        assert "." not in r.src_table, r
        assert "`" not in r.src_table and '"' not in r.src_table, r
    # raw_K appears both unqualified (plain/backtick/ANSI arms) and
    # under dwh_N (the eid%8==0 arm) — distinct sources
    raw_dbs = set().union(
        *(dbs for t, dbs in by_table.items() if t.startswith("raw_"))
    )
    assert "default" in raw_dbs
    assert any(db.startswith("dwh_") for db in raw_dbs), raw_dbs
    # the qualified JOIN arm: ref_K only ever appears under analytics_db
    ref_dbs = set().union(
        *(dbs for t, dbs in by_table.items() if t.startswith("ref_"))
    )
    assert ref_dbs == {"analytics_db"}, ref_dbs
    # CTE aliases are still filtered; their bodies still resolve
    assert not any(t.startswith("tmp_") for t in by_table)
    assert any(t.startswith("staging_") for t in by_table)

    cols = OPS["cat_lineage_sql_columns"].fn(spark, sf_dir).collect()
    col_dbs = {r.src_db for r in cols}
    assert "default" in col_dbs
    assert any(db.startswith("dwh_") for db in col_dbs), col_dbs
    # a CTE-resolved source is always unqualified
    for r in cols:
        if r.src_table.startswith("base_"):
            assert r.src_db == "default", r
        assert not r.src_table.startswith("cte_"), r


def test_delta_log_replay_golden_values(spark, sf_dir):
    """The checked-in spec-conformant _delta_log fixture replays to
    hand-computed snapshots: v0 WRITE adds 3 files; v1 MERGE removes
    one and adds two; v2 OPTIMIZE compacts two into one (net file
    count back to 3, row count unchanged — compaction moves bytes,
    not rows)."""
    rows = {
        r.snapshot_version: r
        for r in OPS["cat_delta_log_replay"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert (rows[0].operation, rows[0].n_files, rows[0].total_bytes,
            rows[0].total_rows) == ("WRITE", 3, 30720, 355)
    assert (rows[1].operation, rows[1].n_files, rows[1].total_bytes,
            rows[1].total_rows) == ("MERGE", 4, 35840, 405)
    assert (rows[2].operation, rows[2].n_files, rows[2].total_bytes,
            rows[2].total_rows) == ("OPTIMIZE", 3, 34816, 405)


def test_corrupt_quarantine_accounts_for_every_row(spark, sf_dir):
    """One bad payload must never fail the batch: every input row
    appears exactly once in the output, corrupt rows carry the exact
    decoder message for their error path, and clean rows decode."""
    docs_n = load_table(spark, sf_dir, "documents").count()
    rows = OPS["mm_corrupt_quarantine"].fn(spark, sf_dir).collect()
    assert len(rows) == docs_n  # total accounting
    assert len({r.doc_id for r in rows}) == docs_n  # exactly once
    by_status = {}
    for r in rows:
        by_status.setdefault(r.status, []).append(r)
        expect_bad = r.doc_id % 7 in (1, 3, 5)
        assert (r.status == "quarantined") == expect_bad, r
        if expect_bad:
            assert r.n_samples is None and r.peak is None, r
        else:
            assert r.reason is None and r.n_samples == 64 + r.doc_id % 128
    assert set(by_status) == {"ok", "quarantined"}
    reasons = {r.reason for r in by_status["quarantined"]}
    assert reasons == {
        "not a RIFF/WAVE container",
        "missing fmt/data chunk",
        "only PCM16 supported, got fmt=3 bits=16",
    }, reasons


def test_jdbc_embedded_metastore_partitioned_read(spark, sf_dir):
    """The Derby-backed JDBC connector must exercise the PARTITIONED
    read path: re-reading TBLS through read_metastore_table with
    bounds yields the configured 4 input partitions (the predicate
    striping that keeps a big metastore table off one task), and the
    op itself survives a re-run (overwrite semantics)."""
    from hive_metadata_collect_spark import registry
    from hive_metadata_collect_spark.sources import connectors

    ops = registry.load_all()
    out = ops["src_jdbc_embedded_metastore"].fn(spark, sf_dir)
    assert out.count() > 0
    url = connectors._derby_url(spark, sf_dir)
    tbls = connectors.read_metastore_table(
        spark, url, "TBLS",
        partition_column="TBL_ID", lower_bound=0, upper_bound=32,
        num_partitions=4,
    )
    assert tbls.rdd.getNumPartitions() == 4


def test_iceberg_metadata_replay_golden_values(spark, sf_dir):
    """The Iceberg metadata replay must reproduce the hand-computed
    commit history of the checked-in v2-format fixture: 3 snapshots
    in the latest metadata file, parent chain intact, running net
    records 100 -> 250 -> 280 (overwrite deletes 50, adds 80), only
    the head snapshot current, schema evolution 0 -> 1 at s2."""
    rows = {
        r["sequence_number"]: r
        for r in OPS["cat_iceberg_metadata_replay"].fn(spark, sf_dir).collect()
    }
    assert len(rows) == 3
    assert rows[1]["parent_id"] is None
    assert rows[2]["parent_id"] == rows[1]["snapshot_id"]
    assert rows[3]["parent_id"] == rows[2]["snapshot_id"]
    assert [rows[i]["net_records_cum"] for i in (1, 2, 3)] == [100, 250, 280]
    assert [rows[i]["is_current"] for i in (1, 2, 3)] == [False, False, True]
    assert rows[3]["operation"] == "overwrite"
    assert (rows[1]["schema_id"], rows[2]["schema_id"]) == (0, 1)


def test_geohash_matches_independent_reference(spark, sf_dir):
    """The op's bit-interleave is pinned against an independent pure-
    Python geohash encoder (itself validated on the canonical
    57.64911/10.40744 -> u4pruydq test vector), over every fixture
    point."""
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"

    def ref(lat, lon):
        ix = int((lon + 180.0) / 360.0 * 1048576.0)
        iy = int((lat + 90.0) / 180.0 * 1048576.0)
        z = 0
        for i in range(20):
            z += ((ix >> i) & 1) << (2 * i + 1)
            z += ((iy >> i) & 1) << (2 * i)
        return "".join(
            alpha[(z >> (40 - 5 * (k + 1))) & 31] for k in range(8)
        )

    assert ref(57.64911, 10.40744) == "u4pruydq"
    for r in OPS["fn_geohash_encode"].fn(spark, sf_dir).collect():
        k = r["c_custkey"]
        lat = ((k * 7919) % 18000) / 100.0 - 90.0
        lon = ((k * 104729) % 36000) / 100.0 - 180.0
        assert r["geohash8"] == ref(lat, lon), (k, lat, lon)


def test_ks_statistic_matches_independent_reference(spark, sf_dir):
    """agg_ks_test's D is pinned against a naive pure-Python
    two-sample KS over the same integer-tenths samples (brute
    ECDF difference at every pooled point), independent of both
    engines' SQL."""
    import duckdb as _dd

    con = _dd.connect()
    rows = con.execute(
        f"SELECT user_id, CAST(floor(round(value,1)*10 + 0.5) AS BIGINT)"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    a = sorted(v for u, v in rows if u % 2 == 0)
    b = sorted(v for u, v in rows if u % 2 == 1)
    import bisect

    d_num = max(
        abs(bisect.bisect_right(a, x) * len(b)
            - bisect.bisect_right(b, x) * len(a))
        for x in set(a) | set(b)
    )
    got = OPS["agg_ks_test"].fn(spark, sf_dir).collect()[0]
    assert got["n_control"] == len(a) and got["n_treatment"] == len(b)
    assert got["d_numer"] == d_num
    assert abs(got["ks_d"] - d_num / (len(a) * len(b))) < 1e-6


def test_mann_whitney_matches_independent_reference(spark, sf_dir):
    """agg_mann_whitney_u's 2U1 is pinned against the naive midrank
    computation (sort the pooled sample, average ranks over each tie
    run, sum control ranks)."""
    import duckdb as _dd

    con = _dd.connect()
    rows = con.execute(
        f"SELECT user_id, CAST(floor(round(value,1)*10 + 0.5) AS BIGINT)"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    pooled = sorted((v, u % 2 == 0) for u, v in rows)
    n1 = sum(1 for _v, c in pooled if c)
    # midranks on the doubled scale: tie run [i, j) gets 2*avg = i+j+1
    r1x2 = 0
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        for k in range(i, j):
            if pooled[k][1]:
                r1x2 += i + j + 1  # ranks are 1-based: (i+1)+(j)
        i = j
    u1x2_ref = r1x2 - n1 * (n1 + 1)
    got = OPS["agg_mann_whitney_u"].fn(spark, sf_dir).collect()[0]
    assert got["u1_x2"] == u1x2_ref
    assert got["u1_x2"] + got["u2_x2"] == 2 * got["n_control"] * got["n_treatment"]


def test_kmeans_invariants(spark, sf_dir):
    """sim_kmeans_lloyd structural invariants: cluster sizes cover the
    corpus exactly once, every cluster id came from the K=4 seeding,
    and the iteration-2 shift is bounded (integer centroids in
    milli-units of a |x| <= ~0.6 embedding space)."""
    rows = OPS["sim_kmeans_lloyd"].fn(spark, sf_dir).collect()
    from hive_metadata_collect_spark.sources.fixtures import load_table

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n_vecs
    assert {r["k"] for r in rows} <= {0, 1, 2, 3}
    for r in rows:
        assert 0 <= r["shift_l1"] <= 64 * 1300


def test_kmeans_array_twin_is_bit_identical(spark, sf_dir):
    """sim_kmeans_lloyd_arrays must reproduce the posexplode form's
    trajectory EXACTLY (same integer quantization, same argmin
    tie-break, same floored updates) — the two share one oracle, so
    any drift is a registry-contract violation, not a tolerance."""
    lloyd = sorted(
        tuple(r) for r in OPS["sim_kmeans_lloyd"].fn(spark, sf_dir).collect()
    )
    arrays = sorted(
        tuple(r)
        for r in OPS["sim_kmeans_lloyd_arrays"].fn(spark, sf_dir).collect()
    )
    assert lloyd == arrays


def test_naive_bayes_beats_prior_baseline(spark, sf_dir):
    """The trained classifier must beat always-predict-majority on its
    own training corpus (a multinomial NB with per-class vocabularies
    this separable should land far above it) — guards against the
    scoring join silently degenerating to the prior term."""
    rows = OPS["text_naive_bayes_lang"].fn(spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    correct = sum(r["n"] for r in rows if r["true_lang"] == r["pred_lang"])
    by_true = {}
    for r in rows:
        by_true[r["true_lang"]] = by_true.get(r["true_lang"], 0) + r["n"]
    majority = max(by_true.values())
    assert correct > majority, (correct, majority, total)


def test_substring_spans_island_merge(spark, tmp_path):
    """dedup_substring_spans island semantics on a constructed corpus:
    two docs share (a) a 10-word run — 3 overlapping duplicated 8-gram
    positions that must merge into ONE 10-word span — and (b) a
    separate 8-word run far enough away (gap ≥ 8) to stay its own
    span; a third doc with <8 words contributes total_words only."""
    run1 = [f"r{i}" for i in range(10)]       # 10-word shared run
    sep_a = [f"ax{i}" for i in range(9)]      # unique separators
    sep_b = [f"bx{i}" for i in range(9)]
    run2 = [f"s{i}" for i in range(8)]        # 8-word shared run
    doc_a = " ".join(run1 + sep_a + run2)
    doc_b = " ".join(run1 + sep_b + run2)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["x", "x", "x"],
            "text": [doc_a, doc_b, "tiny doc"],
        }
    )
    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(pdf).write.parquet(p)
    out = (
        OPS["dedup_substring_spans"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    assert len(out) == 1
    r = out[0]
    # each of doc 1 and 2: spans = {10-word run1, 8-word run2}
    assert r["n_docs_with_spans"] == 2
    assert r["n_spans"] == 4
    assert r["max_span_words"] == 10
    assert r["covered_words"] == 2 * (10 + 8)
    assert r["total_words"] == 2 * 27 + 2


def test_cents_kernel_matches_round_half_up(spark):
    """numerics.cents (multiply-add + truncating cast) must be
    row-identical to the F.round(x*100, 0) form it replaced on the
    whole non-negative ≤2-fractional-digit money domain — exhaustively
    over every cent value to $20,000.00 plus the TPC-H extendedprice
    magnitude band (~1e5 dollars, where x*100 carries the largest ulp)
    and the known representational troublemakers (0.285, 16.38, ...)."""
    from hive_metadata_collect_spark.operators.numerics import cents

    grid = spark.range(0, 2_000_000).select(
        (F.col("id") / 100.0).alias("x")
    )
    band = spark.range(0, 200_000).select(
        ((F.col("id") + 10_000_000) / 100.0).alias("x")
    )
    nasty = spark.createDataFrame(
        [(0.285,), (16.38,), (1.005,), (2.675,), (8.825,), (0.07,),
         (1094.99,), (104949.5,), (0.0,)],
        "x double",
    )
    df = grid.unionAll(band).unionAll(nasty)
    bad = df.filter(
        cents("x") != F.round(F.col("x") * 100, 0).cast("long")
    ).count()
    assert bad == 0
