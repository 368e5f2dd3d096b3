"""Session lifecycle of the engine's files and driver-side reads: every
operator file lives in the session's scratch dir and dies with it, a
rebuild leaves earlier frames readable, and no data value is kept
across sessions."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.llm import dedup, similarity
from hive_metadata_collect_spark.operators import joins
from hive_metadata_collect_spark.session import (
    build_dir,
    fixture_tag,
    scratch_dir,
    stage_once,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPS = registry.load_all()


def test_scratch_dir_is_inside_sparks_driver_dir(spark):
    from pyspark import SparkFiles

    path = scratch_dir(spark)
    assert os.path.isdir(path)
    assert os.path.dirname(path) == SparkFiles.getRootDirectory()
    fresh = build_dir(spark)
    assert os.path.dirname(fresh) == path
    assert fresh != build_dir(spark)


def test_stage_once_writes_once_and_never_publishes_a_failed_write(spark):
    calls = []

    def fail(path):
        os.makedirs(path)
        raise RuntimeError("write failed")

    name = f"stage_once_probe_{os.getpid()}"
    try:
        stage_once(spark, name, fail)
    except RuntimeError:
        pass
    assert not os.path.exists(os.path.join(scratch_dir(spark), name))

    def write(path):
        calls.append(path)
        os.makedirs(path)

    first = stage_once(spark, name, write)
    assert stage_once(spark, name, write) == first
    assert len(calls) == 1 and os.path.isdir(first)


def test_rebuild_keeps_an_earlier_frame_readable(spark, sf_dir):
    """A second build (here at another scale factor) must not delete the
    files that the first build's frame still lists."""
    other = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    build = OPS["sink_parquet_roundtrip"].fn
    first = build(spark, other)
    build(spark, sf_dir)
    expected = pq.read_table(
        os.path.join(other, "orders.parquet"), filters=[("o_orderstatus", "=", "F")]
    ).num_rows
    assert first.count() == expected


def test_staged_data_is_keyed_by_the_full_fixture_path(spark, sf_dir, tmp_path):
    """A second fixture dir with the same basename gets its own staged
    copy: here its events come from sf0.01, so the staged params table
    must count ten times the rows."""
    other = tmp_path / os.path.basename(sf_dir.rstrip("/"))
    other.mkdir()
    sf001 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    shutil.copy(os.path.join(sf001, "events.parquet"), other)
    assert fixture_tag(str(other)) != fixture_tag(sf_dir)

    build = OPS["fn_json_extract_ingested"].fn

    def n_events(fixture):
        return build(spark, fixture).agg({"n_events": "sum"}).collect()[0][0]

    assert (n_events(sf_dir), n_events(str(other))) == (1000, 10000)


def _rewrite(path: str, column: str, values) -> None:
    table = pq.read_table(path)
    idx = table.schema.get_field_index(column)
    col = pa.array(values, type=table.schema.field(column).type)
    pq.write_table(table.set_column(idx, column, col), path)


def test_a_changed_fixture_in_a_new_session_gives_a_new_answer(spark, sf_dir, tmp_path):
    """The region's nations, the query vector and the components are
    read again by every build, so a fixture rewritten between two
    sessions is seen by the second one."""
    fx = str(tmp_path / "fx")
    os.makedirs(fx)
    for t in ("nation", "region", "embeddings", "documents"):
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), fx)

    def answers(session):
        return (
            sorted(joins._region_nations(session, fx, "ASIA")),
            [round(x, 6) for x in similarity._query_vector(session, fx, 0)],
            sorted(tuple(r) for r in dedup.dedup_components(session, fx).collect()),
        )

    nations, qvec, comps = answers(spark.newSession())
    assert nations and comps

    names = pq.read_table(os.path.join(fx, "nation.parquet"))["n_name"].to_pylist()
    _rewrite(os.path.join(fx, "nation.parquet"), "n_name", [f"{n}_v2" for n in names])
    emb = pq.read_table(os.path.join(fx, "embeddings.parquet"))["embedding"].to_pylist()
    _rewrite(
        os.path.join(fx, "embeddings.parquet"),
        "embedding",
        [[-x for x in v] for v in emb],
    )
    ids = pq.read_table(os.path.join(fx, "documents.parquet"))["doc_id"].to_pylist()
    # documents 2k and 2k+1 become identical; no other two share a word
    _rewrite(
        os.path.join(fx, "documents.parquet"),
        "text",
        [f"p{d // 2} q{d // 2}" for d in ids],
    )

    nations2, qvec2, comps2 = answers(spark.newSession())
    assert nations2 == [(k, f"{n}_v2") for k, n in nations]
    assert qvec2 == [round(-x, 6) for x in qvec]
    assert comps2 == sorted((d, d & ~1) for d in ids if d ^ 1 in set(ids))


def test_components_release_their_cached_edges(spark, sf_dir):
    spark.catalog.clearCache()
    OPS["dedup_components"].fn(spark, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


_LIFECYCLE = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from hive_metadata_collect_spark import registry
    from hive_metadata_collect_spark.session import get_spark, scratch_dir

    repo, sf_dir = sys.argv[1], sys.argv[2]

    def tree(root):
        out = set()
        for base, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if d not in (".git", "__pycache__")]
            out.update(os.path.join(base, f) for f in dirs + files)
        return out

    before = tree(repo) | tree(sf_dir)
    spark = get_spark("hmcs-scratch-lifecycle")
    ops = registry.load_all()
    for name in (
        "fn_json_extract_ingested",
        "src_kafka_shaped_feed",
        "src_jdbc_embedded_metastore",
        "tpch_q21_bucketed",
        "sink_parquet_roundtrip",
    ):
        ops[name].fn(spark, sf_dir).collect()
    scratch = scratch_dir(spark)
    staged = sorted(os.listdir(scratch))
    new = sorted((tree(repo) | tree(sf_dir)) - before)
    cwd = sorted(os.path.relpath(p) for p in tree("."))
    spark.stop()
    print(json.dumps({
        "scratch": scratch, "staged": staged, "new_in_repo": new,
        "cwd": cwd, "exists_after_stop": os.path.exists(scratch),
    }))
    """
)


def test_operator_files_live_in_the_session_scratch_and_die_with_it(sf_dir, tmp_path):
    """A session of its own builds the staged-once operators and one
    sink: all their files are under scratch_dir, none appear in the
    repo (its .scratch included) or beside the fixtures, and the dir is
    gone after spark.stop()."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _LIFECYCLE, REPO, sf_dir],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["scratch"].startswith(str(tmp_path / "local"))
    tag = fixture_tag(sf_dir)
    assert {
        f"params_ingested_{tag}",
        f"kafka_feed_{tag}",
        f"derby_{tag}",
        f"bk_q21_lineitem_{tag}",
    } <= set(out["staged"])
    assert out["new_in_repo"] == []
    # Derby's log and Spark's empty warehouse dir are all the JVM
    # leaves in its cwd.
    assert set(out["cwd"]) <= {"derby.log", "spark-warehouse"}
    assert out["exists_after_stop"] is False
