"""Declared schemas: every parquet read of a table whose schema the
engine knows passes it, so the read runs no Spark job.

- the declarations in ``schemas.TESTDATA`` equal what Spark infers from
  every corpus the engine reads: the three testdata scales, a
  ``tools/growth.py`` 2× warehouse and a ``perfbench/gen_tpch.py``
  corpus;
- ``load_table`` and ``read_snapshot_table`` launch no job;
- a snapshot round trip keeps the published schema, and a manifest
  committed without a schema record still reads;
- ``events`` (the one inferred table) still reads a TIMESTAMP(NANOS)
  shipment, and building an events entry leaves ``spark.conf`` as it
  was.
"""

from __future__ import annotations

import importlib.util
import json
import os
import uuid
from contextlib import contextmanager

import pytest

from conftest import REPO, SF_SMALL
from movie_data_pipeline_spark.schemas import TESTDATA

DECLARED = [t for t, s in TESTDATA.items() if s is not None]
TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _assert_declared_match(spark, sf_dir: str, tables) -> None:
    for t in tables:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).schema
        assert inferred == TESTDATA[t], t


@contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"schema-probe-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_testdata(spark, sf):
    _assert_declared_match(spark, f"/root/testdata/{sf}", DECLARED)


def test_declared_schemas_match_growth_warehouse(spark, tmp_path):
    from tools import growth

    dest = growth.build_warehouse(spark, SF_SMALL, str(tmp_path / "x2"), 2)
    _assert_declared_match(spark, dest, DECLARED)


def test_declared_schemas_match_perfbench_corpus(spark, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "gen_tpch", REPO / "perfbench" / "gen_tpch.py"
    )
    gen_tpch = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_tpch)
    gen_tpch.write(str(tmp_path), seed=42, sf=0.001)
    _assert_declared_match(spark, str(tmp_path), TPCH)


def test_load_table_launches_no_job(spark):
    from movie_data_pipeline_spark.sources.catalog import load_table

    with _jobs(spark) as ids:
        dfs = [load_table(spark, SF_SMALL, t) for t in DECLARED]
    assert ids == []
    assert [df.schema for df in dfs] == [TESTDATA[t] for t in DECLARED]
    # the probe sees a footer read: events is still inferred
    with _jobs(spark) as ids:
        load_table(spark, SF_SMALL, "events")
    assert len(ids) >= 1


def test_drifted_embeddings_fail_at_read(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from movie_data_pipeline_spark.sources.catalog import load_table

    pq.write_table(
        pa.table({
            "vec_id": pa.array([1], pa.int64()),
            "embedding": pa.array([[0.5, 0.25]], pa.list_(pa.float64())),
            "label": pa.array([0], pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    with pytest.raises(Exception, match="(?i)parquet"):
        load_table(spark, str(tmp_path), "embeddings").collect()


def _published(spark, root: str):
    from movie_data_pipeline_spark.sources.snapshot import publish_snapshot

    v1 = spark.createDataFrame(
        [(1, "a", [1.5])], "k bigint not null, v string, xs array<double>"
    )
    v2 = spark.createDataFrame(
        [(2, "b", [2.5])], "k bigint not null, v string, xs array<double>"
    )
    publish_snapshot(root, {"t": v1})
    publish_snapshot(root, {"t": v2})
    return v1.schema


def _fields(schema):
    """Names and types; a parquet read makes every field nullable."""
    return [(f.name, f.dataType.simpleString()) for f in schema]


def test_snapshot_reads_launch_no_job_and_keep_schema(spark, tmp_path):
    from movie_data_pipeline_spark.sources.snapshot import read_snapshot_table

    root = str(tmp_path / "snap")
    published = _published(spark, root)
    with _jobs(spark) as ids:
        live = read_snapshot_table(spark, root, "t")
        old = read_snapshot_table(spark, root, "t", version=1)
    assert ids == []
    for df in (live, old):
        assert _fields(df.schema) == _fields(published)
        assert df.schema == spark.read.parquet(os.path.join(root, "v2", "t")).schema
    assert [tuple(r) for r in live.collect()] == [(2, "b", [2.5])]
    assert [tuple(r) for r in old.collect()] == [(1, "a", [1.5])]


def test_snapshot_without_schema_record_still_reads(spark, tmp_path):
    from movie_data_pipeline_spark.sources.snapshot import (
        MANIFEST,
        SCHEMAS,
        read_snapshot_table,
    )

    root = str(tmp_path / "snap")
    published = _published(spark, root)
    # a layout committed before schemas were recorded
    with open(os.path.join(root, MANIFEST)) as f:
        manifest = json.load(f)
    del manifest["schemas"]
    with open(os.path.join(root, MANIFEST), "w") as f:
        json.dump(manifest, f)
    for v in (1, 2):
        os.remove(os.path.join(root, f"v{v}", SCHEMAS))

    live = read_snapshot_table(spark, root, "t")
    old = read_snapshot_table(spark, root, "t", version=1)
    assert _fields(live.schema) == _fields(old.schema) == _fields(published)
    assert [tuple(r) for r in live.collect()] == [(2, "b", [2.5])]
    assert [tuple(r) for r in old.collect()] == [(1, "a", [1.5])]


def test_events_entry_build_leaves_conf_unchanged(spark):
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    before = dict(spark.conf.getAll)
    QUERIES["last_event_per_user"][0](spark, SF_SMALL)
    assert dict(spark.conf.getAll) == before


def test_load_events_reads_nanos_shipment(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from movie_data_pipeline_spark.sources.catalog import load_events

    ts_ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": pa.array(["view", "buy"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }),
        str(tmp_path / "events.parquet"),
    )
    got = load_events(spark, str(tmp_path)).orderBy("event_id").collect()
    assert [r.ts_us for r in got] == [t // 1000 for t in ts_ns]
    assert [r.ts_sec for r in got] == [t // 10**9 for t in ts_ns]


def test_default_driver_memory_fits_the_host(monkeypatch):
    from movie_data_pipeline_spark import session

    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"
    sizes["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    assert session.default_driver_memory() == "16384m"
