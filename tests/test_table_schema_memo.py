"""The per-file parquet schema memo behind sources.tables.load_table.

A load of a table whose file stamp is already memoized must start no Spark
job (no schema inference), must give the schema a fresh inferring read
gives, and must never serve the schema of an older file at the same path.
"""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nibbler_spark.sources.tables import TABLES, load_table, table_path

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _jobs_during(spark, fn):
    """``(fn(), number of Spark jobs fn submitted)``, counted by job group."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _own_copy(tmp_path, sf_dir, names):
    """A private sf dir, so the first load below is a memo miss."""
    d = tmp_path / "sf"
    d.mkdir()
    for name in names:
        shutil.copyfile(table_path(sf_dir, name), table_path(str(d), name))
    return str(d)


@pytest.mark.parametrize("name", TPCH_TABLES)
def test_second_load_submits_no_job(spark, sf_dir, tmp_path, name):
    sf = _own_copy(tmp_path, sf_dir, [name])
    first, first_jobs = _jobs_during(spark, lambda: load_table(spark, sf, name))
    second, second_jobs = _jobs_during(spark, lambda: load_table(spark, sf, name))
    assert first_jobs >= 1, "the probe must see the inference job of a miss"
    assert second_jobs == 0
    assert second.schema == first.schema


@pytest.mark.parametrize("name", TABLES)
def test_memoized_schema_equals_fresh_inference(spark, sf_dir, name):
    load_table(spark, sf_dir, name)
    memoized = load_table(spark, sf_dir, name).schema
    fresh = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        from pyspark.sql import functions as F

        fresh = fresh.withColumn("ts", F.col("ts").cast("timestamp")).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    assert memoized == fresh.schema


def test_rewritten_table_is_inferred_afresh(spark, sf_dir, tmp_path):
    sf = _own_copy(tmp_path, sf_dir, ["region"])
    before = load_table(spark, sf, "region").schema
    # A different table's file at the same path: new stamp, new schema.
    shutil.copyfile(table_path(sf_dir, "nation"), table_path(sf, "region"))
    after = load_table(spark, sf, "region")
    assert after.schema != before
    assert after.schema == spark.read.parquet(table_path(sf_dir, "nation")).schema
    assert after.count() == spark.read.parquet(table_path(sf_dir, "nation")).count()


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _nanos_events(sf_dir, tmp_path):
    """The TIMESTAMP(NANOS) vintage of ``events``, rewritten from the µs one."""
    d = tmp_path / "sf-nanos"
    d.mkdir()
    t = pq.read_table(table_path(sf_dir, "events"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, table_path(str(d), "events"), version="2.6")
    return str(d)


@pytest.mark.parametrize("vintage", ["micros", "nanos"])
def test_events_shim_under_the_memo(spark, sf_dir, tmp_path, vintage):
    if vintage == "nanos":
        sf = _nanos_events(sf_dir, tmp_path)
    else:
        sf = _own_copy(tmp_path, sf_dir, ["events"])
    first = load_table(spark, sf, "events")
    second, jobs = _jobs_during(spark, lambda: load_table(spark, sf, "events"))
    assert jobs == 0
    assert first.schema == second.schema
    assert first.schema["ts"].dataType.simpleString() == "timestamp"
    assert _rows(first) == _rows(second)
    if vintage == "nanos":
        micros = load_table(spark, _own_copy(tmp_path, sf_dir, ["events"]), "events")
        assert _rows(second) == _rows(micros)
