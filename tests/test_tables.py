"""The table loader contract: declared layouts equal what Spark would
infer, a load runs no Spark job, and both shipped ``events.ts`` layouts
present the same TIMESTAMP_NTZ column."""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType

from atiesh_spark.sources.tables import TABLES, load_table
from tests.conftest import SF_SMALL

SF_DIRS = sorted(glob.glob(f"{os.path.dirname(SF_SMALL)}/sf*"))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schema_equals_inferred(spark, sf_dir):
    files = sorted(glob.glob(f"{sf_dir}/*.parquet"))
    assert files
    for path in files:
        name = os.path.basename(path)[: -len(".parquet")]
        assert load_table(spark, sf_dir, name).schema == spark.read.parquet(path).schema, path


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_runs_no_job(spark):
    for name in TABLES:
        jobs = _jobs_in_group(
            spark, f"load-{name}", lambda: load_table(spark, SF_SMALL, name)
        )
        assert jobs == 0, name
    # the counter does see the job that schema inference runs
    assert _jobs_in_group(
        spark, "infer-events", lambda: spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ) >= 1


def _write_events(directory, ts: pa.Array) -> str:
    os.makedirs(directory)
    n = len(ts)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": ["view"] * n,
        "value": [1.5] * n,
        "props": ["{}"] * n,
    }), f"{directory}/events.parquet")
    return str(directory)


def test_events_ts_layouts_load_alike(spark, tmp_path):
    # pre-epoch (including a sub-microsecond instant that floors), the
    # epoch itself, and a leap-day value with microseconds
    nanos = [-1, -1_000, 0, 1_709_210_096_789_012_000]
    micros = [-1, -1, 0, 1_709_210_096_789_012]
    ns_dir = _write_events(tmp_path / "ns", pa.array(nanos, pa.timestamp("ns")))
    us_dir = _write_events(tmp_path / "us", pa.array(micros, pa.timestamp("us")))

    def ts_values(sf_dir):
        df = load_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
        return [r.ts for r in df.orderBy("event_id").collect()]

    got = ts_values(ns_dir)
    assert got == ts_values(us_dir)
    assert got[0] == datetime(1969, 12, 31, 23, 59, 59, 999999)
    assert got[3] == datetime(2024, 2, 29, 12, 34, 56, 789012)

    zoned = _write_events(
        tmp_path / "zoned", pa.array(micros, pa.timestamp("us", tz="UTC"))
    )
    with pytest.raises(TypeError, match="events.ts"):
        load_table(spark, zoned, "events")


def test_undeclared_columns_fail_at_load(spark, tmp_path):
    os.makedirs(tmp_path / "t")
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_label": ["x"]}),
        f"{tmp_path}/t/region.parquet",
    )
    with pytest.raises(ValueError, match="declares"):
        load_table(spark, str(tmp_path / "t"), "region")
