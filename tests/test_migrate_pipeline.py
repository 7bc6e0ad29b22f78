"""End-to-end tests for the migrate_table spine over real testdata
(SURVEY §5 plan item 2/3): extract → load → publish → verify → status
in one scan of the source, plus fault injection asserting the V1/V2
rollback actually fires."""

from __future__ import annotations

import glob
import os

from datetime import datetime, timedelta, timezone
from decimal import Decimal

import pyspark.sql.functions as F
import pytest

from iq_to_hdl_migration_spark.pipeline.migrate import (
    MigrationStatus, migrate_table, migrate_tables, reconcile)
from iq_to_hdl_migration_spark.sources.tables import load_table


@pytest.fixture()
def dirs(tmp_path):
    s, t, st = tmp_path / "staging", tmp_path / "target", tmp_path / "status"
    s.mkdir(), t.mkdir()
    return str(s), str(t), str(st)


def test_single_table_end_to_end(spark, sf_dir, dirs):
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    src = load_table(spark, sf_dir, "nation")
    out = migrate_table(spark, src, "nation", staging, target, status)
    assert out.state == "loaded" and out.expected == out.actual == 25

    reloaded = spark.read.parquet(f"{target}/nation")
    assert reloaded.count() == 25
    assert set(reloaded.columns) == set(src.columns)
    # content equality via anti-join both ways (V1 analog, exact)
    assert src.exceptAll(reloaded).isEmpty()
    assert reloaded.exceptAll(src).isEmpty()

    cur = status.current().collect()
    assert len(cur) == 1 and cur[0].state == "loaded"
    assert int(cur[0].rowcount) == 25


def test_empty_table_short_circuit(spark, dirs):
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    empty = spark.range(0).select(F.col("id").cast("int").alias("id"))
    out = migrate_table(spark, empty, "t_empty", staging, target, status)
    assert out.state == "empty"
    assert status.current().collect()[0].state == "empty"
    import os
    assert not os.path.exists(f"{target}/t_empty")  # nothing published
    assert not [d for d in os.listdir(staging) if d.startswith("_tmp_")]


def test_verify_failure_rolls_back(spark, sf_dir, dirs, monkeypatch):
    """Force the staged count to mismatch -> rollback, no publish."""
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    src = load_table(spark, sf_dir, "region")

    import iq_to_hdl_migration_spark.pipeline.migrate as M
    real_publish = M._atomic_publish

    def boom(tmp, final):
        raise ValueError("injected verify failure")
    monkeypatch.setattr(M, "_atomic_publish", boom)
    out = migrate_table(spark, src, "region", staging, target, status)
    assert out.state == "failed" and "injected" in out.detail
    import os
    assert not os.path.exists(f"{staging}/region")   # tmp cleaned up
    assert not os.path.exists(f"{target}/region")    # nothing loaded
    assert status.current().collect()[0].state == "failed"

    # retry after the fault clears succeeds (failed-first path)
    monkeypatch.setattr(M, "_atomic_publish", real_publish)
    outs = migrate_tables(spark, {"region": src}, staging, target, status)
    assert outs[0].state == "loaded"


def test_resume_skips_loaded(spark, sf_dir, dirs):
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    srcs = {"nation": load_table(spark, sf_dir, "nation"),
            "region": load_table(spark, sf_dir, "region")}
    first = migrate_tables(spark, srcs, staging, target, status)
    assert {o.state for o in first} == {"loaded"}
    second = migrate_tables(spark, srcs, staging, target, status)
    assert second == []  # everything resumed as done

    inv = spark.createDataFrame([("nation",), ("region",), ("ghost",)],
                                ["table_key"])
    missing = reconcile(status, inv).collect()
    assert [r.table_key for r in missing] == ["ghost"]


def test_ledger_writes_one_file_per_append(spark, dirs):
    _, _, status_path = dirs
    status = MigrationStatus(spark, status_path)
    before = datetime.now(timezone.utc)
    status.append("t_a", "failed", 0, 0, attempt=0)
    status.append("t_a", "loaded", 2**64 - 1, 512, attempt=1)
    status.append("t_b", "empty")
    assert len(glob.glob(f"{status_path}/*.parquet")) == 3

    cur = {r.table_key: r for r in status.current().collect()}
    assert {k: r.state for k, r in cur.items()} == {"t_a": "loaded",
                                                    "t_b": "empty"}
    # unsigned-bigint rowcounts fit the DECIMAL(20,0) column
    assert cur["t_a"].rowcount == Decimal(2**64 - 1)
    assert dict(status.current().dtypes)["rowcount"] == "decimal(20,0)"
    # ts is the driver's UTC clock (collect() gives local naive time)
    ts = cur["t_a"].ts.astimezone(timezone.utc)
    assert before - timedelta(seconds=1) <= ts <= (
        datetime.now(timezone.utc) + timedelta(seconds=1))


def test_migrate_table_runs_at_most_five_jobs(spark, sf_dir, dirs):
    """One scan of the source: stage write, load pass, V2 count and the
    ledger append — no pre-count, no schema-inference jobs."""
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    src = load_table(spark, sf_dir, "nation")
    dag = spark.sparkContext._jsc.sc().dagScheduler()  # jobs on any thread
    j0 = dag.numTotalJobs()
    out = migrate_table(spark, src, "nation", staging, target, status)
    jobs = dag.numTotalJobs() - j0
    assert out.state == "loaded" and out.expected == out.actual == 25
    assert jobs <= 5, f"migrate_table ran {jobs} Spark jobs"


def test_lost_stage_file_fails_v1_and_rolls_back(spark, sf_dir, dirs,
                                                 monkeypatch):
    """A part file lost between the stage write and the load: the V1
    count of the rows read back from staging misses it, and the attempt
    leaves nothing behind."""
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    src = load_table(spark, sf_dir, "nation").repartition(2)

    from pyspark.sql.readwriter import DataFrameWriter
    real_parquet = DataFrameWriter.parquet
    staged_paths = []

    def lossy_parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if not staged_paths:    # the first write is the stage write
            staged_paths.append(path)
            os.remove(sorted(glob.glob(f"{path}/part-*"))[0])
    monkeypatch.setattr(DataFrameWriter, "parquet", lossy_parquet)

    out = migrate_table(spark, src, "nation", staging, target, status)
    assert "_tmp_nation_" in staged_paths[0]
    assert out.state == "failed" and "stage count" in out.detail
    assert out.expected == 25
    assert os.listdir(staging) == [] and os.listdir(target) == []
    assert status.current().collect()[0].state == "failed"


def test_wide_schema_round_trips(spark, dirs):
    """decimal, timestamp, array<float> and a non-nullable column come
    back as the same multiset of rows."""
    from pyspark.sql.types import (
        ArrayType, DecimalType, FloatType, LongType, StringType,
        StructField, StructType, TimestampType)
    from iq_to_hdl_migration_spark.session import local_frame

    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    schema = StructType([
        StructField("id", LongType(), False),
        StructField("amount", DecimalType(20, 4)),
        StructField("ts", TimestampType()),
        StructField("vec", ArrayType(FloatType())),
        StructField("note", StringType())])
    t0 = datetime(2024, 2, 29, 23, 59, 59, 123456, tzinfo=timezone.utc)
    rows = [(1, Decimal("12345678901234.5678"), t0, [0.5, -1.25], "a"),
            (2, None, None, None, None),
            (3, Decimal("-0.0001"), t0 + timedelta(days=1), [], "c"),
            (3, Decimal("-0.0001"), t0 + timedelta(days=1), [], "c")]
    src = local_frame(spark, rows, schema)
    out = migrate_table(spark, src, "t_wide", staging, target, status)
    assert out.state == "loaded" and out.expected == out.actual == 4

    back = spark.read.parquet(f"{target}/t_wide")
    assert back.columns == src.columns
    assert [f.dataType for f in back.schema] == [f.dataType for f in schema]
    assert src.exceptAll(back).isEmpty()
    assert back.exceptAll(src).isEmpty()


def test_retry_removes_stale_stage_tmp_dirs(spark, sf_dir, dirs):
    """A run killed between the stage write and the publish leaves
    `staging/_tmp_<key>_*`; the next `migrate_tables` removes it before
    the table's attempt, and leaves other tables' tmp dirs alone."""
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    src = load_table(spark, sf_dir, "nation")
    src.write.parquet(f"{staging}/_tmp_nation_deadbeef")
    src.write.parquet(f"{staging}/_tmp_nation_x_0badf00d")  # other key
    outs = migrate_tables(spark, {"nation": src}, staging, target, status)
    assert [o.state for o in outs] == ["loaded"]
    assert sorted(os.listdir(staging)) == ["_tmp_nation_x_0badf00d",
                                           "nation"]
