"""`session.local_frame`: driver-held rows as an Arrow-built local
relation. It must hold exactly what `createDataFrame(<list>)` holds,
while queries over it run on the driver without a Spark job."""

from __future__ import annotations

import ast

from pathlib import Path

import pytest

from iq_to_hdl_migration_spark.catalog.fixture import (
    CATALOG_FIXTURE, _spark_schema, ensure_catalog_views)
from iq_to_hdl_migration_spark.session import local_frame

PKG = Path(__file__).resolve().parents[1] / "iq_to_hdl_migration_spark"


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: [(v is None, str(v)) for v in t])


@pytest.mark.parametrize("name", sorted(CATALOG_FIXTURE))
def test_local_frame_matches_create_dataframe(spark, name):
    cols, rows = CATALOG_FIXTURE[name]
    schema = _spark_schema(cols)
    local = local_frame(spark, rows, schema)
    listed = spark.createDataFrame(rows, schema)
    assert local.schema == listed.schema
    assert _sorted_rows(local) == _sorted_rows(listed)
    assert "LocalRelation" in local._jdf.queryExecution() \
        .optimizedPlan().toString()


def test_fixture_covers_nulls_and_empty_tables():
    """The compare above runs over NULLs and over empty tables."""
    tables = CATALOG_FIXTURE.values()
    assert any(v is None for _, rows in tables for r in rows for v in r)
    assert any(not rows for _, rows in tables)


def test_catalog_view_query_starts_no_job(spark):
    ensure_catalog_views(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.numTotalJobs()
    rows = spark.table("systable").where("creator = 106") \
        .select("table_name").collect()
    assert len(rows) == 13
    assert dag.numTotalJobs() == j0


def test_spine_builds_no_frames_from_python_lists():
    """The migration spine's driver-built frames go through
    `local_frame`: `createDataFrame` over a Python list plans a
    Python-backed LogicalRDD whose every query is a Spark job through a
    Python worker. Guarded here: `pipeline/`, `catalog/`, `ddl/` and
    `sources/rule_tables.py`. The registry query modules (`queries/`)
    are out of scope for this guard."""
    files = [*PKG.glob("pipeline/*.py"), *PKG.glob("catalog/*.py"),
             *PKG.glob("ddl/*.py"), PKG / "sources" / "rule_tables.py"]
    offenders = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                offenders.append(f"{f.relative_to(PKG)}:{node.lineno}")
    assert not offenders, f"createDataFrame in the spine: {offenders}"
