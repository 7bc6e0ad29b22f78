"""The migrate_table spine: extract → load → publish → verify → status
(SURVEY §7 step 2; reference: extract_single migration.py:2085-2241,
generated LOAD + verify-or-rollback migration.py:1461-1566, ledgers
migration.py:1896-2049, resume load_schema_and_data.py:615-735).

Spark-first re-expression, one scan of the source per table:
  * extract = the source is read once, by the parquet write of a stage
    tmp dir. An `Observation` on that write counts the rows it wrote:
    that count is `expected` (no separate pre-count). Spark
    parallelizes within the table, replacing the reference's fork/queue
    machinery (P1/P2); per-table `repartition` by size replaces LPT
    node packing.
  * load    = the staged tmp files, read with the source's schema (no
    footer inference), written to the target. A second `Observation`
    on that pass counts the rows read back from the staged files: the
    V1 count. V1 != expected rolls back the tmp dir and this attempt's
    target — the generated `LOAD` + `IF cnt != expected THEN ROLLBACK`
    order (migration.py:1461-1480).
  * publish = atomic rename of the tmp dir to `staging/<key>` (P12:
    plain parquet writes are not transactional; rename-on-verify gives
    the generated LOAD blocks' verify-or-rollback semantics).
  * verify  = V2: the target read back (again with the source's
    schema) and counted.
  * status  = append-only parquet ledger with latest-wins semantics
    (S14); resume = tables not 'loaded' in the ledger (J15), failed
    tables re-queued first (O4).

Row counts are tracked as DECIMAL(20,0) — the reference declares
UNSIGNED BIGINT (migration.py:1471); Spark's LongType is signed
(SURVEY §7 hard-part 6).
"""

from __future__ import annotations

import re
import shutil
import uuid

from dataclasses import dataclass
from datetime import datetime, timezone
from decimal import Decimal
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql.types import (
    DecimalType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from iq_to_hdl_migration_spark.session import local_frame

STATUS_SCHEMA = StructType([
    StructField("table_key", StringType()),
    StructField("rowcount", DecimalType(20, 0)),
    StructField("size_bytes", LongType()),
    StructField("state", StringType()),
    StructField("attempt", IntegerType()),
    StructField("run_id", StringType()),
    StructField("ts", TimestampType()),
])


class MigrationStatus:
    """Append-only parquet status ledger with latest-wins reads (S14).

    Each `append` writes exactly one small parquet file, one per state
    change (cheap, atomic at the file level). The row is built on the
    driver as a local relation (`session.local_frame`), so the append
    is the write's one Spark job and starts no Python worker; `ts` is
    the driver's UTC clock. `current()` resolves latest-per-table with
    a window — at production scale this would be a Delta table with
    MERGE, but the protocol (append + latest-wins) is identical."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = str(path)

    def append(self, table_key: str, state: str, rowcount: int = 0,
               size_bytes: int = 0, attempt: int = 0,
               run_id: str = "") -> None:
        row = (table_key, Decimal(rowcount), size_bytes, state, attempt,
               run_id or uuid.uuid4().hex[:8], datetime.now(timezone.utc))
        local_frame(self.spark, [row], STATUS_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(self.path)

    def all_events(self) -> DataFrame:
        try:
            return self.spark.read.schema(STATUS_SCHEMA).parquet(self.path)
        except AnalysisException:   # no ledger written yet
            return local_frame(self.spark, [], STATUS_SCHEMA)

    def current(self) -> DataFrame:
        """Latest state per table (window over event log)."""
        w = Window.partitionBy("table_key").orderBy(F.desc("ts"),
                                                    F.desc("attempt"))
        return (self.all_events()
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))

    def in_state(self, state: str) -> DataFrame:
        return self.current().where(F.col("state") == state) \
            .select("table_key")


@dataclass
class MigrateOutcome:
    table_key: str
    state: str                 # loaded | empty | failed
    expected: int
    actual: int
    detail: str = ""


def _atomic_publish(tmp: Path, final: Path) -> None:
    if final.exists():
        raise IOError(f"publish target exists: {final}")
    tmp.rename(final)


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with a row count observed by whichever action runs it."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _stage_tmp_dirs(staging_dir: str, table_key: str) -> list[Path]:
    """This table's `_tmp_<key>_<8 hex>` stage dirs (not another
    table's whose key extends this one)."""
    pat = re.compile(rf"_tmp_{re.escape(table_key)}_[0-9a-f]{{8}}")
    root = Path(staging_dir)
    return ([p for p in root.iterdir() if pat.fullmatch(p.name)]
            if root.is_dir() else [])


def migrate_table(spark: SparkSession, source: DataFrame, table_key: str,
                  staging_dir: str, target_dir: str,
                  status: MigrationStatus | None = None,
                  attempt: int = 0,
                  size_hint_bytes: int | None = None) -> MigrateOutcome:
    """One table through the full spine with verify-or-rollback, in
    one scan of the source:

    1. extract: write the source to `staging/_tmp_<key>_*`; the rows
       that write counted are `expected`. Zero rows removes the tmp dir
       and records 'empty' (V8).
    2. load: read the tmp files back with `source.schema` and write the
       target; the rows that pass read back are the V1 count.
    3. publish the tmp dir as `staging/<key>` (atomic rename).
    4. V2: count the target read back (with `source.schema`), then
       record 'loaded' with `expected` and the staged bytes.

    Any failure or count mismatch rolls back what this attempt wrote
    (tmp dir, target, published stage dir) and records 'failed' — the
    Spark analog of the generated `IF cnt != expected THEN ROLLBACK`
    block (migration.py:1461-1480). A failed extract records rowcount
    0: there is no pre-count.

    `size_hint_bytes` (from the A2 width*rowcount estimate) sizes the
    staging write's partition count to ~128 MB files (P3) — the Spark
    replacement for per-node LPT packing of big tables.
    """
    if size_hint_bytes:
        from iq_to_hdl_migration_spark.operators.planning import (
            suggest_partitions)
        source = source.repartition(suggest_partitions(size_hint_bytes))

    stage_tmp = Path(staging_dir) / f"_tmp_{table_key}_{uuid.uuid4().hex[:8]}"
    stage_final = Path(staging_dir) / table_key
    target = Path(target_dir) / table_key
    written: list[Path] = [stage_tmp]   # rolled back on failure
    expected = 0
    try:
        extract, extracted = _counted(source)
        extract.write.mode("errorifexists").parquet(str(stage_tmp))
        expected = extracted.get["rows"]
        if expected == 0:
            # V8 empty-table short-circuit (migration.py:1921-1931)
            shutil.rmtree(stage_tmp, ignore_errors=True)
            if status:
                status.append(table_key, "empty", 0, 0, attempt)
            return MigrateOutcome(table_key, "empty", 0, 0,
                                  "empty-table skip")

        if target.exists():
            raise IOError(f"load target exists: {target}")
        written.append(target)
        load, staged = _counted(
            spark.read.schema(source.schema).parquet(str(stage_tmp)))
        load.write.mode("errorifexists").parquet(str(target))
        staged_count = staged.get["rows"]
        if staged_count != expected:  # V1 verify-or-rollback
            raise ValueError(
                f"stage count {staged_count} != expected {expected}")
        _atomic_publish(stage_tmp, stage_final)
        written.append(stage_final)

        actual = spark.read.schema(source.schema).parquet(str(target)) \
            .count()
        if actual != expected:    # V2 post-load re-check
            raise ValueError(f"load count {actual} != expected {expected}")

        size = sum(f.stat().st_size
                   for f in stage_final.rglob("*") if f.is_file())
        if status:
            status.append(table_key, "loaded", expected, size, attempt)
        return MigrateOutcome(table_key, "loaded", expected, actual)
    except Exception as exc:  # rollback this attempt, report failure
        for p in written:
            shutil.rmtree(p, ignore_errors=True)
        if status:
            status.append(table_key, "failed", expected, 0, attempt)
        return MigrateOutcome(table_key, "failed", expected, -1, str(exc))


def migrate_tables(spark: SparkSession,
                   sources: dict[str, DataFrame],
                   staging_dir: str, target_dir: str,
                   status: MigrationStatus,
                   max_attempts: int = 3) -> list[MigrateOutcome]:
    """Multi-table driver loop with resume + failed-first retry (O4).

    The ledger is read once. Tables already 'loaded' are skipped (J15
    resume delta); previously-failed tables run before fresh ones
    (load_schema_and_data.py:856-874). Before each attempt the table's
    unverified leftovers — `target/<key>`, `staging/<key>` and stale
    `staging/_tmp_<key>_*` dirs of a run killed before its publish —
    are removed. Spark parallelizes within each table; the loop itself
    runs the tables one after another on the calling thread."""
    state = {r.table_key: r.state
             for r in status.current().select("table_key", "state")
             .collect()}
    todo = [k for k in sorted(sources) if state.get(k) != "loaded"]
    queue = ([k for k in todo if state.get(k) == "failed"]
             + [k for k in todo if state.get(k) != "failed"])
    outcomes = []
    for key in queue:
        for attempt in range(max_attempts):
            for p in [Path(target_dir) / key, Path(staging_dir) / key,
                      *_stage_tmp_dirs(staging_dir, key)]:
                shutil.rmtree(p, ignore_errors=True)
            out = migrate_table(spark, sources[key], key, staging_dir,
                                target_dir, status, attempt)
            if out.state != "failed":
                break
        outcomes.append(out)
    return outcomes


def reconcile(status: MigrationStatus,
              inventory: DataFrame) -> DataFrame:
    """V3/V4 completeness: inventory anti-join loaded set -> missing."""
    loaded = status.in_state("loaded")
    return (inventory.join(loaded,
                           inventory.table_key == loaded.table_key,
                           "left_anti"))


def listing_reconcile(spark: SparkSession, source_dir: str,
                      target_dir: str) -> DataFrame:
    """S11/V6 over real filesystems: relative-path + byte-size compare
    of two directory trees (local staging vs object-store copy). On a
    cluster the listings come from the Hadoop FileSystem API; the
    reconciliation join is identical."""
    def listing(root: str):
        base = Path(root)
        return [(str(p.relative_to(base)), p.stat().st_size)
                for p in sorted(base.rglob("*"))
                if p.is_file() and not p.name.startswith((".", "_"))]

    schema = StructType([StructField("path", StringType()),
                         StructField("size_bytes", LongType())])
    src = local_frame(spark, listing(source_dir), schema) \
        .withColumnRenamed("size_bytes", "src_size")
    tgt = local_frame(spark, listing(target_dir), schema) \
        .withColumnRenamed("size_bytes", "tgt_size")
    joined = src.join(tgt, "path", "full_outer")
    return joined.select(
        "path", "src_size", "tgt_size",
        F.when(F.col("src_size").isNull(), "extra_target")
         .when(F.col("tgt_size").isNull(), "missing_target")
         .when(F.col("src_size") != F.col("tgt_size"), "size_mismatch")
         .otherwise("ok").alias("status"))
