"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q

The Spark-backed tests launch the benchmark as a subprocess in quick
mode (a few operations per workload at sf0.001); together they take a
few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import datagen  # noqa: E402
from run import END_TO_END, WORKLOADS  # noqa: E402
from tracing import layer_self_times, self_time  # noqa: E402
from workloads import PER_LAYER  # noqa: E402


def bench(tmp_path: Path, workload: str, seed: int, trace: int) -> tuple:
    out = tmp_path / f"{workload}-{seed}-{trace}-{len(os.listdir(tmp_path))}"
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--quick", "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    [record] = [p for p in out.glob("*.json")
                if not p.name.endswith(".detail.json")]
    detail = json.loads(record.with_suffix(".detail.json").read_text())
    return line, json.loads(record.read_text()), detail


def test_datagen_is_seeded(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 0.001, 7)
    datagen.generate(str(tmp_path / "b"), 0.001, 7)
    datagen.generate(str(tmp_path / "c"), 0.001, 8)
    for t in a:
        name = f"{t}.parquet"
        assert ((tmp_path / "a" / name).read_bytes()
                == (tmp_path / "b" / name).read_bytes())
    assert ((tmp_path / "a" / "lineitem.parquet").read_bytes()
            != (tmp_path / "c" / "lineitem.parquet").read_bytes())


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 1, "parent": None, "layer": "a", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "b", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "layer": "b", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 3, "layer": "c", "start": 5.0, "end": 9.0},
    ]
    assert self_time(spans[0], spans[1:3]) == pytest.approx(5.0)
    assert layer_self_times(spans) == pytest.approx(
        {"a": 5.0, "b": 5.0, "c": 4.0})


def test_oracle_mismatch_reports_wrong_rows(tmp_path):
    from iq_to_hdl_migration_spark.queries import load_all

    import checks

    spec = load_all()["q1_pricing_summary"]
    sf_dir = str(tmp_path / "sf")
    datagen.generate(sf_dir, 0.001, 1)
    cols, rows = checks._oracle_module().run_oracle(spec.oracle, sf_dir)
    assert checks.oracle_mismatch(spec, sf_dir, cols, rows) is None
    assert "row count" in checks.oracle_mismatch(spec, sf_dir, cols,
                                                 rows[1:])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(tmp_path, workload):
    line, record, _ = bench(tmp_path, workload, 1, 0)
    assert line["correct"] and line["failed"] == 0, record["failures"]
    assert line["attempted"] >= 1
    assert set(line["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in line["metrics"].values()), line
    assert not os.path.exists(record["work"])


def test_traced_counters_repeat(tmp_path):
    """Counters of the serial paths are the same in two same-seed runs."""
    runs = [bench(tmp_path, "migrate_wide", 3, 1) for _ in range(2)]
    for line, record, _ in runs:
        assert line["correct"], record["failures"]
        assert set(line["metrics"]) == set(PER_LAYER)
    (_, a, _), (_, b, _) = runs
    for key in ("spine.jobs_per_table", "spine.rows_read_per_source_row",
                "ddl.hits"):
        assert a["per_layer"][key] == b["per_layer"][key] > 0, key
    # space_amp's staging and target bytes repeat exactly; its ledger
    # files hold a random run id and a timestamp per row, so their
    # compressed size can differ by a byte between runs
    for part in ("staging", "target"):
        assert a["stored_bytes"][part] == b["stored_bytes"][part] > 0

    runs = [bench(tmp_path, "analytics", 3, 1) for _ in range(2)]
    counters = []
    for line, record, detail in runs:
        assert line["correct"], record["failures"]
        counters.append({o["name"]: o["counters"] for o in detail["ops"]
                         if o["kind"] == "query"})
    assert counters[0] == counters[1]
    assert all(c[0]["jobs"] > 0 for c in counters[0].values())
