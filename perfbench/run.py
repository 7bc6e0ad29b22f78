"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload migrate_wide --seed 1 \
        --seconds 10 --trace 0

Makes the workload's inputs from the seed, runs it in a fresh working
directory under `.perfbench_work/`, checks the outputs, writes a run
record and a per-operation sidecar to `.perfbench_out/`, and prints one
JSON line last: end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

END_TO_END = {"setup_s": "s", "pass_s": "s", "space_amp": "ratio"}
WORKLOADS = ("analytics", "migrate_wide")


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_per_table", "_per_source_row", "_per_source_byte")):
        return "ratio"
    return "count"


def foreign_spark_jvms() -> list[int]:
    """Spark JVMs already running when the run starts (as bench.py
    checks): their load would leak into the timings."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"java" in cmd and b"spark" in cmd.lower():
            pids.append(int(p))
    return pids


def git_rev(root: str) -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def isolate(work: str, cpus: int) -> None:
    """Point every scratch location of Python, the JVM, Spark and the
    engine into `work`, so each run starts from the same empty state
    and nothing outlives it."""
    for d in ("tmp", "local", "memo", "sql-warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    for var in ("SPARK_GRAFT_WAREHOUSE", "SPARK_GRAFT_WARM_SERIAL",
                "SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_MEMO_DIR": os.path.join(work, "memo"),
        "SPARK_GRAFT_CPUS": str(cpus),
        # no JVM writes its perf-data file to the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = None
    # the driver heap get_spark asks for; it sets no other JVM option
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-memory {mem}",
        f"--conf spark.sql.warehouse.dir={work}/sql-warehouse",
        # keep every job and stage of the run readable for the trace
        "--conf spark.ui.retainedJobs=1000000",
        "--conf spark.ui.retainedStages=1000000",
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '-XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}'",
        "pyspark-shell"])


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true",
                    help="a few operations per workload at sf0.001 "
                         "(smoke test)")
    ap.add_argument("--out", default=".perfbench_out",
                    help="directory for the run record and sidecar")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "iq_to_hdl_migration_spark",
                                       "__init__.py")):
        print("perfbench: run from a checkout root (no "
              "iq_to_hdl_migration_spark package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    cpus = len(os.sched_getaffinity(0))
    with open("/proc/stat") as f:
        steal0 = int(f.readline().split()[8])
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "quick": args.quick,
        "nproc": cpus, "spark_graft_cpus": cpus,
        "load_1m_start": os.getloadavg()[0],
        "foreign_spark_jvms": foreign_spark_jvms(),
        "python": platform.python_version(), "git_rev": git_rev(root),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{run_id}")
    isolate(work, cpus)

    import pyspark

    import workloads
    from tracing import Tracer, layer_self_times

    record["spark"] = pyspark.__version__
    run = workloads.Run(root=root, work=work, seed=args.seed,
                        seconds=args.seconds, quick=args.quick,
                        tracer=Tracer(run_id, bool(args.trace)))
    jvm_kb = 0
    run.mark("imports")
    try:
        with run.tracer.span(args.workload, "bench"):
            getattr(workloads, args.workload)(run)
    finally:
        run.mark("trace")
        jvm_kb = workloads.stop_spark(run.spark)
        run.mark("teardown")
        tmp = os.path.join(work, "tmp")
        record["spark_graft_dirs"] = sorted(
            d for d in os.listdir(tmp) if d.startswith("spark_graft_"))
        shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(work):
        raise RuntimeError(f"run directory {work} outlived the run")

    e2e = {
        "setup_s": run.setup,
        "pass_s": statistics.median(run.passes),
        "space_amp": sum(run.stored.values()) / max(1, run.source_bytes),
    }
    run.layers["mem.peak_rss_mb"] = (
        jvm_kb + workloads.vm_hwm_kb("self")) / 1024.0
    layers = {name: float(run.layers.get(name, 0))
              for name in workloads.PER_LAYER}
    for layer, secs in layer_self_times(run.tracer.spans).items():
        if f"self.{layer}_s" in layers:
            layers[f"self.{layer}_s"] = secs

    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    with open("/proc/stat") as f:
        record["steal_s"] = ((int(f.readline().split()[8]) - steal0)
                             / os.sysconf("SC_CLK_TCK"))
    run.mark("end")
    prev, phases = t_start, {}
    for phase, t in sorted(run.phases.items(), key=lambda kv: kv[1]):
        phases[phase], prev = t - prev, t
    record.update(sf=run.sf, phases_s=phases, end_to_end=e2e,
                  per_layer=layers, passes=run.passes, pass_cpu_s=run.cpu,
                  work=work, stored_bytes=run.stored,
                  source_bytes=run.source_bytes,
                  failures=run.failures, attempted=attempted, failed=failed)
    out = os.path.join(root, args.out)
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}"
                             f"-trace{args.trace}-{run_id}")
    with open(f"{stem}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    with open(f"{stem}.detail.json", "w") as f:
        json.dump({"ops": run.ops, "spans": run.tracer.spans}, f,
                  default=str)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
