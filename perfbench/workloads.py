"""The benchmark's workloads. Each is a closed loop with one client:
the next call starts when the previous one returns.

A workload function takes a `Run`, makes its inputs from the seed,
sets the program up, repeats whole passes over its operations until
`run.seconds` have elapsed (at least one pass), checks the outputs
after the timed region and fills `run.ops`, `run.setup` and
`run.layers`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import datagen
from tracing import Tracer, children, inclusive

# Sizes: a run of either workload takes about a minute on a 4-core host
# (see README.md, "What the run-time budget left out").
WIDE_SF = 0.01             # base tables the wide slices are cut from
QUICK_SF = 0.001           # --quick: the smoke test's size
# (base table, rows): a long tail of small tables, 1 row to 30k rows,
# narrow and wide (text, float arrays), as real estates have
WIDE_LADDER = (("nation", 1), ("documents", 40), ("embeddings", 300),
               ("events", 3_000), ("lineitem", 30_000))
RELOAD_LINES = 2_000
# set-up starts the session this often, each time in a fresh JVM, and
# keeps the last; setup_s counts the median start
SESSION_STARTS = 3
SCHEMA_OWNERS = ("app2",)   # schema generation runs per owner table
ANALYTICS_SF = 0.001

# Headliners (registry `bench=True`): the three readers of the dedup
# memos and plain plans over the relational tables. Each is timed as
# bench.py times it: a warm-up, then the best of QUERY_REPS timed runs.
HEADLINERS = (
    "dedup_minhash_lsh_pairs", "dedup_incremental_pairs",
    "dedup_simhash_pairs", "text_tfidf_topk", "q1_pricing_summary",
    "q21_sole_return_suppliers", "trade_flow_matrix",
    "asof_purchase_attribution",
)
QUERY_REPS = 3
QUERY_MODULES = ("dedup_queries", "mlprep_queries", "relational",
                 "relational_ext2", "supplychain_queries",
                 "temporal_queries")
# A streaming twin drained by `streaming.windows.run_bottomk_fold`:
# document micro-batches folded into a per-language bottom-k snapshot.
TWINS = ("stream_bottomk_sample",)
PER_LAYER = (
    ["session.start_s", "mem.peak_rss_mb",
     "tables.load_s",
     "memo.ingest_s", "memo.jobs", "memo.persisted_bytes",
     "query.p50_s",
     "query.build_s", "query.build_jobs", "query.exec_s", "query.jobs",
     "query.stages", "query.tasks", "query.shuffle_read_bytes",
     "query.shuffle_write_bytes", "query.shuffle_records",
     "query.spill_bytes", *(f"query.{m}.exec_s" for m in QUERY_MODULES),
     "assess.s", "assess.jobs",
     "ddl.compile_s", "ddl.rewrite_s", "ddl.lines_per_s", "ddl.hits",
     "schema.s", "schema.statements", "schema.failed",
     "spine.table_p50_s", "spine.table_s", "spine.jobs_per_table",
     "spine.rows_read_per_source_row",
     "spine.bytes_written_per_source_byte",
     "ledger.append_s", "ledger.files", "ledger.resume_s",
     "reconcile.s", "listing_reconcile.s",
     "stream.twin_s", "stream.batches", "stream.batch_p50_s",
     "stream.jobs", "stream.snapshot_bytes"]
    + [f"self.{layer}_s" for layer in
       ("bench", "session", "tables", "memo", "queries", "assess", "ddl",
        "schema", "spine", "stream")])


@dataclass
class Run:
    root: str
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    quick: bool = False
    sf: float = 0.0           # of the generated tables, set by the workload
    spark: object = None
    setup: float = 0.0
    passes: list = field(default_factory=list)      # pass seconds
    cpu: list = field(default_factory=list)         # pass CPU seconds
    ops: list = field(default_factory=list)         # one dict per op
    failures: list = field(default_factory=list)
    source_bytes: int = 0
    stored: dict = field(default_factory=dict)      # part -> bytes kept
    layers: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)      # phase -> end time

    def mark(self, phase: str) -> None:
        self.phases[phase] = time.perf_counter()

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def op(self, kind: str, name: str, seconds: float,
           error: str | None = None, **extra) -> dict:
        rec = {"kind": kind, "name": name, "s": seconds, "ok": True,
               "error": None, **extra}
        self.ops.append(rec)
        if error is not None:
            self.fail(rec, error)
        return rec

    def fail(self, op: dict, error: str) -> None:
        """Mark `op` failed: it raised or one of its outputs failed a
        check. An op that fails several checks still counts once."""
        op["ok"] = False
        op["error"] = error if op["error"] is None else (
            f"{op['error']}; {error}")
        self.failures.append(f"{op['kind']} {op['name']}: {error}")

    def more(self, t0: float) -> bool:
        return time.perf_counter() - t0 < self.seconds


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every process
    below it: the Spark JVM and its Python workers."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(fields[1]),
                               int(fields[11]) + int(fields[12]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    if not os.path.exists(path):
        return 0
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def stop_spark(spark) -> int:
    """Stop the session and the JVM it launched; returns the JVM's
    peak resident set (kB), read before it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    hwm = vm_hwm_kb(proc.pid) if proc is not None else 0
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()     # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the next session launches a JVM of its own
    SparkContext._gateway = None
    SparkContext._jvm = None
    return hwm


def start_session(run: Run, app: str) -> float:
    """Start the session SESSION_STARTS times; returns the median
    start time."""
    from iq_to_hdl_migration_spark.session import get_spark

    secs = []
    for _ in range(SESSION_STARTS):
        if run.spark is not None:
            run.tracer.sc = None
            stop_spark(run.spark)
        with run.tracer.span("session.start", "session") as rec:
            run.spark = get_spark(f"perfbench-{app}")
            run.spark.sparkContext.setLogLevel("ERROR")
        run.tracer.sc = run.spark.sparkContext
        secs.append(rec["end"] - rec["start"])
    run.layers["session.start_s"] = statistics.median(secs)
    return run.layers["session.start_s"]


def _spans(run: Run, layer: str, prefix: str = "") -> list[dict]:
    return [s for s in run.tracer.spans
            if s["layer"] == layer and s["name"].startswith(prefix)
            and "end" in s]


def _secs(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _count(spans: list[dict], key: str) -> int:
    return sum(s.get(key, 0) for s in spans)


# ------------------------------------------------------------ migrate_wide

def _wide_inputs(run: Run, rng) -> dict[str, tuple[str, int]]:
    """Row slices of the base tables at seeded offsets, one parquet
    file each: a fixed ladder of sizes and widths, so the seed changes
    the rows and not the shape of the estate."""
    import pyarrow.parquet as pq

    base = os.path.join(run.work, "base")
    datagen.generate(base, run.sf, run.seed)
    out = {}
    for i, (name, rows) in enumerate(WIDE_LADDER[:3] if run.quick
                                     else WIDE_LADDER):
        tbl = pq.read_table(os.path.join(base, f"{name}.parquet"))
        n = min(rows, tbl.num_rows)
        off = int(rng.integers(0, tbl.num_rows - n + 1))
        key = f"t{i:02d}_{name}"
        path = run.path("src", f"{key}.parquet")
        pq.write_table(tbl.slice(off, n), path)
        out[key] = (path, n)
    return out


def _reload_sql(run: Run, rng) -> list[str]:
    """A seeded reload.sql: fixture statement blocks drawn with
    replacement between the unload's start and end sentinels."""
    from iq_to_hdl_migration_spark.ddl import engine

    fixture = os.path.join(run.root, "iq_to_hdl_migration_spark", "ddl",
                           "fixtures", "reload_fixture.sql")
    with open(fixture) as f:
        lines = f.read().splitlines()
    blocks = [lines[a:b + 1] for a, b in engine.segment_blocks(lines)
              if not any("Creation of objects" in x for x in lines[a:b + 1])]
    want = 400 if run.quick else RELOAD_LINES
    out = [engine.SENTINEL_START, "go", ""]
    while len(out) < want:
        out += blocks[int(rng.integers(0, len(blocks)))] + [""]
    return out + [engine.SENTINEL_END]


class _TableClock(dict):
    """The source map handed to `migrate_tables`. The spine reads
    `sources[key]` just before it migrates that table, so each read
    closes the previous table's span and opens this one's. That holds
    only while the tables are migrated one after another on the calling
    thread; a read from any other thread is recorded in `foreign`, and
    the pass then stops with an error rather than report per-table
    figures that no longer mean anything."""

    def __init__(self, sources: dict, tracer: Tracer) -> None:
        super().__init__(sources)
        self.tracer = tracer
        self.thread = threading.get_ident()
        self.foreign: list[str] = []
        self.open = None
        self.done: list[dict] = []

    def __getitem__(self, key):
        if threading.get_ident() != self.thread:
            self.foreign.append(key)
            return super().__getitem__(key)
        self.close()
        self.open = self.tracer.begin(f"table:{key}", "spine", table=key)
        return super().__getitem__(key)

    def close(self) -> None:
        if self.open is not None:
            self.tracer.finish(self.open)
            self.done.append(self.open)
            self.open = None


def _wide_pass(run: Run, i: int, inputs: dict, reload_lines: list[str],
               res: dict) -> None:
    from iq_to_hdl_migration_spark.catalog.fixture import (
        ensure_catalog_views)
    from iq_to_hdl_migration_spark.ddl.engine import rewrite
    from iq_to_hdl_migration_spark.ddl.rules import compile_rules
    from iq_to_hdl_migration_spark.pipeline.migrate import (
        MigrationStatus, listing_reconcile, migrate_tables, reconcile)
    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.schema.generate import generate_spark_ddl
    from iq_to_hdl_migration_spark.schema.load import execute_ddl

    spark, tr = run.spark, run.tracer
    reg = load_all()
    sf_dir = os.path.join(run.work, "base")
    pdir = os.path.join(run.work, f"pass{i}")
    staging = os.path.join(pdir, "staging")
    target = os.path.join(pdir, "target")
    os.makedirs(staging)
    os.makedirs(target)

    with tr.span("assess", "assess") as rec:
        ensure_catalog_views(spark)
        df = reg["j3_master_inventory"].fn(spark, sf_dir)
        res["inventory"] = (df.columns, [tuple(r) for r in df.collect()])
    res["assess_op"] = run.op("assess", "j3_master_inventory",
                              rec["end"] - rec["start"])
    with tr.span("ddl.compile", "ddl") as rec:
        rules = compile_rules(spark)
    run.op("ddl", "compile_rules", rec["end"] - rec["start"])
    with tr.span("ddl.rewrite", "ddl") as rec:
        res["rewrite"] = rewrite(reload_lines, rules)
    run.op("ddl", "rewrite", rec["end"] - rec["start"])
    with tr.span("schema", "schema") as rec:
        stmts = generate_spark_ddl(spark, owners=SCHEMA_OWNERS)
        res["ddl_out"] = execute_ddl(spark, stmts)
    run.op("schema", "generate+execute", rec["end"] - rec["start"],
           None if all(o.ok for o in res["ddl_out"]) else "ddl failed")

    status = MigrationStatus(spark, os.path.join(pdir, "status"))
    real_append = status.append

    def append(*a, **k):
        with tr.span("ledger.append", "spine"):
            return real_append(*a, **k)

    status.append = append
    clock = _TableClock({k: spark.read.parquet(p)
                         for k, (p, _) in inputs.items()}, tr)
    # by interval: its jobs are every job the spine ran, on any thread
    with tr.span("spine.migrate", "spine", by_interval=True) as rec:
        try:
            res["outcomes"] = migrate_tables(spark, clock, staging, target,
                                             status)
        finally:
            clock.close()
    if clock.foreign:
        raise RuntimeError(
            f"migrate_tables read sources {clock.foreign} off the calling "
            "thread: the per-table spans of perfbench/workloads.py "
            "assume serial tables and need reworking")
    res["migrate"] = rec
    res["tables"] = clock.done
    res["table_ops"] = {}
    for t in clock.done:
        key = t["table"]
        out = next(o for o in res["outcomes"] if o.table_key == key)
        rows = inputs[key][1]
        err = None
        if out.state not in ("loaded", "empty") or out.actual != rows:
            err = f"{out.state} expected={out.expected} actual={out.actual}"
        res["table_ops"][key] = run.op("table", key, t["end"] - t["start"],
                                       err, rows=rows)

    keys = sorted(inputs)
    with tr.span("reconcile", "spine") as rec:
        inv = spark.createDataFrame([(k,) for k in keys], "table_key string")
        res["missing"] = reconcile(status, inv).collect()
    res["reconcile_op"] = run.op(
        "reconcile", "reconcile", rec["end"] - rec["start"],
        f"missing {res['missing']}" if res["missing"] else None)
    # the copy of the staged files to the object store is the transfer
    # tool's step, not the engine's: untimed, outside every span
    c0 = time.perf_counter()
    objstore = os.path.join(pdir, "objstore")
    shutil.copytree(staging, objstore)
    res["copy_s"] = time.perf_counter() - c0
    with tr.span("listing_reconcile", "spine") as rec:
        res["listing"] = listing_reconcile(spark, staging,
                                           objstore).collect()
    bad = [r for r in res["listing"] if r.status != "ok"]
    run.op("reconcile", "listing_reconcile", rec["end"] - rec["start"],
           f"{len(bad)} listing mismatches" if bad else None)
    with tr.span("ledger.resume", "spine") as rec:
        again = migrate_tables(spark, {k: spark.read.parquet(p)
                                       for k, (p, _) in inputs.items()},
                               staging, target, status)
    run.op("resume", "migrate_tables", rec["end"] - rec["start"],
           f"resume re-ran {len(again)} tables" if again else None)
    res["status"] = status
    res["dirs"] = (staging, target, os.path.join(pdir, "status"))


def _check_spine_jobs(res: dict, kids: dict) -> None:
    """The spine's jobs counted by interval must equal those its own
    job group and the table spans below it counted. They differ once
    the spine runs jobs on threads that do not carry the calling
    thread's job group: the per-table counters would then read low."""
    m = res["migrate"]
    grouped = m["group_jobs"] + sum(inclusive(k, kids, "jobs")
                                    for k in kids.get(m["id"], []))
    if grouped != m["jobs"]:
        raise RuntimeError(
            f"spine ran {m['jobs']} jobs but its spans account for "
            f"{grouped}: per-table job groups no longer see every job")


def migrate_wide(run: Run) -> None:
    run.sf = QUICK_SF if run.quick else WIDE_SF
    rng = np.random.default_rng([run.seed, 1])
    inputs = _wide_inputs(run, rng)
    reload_lines = _reload_sql(run, rng)
    run.source_bytes = sum(os.path.getsize(p) for p, _ in inputs.values())
    run.mark("inputs")

    run.setup = start_session(run, "migrate_wide")
    run.mark("setup")
    t0 = time.perf_counter()
    results = []
    while not results or run.more(t0):
        res: dict = {}
        p0, c0 = time.perf_counter(), tree_cpu_s()
        with run.tracer.span(f"pass{len(results)}", "bench"):
            _wide_pass(run, len(results), inputs, reload_lines, res)
        run.passes.append(time.perf_counter() - p0 - res["copy_s"])
        run.cpu.append(tree_cpu_s() - c0)
        results.append(res)
        # identical passes: the next pass creates the schema afresh
        for o in res["ddl_out"]:
            run.spark.sql(f"DROP TABLE IF EXISTS "
                          f"`{o.key.replace('.', '__')}`")

    run.mark("passes")
    # checks, outside the timed region
    from iq_to_hdl_migration_spark.queries import load_all
    reg = load_all()
    sf_dir = os.path.join(run.work, "base")
    for i, res in enumerate(results):
        target = res["dirs"][1]
        ledger = {r.table_key: r.state for r in res["status"].current()
                  .collect()}
        for key, (path, _) in inputs.items():
            op = res["table_ops"][key]
            err = checks.same_rows(path, os.path.join(target, key))
            if err:
                run.fail(op, f"pass{i}: {err}")
            if ledger.get(key) not in ("loaded", "empty"):
                run.fail(op, f"pass{i}: ledger state {ledger.get(key)}")
        if set(ledger) - set(inputs):
            run.fail(res["reconcile_op"], f"pass{i}: ledger rows for "
                     f"unknown tables {sorted(set(ledger) - set(inputs))}")
        err = checks.oracle_mismatch(reg["j3_master_inventory"], sf_dir,
                                     *res["inventory"])
        if err:
            run.fail(res["assess_op"], f"pass{i}: {err}")
    run.mark("checks")
    last = results[-1]
    run.stored = dict(zip(("staging", "target", "ledger"),
                          map(dir_bytes, last["dirs"])))

    tr = run.tracer
    tr.harvest()
    if tr.traced:
        kids = children(tr.spans)
        for res in results:
            _check_spine_jobs(res, kids)
    migrates = [r["migrate"] for r in results]
    tables = [t for r in results for t in r["tables"]]
    n_rows = sum(n for _, n in inputs.values()) * len(results)
    src_bytes = run.source_bytes * len(results)
    rewrite_s = _secs(_spans(run, "ddl", "ddl.rewrite"))
    L = run.layers
    L["assess.s"] = _secs(_spans(run, "assess"))
    L["assess.jobs"] = _count(_spans(run, "assess"), "jobs")
    L["ddl.compile_s"] = _secs(_spans(run, "ddl", "ddl.compile"))
    L["ddl.rewrite_s"] = rewrite_s
    L["ddl.lines_per_s"] = len(reload_lines) * len(results) / rewrite_s
    L["ddl.hits"] = len(last["rewrite"].hits)
    L["schema.s"] = _secs(_spans(run, "schema"))
    L["schema.statements"] = len(last["ddl_out"])
    L["schema.failed"] = sum(not o.ok for o in last["ddl_out"])
    L["spine.table_p50_s"] = statistics.median(
        t["end"] - t["start"] for t in tables)
    L["spine.table_s"] = _secs(tables)
    # spine counters over every job of each `migrate_tables` call
    L["spine.jobs_per_table"] = _count(migrates, "jobs") / len(tables)
    L["spine.rows_read_per_source_row"] = _count(
        migrates, "input_records") / n_rows
    L["spine.bytes_written_per_source_byte"] = _count(
        migrates, "output_bytes") / src_bytes
    L["ledger.append_s"] = _secs(_spans(run, "spine", "ledger.append"))
    L["ledger.files"] = len([f for f in os.listdir(last["dirs"][2])
                             if f.endswith(".parquet")])
    L["ledger.resume_s"] = _secs(_spans(run, "spine", "ledger.resume"))
    L["reconcile.s"] = _secs(_spans(run, "spine", "reconcile"))
    L["listing_reconcile.s"] = _secs(_spans(run, "spine",
                                            "listing_reconcile"))


# --------------------------------------------------------------- analytics

def _warm_memos(run: Run, sf_dir: str) -> None:
    """The ingest of the memo family the dedup headliners read: the
    pair graphs and the incremental LSH index."""
    from iq_to_hdl_migration_spark.queries.dedup_queries import (
        warm_dedup_memos)

    with run.tracer.span("memo.ingest", "memo"):
        warm_dedup_memos(run.spark, sf_dir)


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Micro-batch durations of every streaming query."""

        def __init__(self) -> None:
            self.batch_s: list[float] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            ms = event.progress.durationMs.get("triggerExecution", 0)
            self.batch_s.append(ms / 1000.0)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


def _module(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


def _read_pass(run: Run, reg, sf_dir: str, results: list) -> float:
    """One pass: each headliner warmed up and timed, then each
    streaming twin drained once. Appends (op, columns, rows) of each
    to `results`; returns the pass's timed seconds."""
    import tempfile

    tr = run.tracer
    timed = 0.0
    for name in HEADLINERS[:3] if run.quick else HEADLINERS:
        spec = reg[name]
        module = _module(spec)
        best = None
        try:
            with tr.span(f"query.warmup:{name}", "queries"):
                spec.fn(run.spark, sf_dir).collect()
            for rep in range(QUERY_REPS):
                with tr.span(f"query.build:{name}", "queries",
                             module=module, rep=rep) as b:
                    df = spec.fn(run.spark, sf_dir)
                with tr.span(f"query.exec:{name}", "queries",
                             module=module, rep=rep) as e:
                    rows = [tuple(r) for r in df.collect()]
                secs = (b["end"] - b["start"]) + (e["end"] - e["start"])
                best = secs if best is None else min(best, secs)
        except Exception as exc:  # counted, never hidden
            run.op("query", name, 0.0, repr(exc)[:300])
            continue
        results.append((run.op("query", name, best, module=module),
                        df.columns, rows))
        timed += best

    tmp = tempfile.gettempdir()
    for name in TWINS:
        before = set(os.listdir(tmp))
        try:
            with tr.span(f"stream:{name}", "stream", by_interval=True) as rec:
                df = reg[name].fn(run.spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # counted, never hidden
            run.op("twin", name, 0.0, repr(exc)[:300])
            continue
        # the twin's work dir (arrivals, snapshot chain, checkpoint)
        snap = sum(dir_bytes(os.path.join(tmp, d))
                   for d in set(os.listdir(tmp)) - before)
        results.append((run.op("twin", name, rec["end"] - rec["start"],
                               snapshot_bytes=snap), df.columns, rows))
        timed += rec["end"] - rec["start"]
    return timed


def analytics(run: Run) -> None:
    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.sources.tables import load_tables

    run.sf = ANALYTICS_SF
    sf_dir = os.path.join(run.work, f"sf{run.sf}")
    datagen.generate(sf_dir, run.sf, run.seed)
    run.source_bytes = dir_bytes(sf_dir)
    tr = run.tracer
    run.mark("inputs")

    session_s = start_session(run, "analytics")
    s0 = time.perf_counter()
    with tr.span("tables.load", "tables"):
        load_tables(run.spark, sf_dir)
    _warm_memos(run, sf_dir)
    run.setup = session_s + time.perf_counter() - s0
    run.mark("setup")

    listener = None
    if tr.traced:
        listener = _progress_listener()
        run.spark.streams.addListener(listener)
    reg = load_all()
    results: list = []
    t0 = time.perf_counter()
    while not run.passes or run.more(t0):
        c0 = tree_cpu_s()
        with tr.span(f"pass{len(run.passes)}", "bench"):
            run.passes.append(_read_pass(run, reg, sf_dir, results))
        run.cpu.append(tree_cpu_s() - c0)
    run.mark("passes")

    for op, cols, rows in results:
        spec = reg[op["name"]]
        if checks.oracle_applies(spec, run.sf):
            err = checks.oracle_mismatch(spec, sf_dir, cols, rows)
            if err:
                run.fail(op, err)
    run.mark("checks")
    twins = [o for o in run.ops if o["kind"] == "twin"]
    snap_bytes = sum(o.get("snapshot_bytes", 0) for o in twins) / len(
        run.passes)
    memo_dir = os.environ["SPARK_GRAFT_MEMO_DIR"]
    run.stored = {"memo": dir_bytes(memo_dir), "twin": snap_bytes}

    L = run.layers
    if listener is not None:
        seen, deadline = -1, time.time() + 10
        while seen != len(listener.batch_s) and time.time() < deadline:
            seen = len(listener.batch_s)
            time.sleep(0.5)     # progress events arrive asynchronously
        run.spark.streams.removeListener(listener)
        L["stream.batches"] = len(listener.batch_s)
        L["stream.batch_p50_s"] = (statistics.median(listener.batch_s)
                                   if listener.batch_s else 0.0)
    tr.harvest()
    L["tables.load_s"] = _secs(_spans(run, "tables", "tables.load"))
    ingest = _spans(run, "memo", "memo.ingest")
    L["memo.ingest_s"] = _secs(ingest)
    L["memo.jobs"] = _count(ingest, "jobs")
    L["memo.persisted_bytes"] = dir_bytes(memo_dir)
    # per-layer query figures are per execution of the headliner set:
    # times averaged over the timed repetitions, counters of the first
    build = _spans(run, "queries", "query.build:")
    execs = _spans(run, "queries", "query.exec:")
    first = [s for s in execs if s["rep"] == 0]
    lat = [o["s"] for o in run.ops if o["kind"] == "query" and o["ok"]]
    L["query.p50_s"] = statistics.median(lat) if lat else 0.0
    L["query.build_s"] = _secs(build) / QUERY_REPS
    L["query.build_jobs"] = _count([s for s in build if s["rep"] == 0],
                                   "jobs")
    L["query.exec_s"] = _secs(execs) / QUERY_REPS
    for key in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "shuffle_records"):
        L[f"query.{key}"] = _count(first, key)
    L["query.spill_bytes"] = (_count(first, "memory_spill_bytes")
                              + _count(first, "disk_spill_bytes"))
    for m in QUERY_MODULES:
        L[f"query.{m}.exec_s"] = _secs([s for s in execs
                                        if s["module"] == m]) / QUERY_REPS
    for s in first:   # per-query counters for the sidecar
        op = next(o for o in run.ops if o["name"] == s["name"][11:])
        op.setdefault("counters", []).append(
            {k: s.get(k, 0) for k in ("jobs", "stages", "tasks",
                                      "shuffle_records")})
    stream = _spans(run, "stream")
    L["stream.twin_s"] = _secs(stream)
    L["stream.jobs"] = _count(stream, "jobs")
    L["stream.snapshot_bytes"] = snap_bytes
