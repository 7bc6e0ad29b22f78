"""Summarise run records: per workload, the median of each end-to-end
metric in untraced and traced runs, the tracing overhead (traced over
untraced, minus one) and the median self time of each layer.

    python3 perfbench/report.py [.perfbench_out]
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(out_dir: str) -> list[dict]:
    recs = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.json"))):
        if not path.endswith(".detail.json"):
            with open(path) as f:
                recs.append(json.load(f))
    return recs


def summarise(recs: list[dict]) -> dict:
    out: dict = {}
    for wl in sorted({r["workload"] for r in recs}):
        plain = [r for r in recs if r["workload"] == wl and not r["trace"]]
        traced = [r for r in recs if r["workload"] == wl and r["trace"]]
        row: dict = {"runs": len(plain), "traced_runs": len(traced)}
        for name in (plain or traced)[0]["end_to_end"]:
            p = [r["end_to_end"][name] for r in plain]
            t = [r["end_to_end"][name] for r in traced]
            row[name] = {"median": statistics.median(p) if p else None,
                         "traced_median": statistics.median(t) if t else None}
            if p and t and statistics.median(p):
                row[name]["overhead"] = (statistics.median(t)
                                         / statistics.median(p) - 1)
        if traced:
            row["self_s"] = {
                k[5:-2]: statistics.median(r["per_layer"][k] for r in traced)
                for k in traced[0]["per_layer"] if k.startswith("self.")}
        out[wl] = row
    return out


if __name__ == "__main__":
    print(json.dumps(summarise(load(sys.argv[1] if len(sys.argv) > 1
                                    else ".perfbench_out")), indent=1))
