#!/usr/bin/env python3
"""Write the per-layer table: one untraced and one traced run of each workload.

    python3 perfbench/layers.py [--seed 7] [--seconds 8] [--out perfbench/LAYERS.md]

Run from the repository root. The untraced run gives the end-to-end
figures, the traced run the per-layer ones and the trace file
(.bench_out/trace-<workload>-seed<n>.json) that the per-operation
breakdown is read from. Tracing overhead is the traced run's wall_s minus
the untraced run's.
"""
import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("load_bulk", "load_incremental", "curate_serve")
# the layer of each per-layer metric, by name prefix, in table order
LAYERS = ("pipeline", "streaming", "table", "export", "ext", "catalyst", "spark", "trace")
STAGES = ("pipeline.prepare", "pipeline.write", "pipeline.export", "streaming.trigger",
          "table.read", "ext.dedup", "ext.index_build", "ext.query")
# operations before and after the timed region, while the listeners are off
UNTIMED = ("load.base", "load.corpus", "verify.table")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} trace={trace} failed:\n{p.stdout[-2000:]}\n{p.stderr[-4000:]}")
    return json.loads(lines[-1]), lines[:-1]


def fmt(v):
    if v is None:
        return "–"
    if v == 0:
        return "0"
    if abs(v) >= 100:
        return f"{v:,.0f}"
    return f"{v:.3g}"


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown CPU"


def op_table(trace):
    """Mean time per operation kind, split by where it went."""
    kinds = {}
    for op in trace["ops"]:
        if op["op"] in UNTIMED:
            continue
        k = kinds.setdefault(op["op"], {"n": 0, "s": 0.0, "busy": 0.0, "driver": 0.0,
                                         "plan": 0.0, "jobs": 0, "queries": 0, "stages": {}})
        k["n"] += 1
        k["s"] += op["s"]
        k["busy"] += op["spark_busy_s"]
        k["driver"] += op["driver_only_s"]
        k["plan"] += op["analysis_s"] + op["optimization_s"] + op["planning_s"]
        k["jobs"] += op["jobs"]
        k["queries"] += op["queries"]
        for name, c in op["children"].items():
            k["stages"][name] = k["stages"].get(name, 0.0) + c["s"]
    used = [s for s in STAGES if any(s in k["stages"] for k in kinds.values())]
    head = ["operation", "n", "mean s", "Spark job running", "driver only",
            "Catalyst phases", "jobs/op", "queries/op"] + used
    rows = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
    for name, k in kinds.items():
        n = k["n"]
        cells = [f"`{name}`", str(n), fmt(k["s"] / n), fmt(k["busy"] / n), fmt(k["driver"] / n),
                 fmt(k["plan"] / n), fmt(k["jobs"] / n), fmt(k["queries"] / n)]
        cells += [fmt(k["stages"].get(s, 0.0) / n) for s in used]
        rows.append("| " + " | ".join(cells) + " |")
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--out", default=os.path.join(HERE, "LAYERS.md"))
    a = ap.parse_args()

    e2e, layer, traces, notes = {}, {}, {}, {}
    for w in WORKLOADS:
        r, text = run(w, a.seed, a.seconds, 0)
        e2e[w] = {k: v["value"] for k, v in r["metrics"].items()}
        notes[w] = [l for l in text if l.startswith(("operations timed", "error_rate"))]
        r, _ = run(w, a.seed, a.seconds, 1)
        layer[w] = {k: (v["value"], v["unit"]) for k, v in r["metrics"].items()}
        with open(os.path.join(ROOT, ".bench_out", f"trace-{w}-seed{a.seed}.json")) as f:
            traces[w] = json.load(f)

    out = ["# Per-layer table", "",
           f"One untraced and one traced run of each workload, seed {a.seed}, "
           f"`--seconds {a.seconds}`, on {os.cpu_count()} cores of {cpu_model()} "
           f"(`local[{os.cpu_count()}]`). Regenerate with `python3 perfbench/layers.py`.",
           "Figures are totals over the timed region of one run; a layer idle in a "
           "workload reads 0. They are one run each, not medians: use them to see "
           "where time goes, not to compare builds.", "",
           "## End to end (untraced)", "",
           "| metric | " + " | ".join(WORKLOADS) + " |", "|---|" + "---|" * len(WORKLOADS)]
    for m in e2e[WORKLOADS[0]]:
        out.append(f"| `{m}` | " + " | ".join(fmt(e2e[w][m]) for w in WORKLOADS) + " |")
    out += [""] + [f"- {w}: " + "; ".join(notes[w]) for w in WORKLOADS]
    out += ["", "## Per layer (traced)", "",
            "| layer | metric | unit | " + " | ".join(WORKLOADS) + " |",
            "|---|---|---|" + "---|" * len(WORKLOADS)]
    names = list(layer[WORKLOADS[0]])
    for lay in LAYERS:
        for m in [n for n in names if n.split(".")[0] == lay]:
            unit = layer[WORKLOADS[0]][m][1]
            out.append(f"| {lay} | `{m}` | {unit} | " +
                       " | ".join(fmt(layer[w][m][0]) for w in WORKLOADS) + " |")
    out += ["", "## Tracing overhead", "",
            "| workload | untraced wall_s | traced wall_s | overhead s |", "|---|---|---|---|"]
    for w in WORKLOADS:
        u, t = e2e[w]["wall_s"], layer[w]["trace.wall_s"][0]
        out.append(f"| {w} | {fmt(u)} | {fmt(t)} | {t - u:+.3f} |")
    out += ["", "Both runs share the seed, so they do the same operations; the difference "
            "also holds run-to-run noise (see the spreads in README.md).", "",
            "## Where each operation's time goes (traced)", "",
            "Per operation kind, the mean of: its wall time; the part with at least one "
            "Spark job running; the part with none (driver-side planning, metadata, "
            "commits); the summed Catalyst analysis, optimization and planning phases "
            "of its queries; and the benchmark's spans inside it.", ""]
    for w in WORKLOADS:
        out += [f"### {w}", ""] + op_table(traces[w]) + [""]
    with open(a.out, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()
