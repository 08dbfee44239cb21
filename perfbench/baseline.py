#!/usr/bin/env python3
"""Run the benchmark over several seeds and print a Markdown baseline table.

Usage (from the root of a checkout)::

    python3 perfbench/baseline.py --seeds 1-10 --traced-seed 1 > table.md

For each workload in ``BENCHMARK.json``: one untraced run per seed (the
end-to-end table: median, quartiles and their spread as a share of the
median, next to the metric's bound), then two traced runs on the same
seed (the per-layer table, with a check that counts repeat exactly), and
for ``mailing_job`` the split of one ``run_mailing_job`` call into its
child spans and the runner's self time.  Every run's stamp line is kept
in ``perfbench/work/runs.jsonl`` by ``run.py`` itself.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from layers import RUNNER_CHILDREN  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(cfg: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*cfg["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(cfg["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "stamp": json.loads(lines[-2])["stamp"]}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def runner_split(trace_file: Path) -> list[tuple[str, float]]:
    """Child-span families and self time of the last warm ``run_mailing_job``."""
    spans = json.loads(trace_file.read_text())["spans"]
    runner = [s for s in spans if s["name"] == "pipeline.runner"][-1]
    kids = [s for s in spans if s["parent"] == runner["id"]]
    rows = [(name, sum(s["dur"] for s in kids if s["name"] == name)) for name in RUNNER_CHILDREN]
    rows.append(("pipeline.runner.self", runner["dur"] - sum(s["dur"] for s in kids)))
    rows.append(("= pipeline.runner (run_mailing_job span)", runner["dur"]))
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None, help="comma list; default all")
    args = ap.parse_args()
    cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in cfg["workloads"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}

    print("## End-to-end (untraced), seeds", args.seeds, "\n")
    print("| workload | metric | unit | median | q1 | q3 | (q3-q1)/median | bound | runs failed |")
    print("|---|---|---|---|---|---|---|---|---|")
    warm_median = {}
    for w in names:
        runs = [run(cfg, w, s, 0) for s in seeds(args.seeds)]
        failed = sum(r["result"]["failed"] for r in runs)
        for m in cfg["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, rel = spread(vals)
            print(f"| {w} | {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                  f"| {rel:.3f} | {bounds[m['name']]} | {failed} |")
        # Wall times of the same passes, from the stamps (not metrics: see BASELINE.md).
        for name, pick in (("cold_s", lambda p: p[0]), ("warm_s", lambda p: statistics.median(p[1:]))):
            med, q1, q3, rel = spread([pick(r["stamp"]["pass_s"]) for r in runs])
            if name == "warm_s":
                warm_median[w] = med
            print(f"| {w} | _wall_ {name} | s | {med:.4g} | {q1:.4g} | {q3:.4g} | {rel:.3f} | | |")
        steal = [r["stamp"]["steal_frac"] for r in runs]
        foreign = sorted({p for r in runs for p in r["stamp"]["foreign_processes"]})
        print(f"| {w} | _stamp_ | | steal max {max(steal):.3f} | load1 max "
              f"{max(r['stamp']['load1_max'] for r in runs):.2f} | foreign: {len(foreign)} | | | |")

    print("\n## Per-layer (traced, seed", args.traced_seed, "run twice)\n")
    print("| metric | unit | " + " | ".join(f"{w} #1 | {w} #2" for w in names) + " |")
    print("|---|---|" + "---|---|" * len(names))
    traced = {w: [run(cfg, w, args.traced_seed, 1) for _ in range(2)] for w in names}
    for m in cfg["per_layer"]:
        cells = []
        for w in names:
            for r in traced[w]:
                cells.append(f"{r['result']['metrics'][m['name']]['value']:.4g}")
        print(f"| {m['name']} | {m['unit']} | " + " | ".join(cells) + " |")
    for w in names:
        a, b = (r["result"]["metrics"] for r in traced[w])
        counts = [k for k in a if k.endswith(".jobs") or k == "spark.checkpoints"]
        differ = [k for k in counts if a[k]["value"] != b[k]["value"]]
        overhead = statistics.fmean(r["result"]["metrics"]["trace.warm_s"]["value"] for r in traced[w])
        print(f"\n{w}: job and checkpoint counts repeat exactly: {not differ} {differ or ''}; "
              f"tracing overhead on wall warm_s: {overhead - warm_median[w]:+.3f} s "
              f"({overhead / warm_median[w] - 1:+.1%})")

    if "mailing_job" in names:
        print("\n## `run_mailing_job` split (last traced warm pass)\n")
        print("| span | s |\n|---|---|")
        for name, s in runner_split(BENCH / "work" / "trace_mailing_job.json"):
            print(f"| {name} | {s:.3f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
