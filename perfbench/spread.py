#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's median,
quartiles and spread ((Q3 - Q1) / median, quartiles as Python's
statistics.quantiles(values, n=4) gives them) against its bound.

    python3 perfbench/spread.py --workload llm_corpus --seeds 1-10 [--trace 1]
        [--cores N] [--out perfbench/results/<file>.json]

Run from the root of a checkout, with nothing else running on the host.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        cmd = [sys.executable, str(BENCH / "run.py"), "--workload", a.workload, "--seed", str(s),
               "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
        if a.cores:
            cmd += ["--cores", str(a.cores)]
        t0 = time.monotonic()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(f"seed {s} failed with exit code {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, "wall_s": wall, **res})
        print(f"seed {s}: {wall:.1f} s wall, correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", file=sys.stderr)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None, "bound": bounds.get(name)}
    print(f"{'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for n, m in summary.items():
        sp = "-" if m["spread"] is None else f"{m['spread']:.3f}"
        print(f"{n:24} {m['median']:12.4f} {m['q1']:12.4f} {m['q3']:12.4f} {sp:>8} {m['bound'] or '':>6}")
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps({"workload": a.workload, "trace": a.trace,
                                           "cores": a.cores, "summary": summary, "runs": runs},
                                          indent=1) + "\n")


if __name__ == "__main__":
    main()
