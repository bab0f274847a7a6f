#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest_steady --seeds 1-10 [--trace 0]

For every metric printed by run.py: median, first and third quartile
(statistics.quantiles(n=4)) and the quartile distance as a share of the
median, next to the metric's bound from BENCHMARK.json. Results are
appended to .bench_build/spread-<workload>-trace<t>.jsonl.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out = ROOT / ".bench_build" / f"spread-{a.workload}-trace{a.trace}.jsonl"
    values = {}
    for s in a.seeds:
        p = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: rc={p.returncode}\n{p.stderr[-3000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(out, "a") as f:
            f.write(json.dumps(dict(seed=s, **res)) + "\n")
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        share = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:34} {med:12.4g} {q1:12.4g} {q3:12.4g} {share:8.3f} {b if b else '':>6}")


if __name__ == "__main__":
    main()
