#!/usr/bin/env python3
"""Steadiness check: run one workload repeatedly and report, per metric,
the median, the quartiles and the spread (q3 - q1) / median, against the
bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload surface --seeds 1,2 --repeat 3
    python3 perfbench/steady.py --workload table --seeds 1-10

Seeds are a comma list or an a-b range; each seed runs `--repeat` times.
Run from the root of a checkout. The per-run results are appended to
.bench_build/perfbench/steady-<workload>.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--repeat", type=int, default=1)
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    cmd = bench["command"]
    log = ROOT / ".bench_build" / "perfbench" / f"steady-{a.workload}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values, walls = {}, []
    for seed in seeds_of(a.seeds):
        for _ in range(a.repeat):
            t0 = time.time()
            p = subprocess.run(cmd + ["--workload", a.workload, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.stderr.write(p.stdout[-2000:] + p.stderr[-3000:])
                sys.exit(f"run failed: seed {seed} exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            with log.open("a") as f:
                f.write(json.dumps(dict(res, seed=seed, wall_s=walls[-1])) + "\n")
            if not res["correct"]:
                print(f"seed {seed}: INCORRECT, failed {res['failed']}/{res['attempted']}")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"seed {seed}: {walls[-1]:.1f} s  " + "  ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    print(f"\n{a.workload}: {len(walls)} runs, run wall median {statistics.median(walls):.1f} s")
    print(f"{'metric':<28}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3, s = spread(vs)
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if s <= b / 3 else "  <bound" if s <= b else "  OVER")
        print(f"{k:<28}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{s:>9.3f}"
              f"{'' if b is None else format(b, '>8.2f')}{flag}")


if __name__ == "__main__":
    main()
