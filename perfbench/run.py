#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload surface|table --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (the
engine's sources plus perfbench/src, see build.py) and computes the DuckDB
goldens; both are cached under .bench_build/. Each run then launches one JVM on the
compiled classpath, which sets up, runs an untimed, checked warm-up and
closed-loop timed passes, and writes a raw result file. This script
checks the outputs, prints one bare `name value unit` line per metric,
writes a JSON report and prints the result object as its last line.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import build

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = build.BUILD
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("surface", "table")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "live_heap_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_share": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_delay_s": "s", "exec.task_s": "s", "exec.task_cpu_s": "s",
    "exec.core_util": "ratio", "exec.task_gc_s": "s", "exec.input_rows": "count",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "sources.open_ops": "count", "sources.list_ops": "count", "sources.status_ops": "count",
    "sources.bytes_read_mb": "MB", "sources.bytes_written_mb": "MB",
    "sources.build_ops": "count",
    "table.commit_p50_s": "s", "table.commit_tail_s": "s",
    "table.read_p50_s": "s", "table.read_tail_s": "s", "table.storage_amp": "ratio",
    "table.commit_jobs": "count", "table.commit_fs_ops": "count",
    "table.read_fs_ops": "count", "table.scan_rows_per_row": "ratio",
    "table.write_amp": "ratio", "table.maintain_s": "s", "table.maintains": "count",
    "table.maintain_rewritten_mb": "MB",
    "table.versions": "count", "table.live_files": "count", "table.dv_shards": "count",
    "stream.batches": "count", "stream.batch_s": "s", "stream.rows": "count",
    "jvm.gc_s": "s", "jvm.gc_count": "count",
    "host.anchor_s": "s", "trace.overhead_s": "s",
    "self.queries_s": "s", "self.action_s": "s", "self.catalyst_s": "s",
    "self.exec_s": "s", "self.table_s": "s", "self.streaming_s": "s",
    "failed_frac": "ratio",
}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def java_cmd(cp, work, heap="2g"):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", cp]


def run_jvm(cmd, timeout, what):
    p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"{what} failed (exit {p.returncode})", 4)
    return p.stdout


# ---- inputs --------------------------------------------------------------

def oracle_sql(cp, key):
    f = BUILD / f"oracle-{key}.json"
    if not f.is_file():
        work = BUILD / "work-oracle"
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        run_jvm(java_cmd(cp, work) + ["graftbench.Main", "--dump-oracle", str(f)], 120,
                "oracle dump")
        shutil.rmtree(work, ignore_errors=True)
    return json.loads(f.read_text())


# ---- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """p90 of the samples (inclusive interpolation) and the percentile used."""
    if len(xs) < 2:
        return (xs[0] if xs else float("nan")), 100
    return statistics.quantiles(xs, n=10, method="inclusive")[-1], 90


def metrics_of(raw, failed_ops, trace):
    """Reduce a raw result file to the end-to-end (or per-layer) metrics.
    Samples of failed ops are dropped: a failure is never a timing."""
    passes = raw["passes"]
    ops = [o for p in passes for o in p["ops"]]
    ok = [o for o in ops if o["error"] is None and o["op"] not in failed_ops]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    samples = [o["s"] for o in ok]
    p90, q = tail(samples)
    attempted = len(raw["checks"]) + len(ops)
    failed = len([c for c in raw["checks"] if c["op"] in failed_ops]) + (len(ops) - len(ok))
    e2e = {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median([p["wall_s"] for p in untraced]),
        "op_p50_s": median(samples),
        "op_tail_s": p90,
        "live_heap_mb": raw["live_heap_mb"],
    }
    notes = {"op_tail_s": f"p{q} of {len(samples)} samples"}
    if not trace:
        return e2e, notes, attempted, failed
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update({k: v for k, v in raw["layers"].items() if k in PER_LAYER})
    extra = raw.get("extra", {})
    for k in ("table.storage_amp", "table.versions", "table.live_files", "table.dv_shards"):
        layers[k] = extra.get(k, 0.0)
    for kind, name in (("write", "commit"), ("read", "read")):
        xs = [o["s"] for o in ok if o["kind"] == kind]
        if xs:
            layers[f"table.{name}_p50_s"] = median(xs)
            layers[f"table.{name}_tail_s"] = tail(xs)[0]
    n_traced = max(1, len(traced))
    for layer, secs in raw["self_s"].items():
        if f"self.{layer}_s" in layers:
            layers[f"self.{layer}_s"] = secs / n_traced
    layers["host.anchor_s"] = median(raw["anchors_s"])
    if traced and untraced:
        layers["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                                      - median([p["wall_s"] for p in untraced]))
    layers["failed_frac"] = failed / attempted
    return layers, notes, attempted, failed


# ---- main ------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an op against a missing table and tamper one golden "
                         "(self-test: both must be reported as failed)")
    a = ap.parse_args(argv)

    try:
        key, cp = build.build(log)
    except build.BuildError as e:
        fail(str(e), 3)
    gold = None
    if a.workload == "surface":
        import goldens  # needs the repo's scripts/check.py
        gold = goldens.Goldens(BUILD / "goldens" / DATA.name, DATA, oracle_sql(cp, key))

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_file = work / "raw.json"
    cmd = java_cmd(cp, work) + [
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", str(DATA), "--work", str(work),
        "--out", str(raw_file), "--inject-failure", "1" if a.inject_failure else "0"]
    t0 = time.time()
    run_jvm(cmd, 160, f"workload {a.workload}")
    jvm_s = time.time() - t0
    raw = json.loads(raw_file.read_text())

    # outputs of the warm-up pass against the oracle (tables: model-checked
    # in the JVM, every op)
    errors = {}
    for c in raw["checks"]:
        err = c["error"] or (gold and gold.compare(
            c["op"], c["out"], tamper=a.inject_failure and c["op"] == "q_topk"))
        if err:
            errors[c["op"]] = err
    for p in raw["passes"]:
        for o in p["ops"]:
            if o["error"]:
                errors.setdefault(o["op"], o["error"])
    if not raw["spans_ok"]:
        errors["trace.spans"] = "a span's self time exceeds its op span"
    metrics, notes, attempted, failed = metrics_of(raw, set(errors), a.trace == 1)
    units = PER_LAYER if a.trace else END_TO_END

    for name in sorted(errors):
        print(f"FAILED {name}: {errors[name][:300]}")
    for name, v in metrics.items():
        note = f"  # {notes[name]}" if name in notes else ""
        print(f"{name} {v:.6g} {units[name]}{note}")
    if not a.trace:
        print(f"failed_frac {failed / attempted:.6g} ratio")
        print(f"host.anchor_s {median(raw['anchors_s']):.6g} s")
    result = {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    report = dict(result, workload=a.workload, seed=a.seed, trace=a.trace,
                  failed_ops=errors, notes=notes, jvm_s=jvm_s, wall_s=time.time() - t0,
                  raw=str(raw_file.relative_to(ROOT)))
    out = BUILD / "results" / f"{run_id}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    # keep the raw file and spans of traced runs; drop the bulky scratch
    for d in ("tmp", "out", "spark-local", "warehouse", "checkpoints",
              "table0", "table1", "table2"):
        shutil.rmtree(work / d, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
