#!/usr/bin/env python3
"""graft benchmark: runs one workload once and prints its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source on first use (perfbench/build.py),
generates the query tables (perfbench/gen_tables.py), runs the harness JVM
on local[N] with N = the usable cores, checks the outputs, and prints one
line per metric followed, as the last line, by one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the run
also writes spans.json next to its raw samples. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("curation", "etl", "relational")
SF = 0.01
JVM_TIMEOUT_S = 165


def ensure_tables(bdir):
    tag = hashlib.sha256(Path(gen_tables.__file__).read_bytes()).hexdigest()[:12]
    d = bdir / f"tables-sf{SF}-{tag}"
    if not d.exists():
        shutil.rmtree(f"{d}.tmp", ignore_errors=True)
        gen_tables.main(str(d), SF)
    return d


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")) or ".s." in name:
        return "s"
    if name.endswith(("_ratio", "_util", "_frac", "_fill")):
        return "ratio"
    return "count"


def verify_queries(res, run_dir, data, bdir):
    """(attempted, failed, notes): every timed action counts; it fails when
    it threw, when its row count differs from the oracle's, or when its
    row's written result does not match the oracle."""
    names = sorted({a["name"] for a in metrics.actions(res)})
    verdict = oracle.check(names, res["oracle_sql"], run_dir / "check", data, bdir / "oracle-cache")
    attempted = failed = 0
    notes = []
    for a in metrics.actions(res):
        attempted += 1
        ok, msg, n = verdict[a["name"]]
        why = a["error"] or (None if ok else msg) or (
            None if n == a["rows"] else f"row count {a['rows']} vs oracle {n}")
        if why:
            failed += 1
            notes.append(f"{a['name']}: {why}")
    return attempted, failed, notes


def verify_etl(res):
    attempted = failed = 0
    notes = []
    for a in metrics.actions(res):
        e = a["etl"]
        attempted += e["records_in"]
        bad = e["records_in"] if a["error"] else e["failed"]
        failed += bad
        if bad:
            notes.append(f"{a['name']}: {a['error'] or '; '.join(e['problems'])}")
    return attempted, failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    bdir = build.build_dir()
    data = ensure_tables(bdir) if args.workload != "etl" else None
    run_dir = bdir / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    cmd = build.java_cmd(classes, run_dir) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
        "--out", str(run_dir)] + (["--data", str(data)] if data else [])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "tmp"))
    started = time.monotonic()
    with open(run_dir / "stdout.log", "w") as out, open(run_dir / "stderr.log", "w") as err:
        try:
            proc = subprocess.run(cmd, stdout=out, stderr=err, env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: harness exceeded {JVM_TIMEOUT_S} s; logs in {run_dir}")
    if proc.returncode != 0:
        tail = (run_dir / "stderr.log").read_text()[-3000:]
        sys.exit(f"perfbench: harness exited with {proc.returncode}; logs in {run_dir}\n{tail}")
    res = json.loads((run_dir / "result.json").read_text())

    if args.workload == "etl":
        attempted, failed, notes = verify_etl(res)
    else:
        attempted, failed, notes = verify_queries(res, run_dir, data, bdir)
    for n in notes[:20]:
        print(f"FAILED {n}", file=sys.stderr)

    if args.trace:
        spans = metrics.self_times(json.loads((run_dir / "spans.json").read_text()))
        (run_dir / "spans.json").write_text(json.dumps(spans))
        values = metrics.per_layer(res)
    else:
        values, info = metrics.end_to_end(res)
        print(f"# {args.workload}: {info['passes']} timed pass(es), {info['action_samples']} actions; "
              f"action_tail_s is p{info['action_tail_pct']:.1f} of {info['action_samples']}")
    print(f"# failed_frac {failed / attempted:.6f} ({failed} of {attempted}); "
          f"harness {time.monotonic() - started:.1f} s; raw samples in {run_dir}")
    out = {}
    for name, v in values.items():
        unit = metrics.END_TO_END.get(name) or unit_of(name)
        print(f"{name} {v:.6g} {unit}")
        out[name] = {"value": v, "unit": unit}
    for sub in ("tmp", "warehouse"):
        shutil.rmtree(run_dir / sub, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
