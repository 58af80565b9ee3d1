#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload kge_journey --seed 1 --seconds 5 --trace 0

Builds the library (perfbench/build.py), generates the seed's inputs
(perfbench/gen.py), runs the Scala harness (perfbench/src/Harness.scala)
in one JVM, then checks its outputs: the harness's own checks, the rows
of the same seed's earlier runs (determinism), and the DuckDB oracle SQL
the library ships for pipeline_e2e and kge_mrr. The last line of stdout
is one JSON object: correct, attempted, failed and the metrics named in
BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).
Everything the run writes goes under the build directory of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("kge_journey", "curation_funnel")
# The harness may run this long plus --seconds after the build; the rest
# of a run's time is left for the checks.
HARNESS_MARGIN_S = 150


def canon(rows):
    """Order-free, type-tolerant form of a result (floats by repr)."""
    def v(x):
        return repr(float(x)) if isinstance(x, float) else repr(x)
    return sorted(tuple((k, v(r[k])) for k in sorted(r)) for r in rows)


def oracle_check(data, sqls, rows, tmp):
    """Names of the results whose rows differ from the DuckDB oracle's.

    The oracle's answer is a function of the inputs and the SQL alone, so
    it is kept next to the inputs, keyed by a hash of the SQL.
    """
    bad = []
    for name, sql in sqls.items():
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(data, f"oracle-{name}-{key}.json")
        if os.path.exists(path):
            want = json.load(open(path))
        else:
            import duckdb
            con = duckdb.connect()
            con.execute("SET threads=4")
            con.execute(f"SET temp_directory='{tmp}'")
            for t in gen.SHIFTS:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            want = json.loads(json.dumps(canon([dict(zip(cols, r)) for r in cur.fetchall()])))
            with open(path, "w") as f:
                json.dump(want, f)
        if json.loads(json.dumps(canon(rows[name]))) != want:
            bad.append(name)
    return bad


def run_harness(args, data, work, out, deadline):
    cmd = build.java_cmd([
        "--workload", args.workload, "--data", data, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out, "--work", work], work)
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"run: harness exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = spec["per_layer"] if args.trace else spec["end_to_end"]

    build.build()
    bdir = build.build_dir()
    data = gen.generate(args.seed, os.path.join(bdir, "data", f"{args.seed}-{gen.version()}"))
    work = os.path.join(bdir, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    t_start = time.time()
    try:
        run_harness(args, data, work, out, t_start + HARNESS_MARGIN_S + args.seconds)
        res = json.load(open(out))
        if args.trace:
            os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
            shutil.copy(out + ".trace.jsonl", os.path.join(
                bdir, "traces", f"{args.workload}-{args.seed}-{int(t_start)}.jsonl"))
    finally:
        log = os.path.join(work, "harness.log")
        if os.path.exists(log):
            shutil.copy(log, os.path.join(bdir, "last-harness.log"))
        shutil.rmtree(work, ignore_errors=True)

    errors = list(res["errors"])
    failed = res["failed"]
    bad = oracle_check(data, res["oracle_sql"], res["oracle_rows"],
                       os.path.join(bdir, "duckdb-tmp"))
    for name in bad:
        errors.append(f"{name}: rows differ from the DuckDB oracle")
    failed += len(bad)

    # Determinism across runs of one seed on one build: the first run's
    # result hashes and untraced op time are kept under the build directory.
    ref_path = os.path.join(bdir, "ref", build.stamp()[:16],
                            f"{args.workload}-{args.seed}.json")
    os.makedirs(os.path.dirname(ref_path), exist_ok=True)
    ref = json.load(open(ref_path)) if os.path.exists(ref_path) else {}
    digests = dict(res["hashes"])
    digests.update({k: repr(canon(v)) for k, v in res["oracle_rows"].items()})
    for k, h in digests.items():
        if k in ref.get("digests", {}) and ref["digests"][k] != h:
            errors.append(f"{k}: rows differ from an earlier run of seed {args.seed}")
            failed += 1
    ref.setdefault("digests", {}).update(
        {k: h for k, h in digests.items() if k not in ref["digests"]})
    metrics = res["metrics"]
    if args.trace == 0 and metrics["op_s"] is not None:
        ref["op_s"] = metrics["op_s"]
    elif args.trace == 1 and metrics["op_s"] is not None and "op_s" in ref:
        print(f"tracing overhead: op_s {metrics['op_s']:.3f} s traced vs "
              f"{ref['op_s']:.3f} s untraced = {metrics['op_s'] - ref['op_s']:+.3f} s")
    with open(ref_path, "w") as f:
        json.dump(ref, f)
    metrics["setup_s"] = res["setup_s"]
    metrics["peak_rss_mb"] = res["peak_rss_mb"]

    # A metric is missing when every call it times failed; the result
    # still reports the failures, with no value for that metric.
    missing = [m["name"] for m in names if metrics.get(m["name"]) is None]
    if missing:
        errors.append(f"no value for {missing}")
        failed = max(failed, 1)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "inputs": res["sizes"], "errors": errors}))
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"]), "unit": m["unit"]}
                    for m in names}}))


if __name__ == "__main__":
    main()
