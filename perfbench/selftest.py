#!/usr/bin/env python3
"""Self-test of the benchmark, about five minutes: python3 perfbench/selftest.py

Runs every workload once untraced and once traced at its sf0.001 inputs
and checks each printed result against BENCHMARK.json: the keys, a
correct run with nothing failed, every metric by name with its unit, and
end-to-end values that are positive numbers. Then checks that a copy
holding only BENCHMARK.json and perfbench/ fails without printing a
result, since there is no library to build there.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def result(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    failures = []
    for w in sorted(run.WORKLOADS):
        for trace in (0, 1):
            rc, res, err = result(["--workload", w, "--seed", "0", "--seconds", "1",
                                   "--trace", str(trace)])
            names = spec["per_layer"] if trace else spec["end_to_end"]
            problems = []
            if rc != 0 or res is None:
                problems.append(f"exit {rc}: {err[-500:]}")
            else:
                if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                    problems.append(f"keys {sorted(res)}")
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append(f"not correct: {res}")
                want = {m["name"]: m["unit"] for m in names}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want:
                    problems.append(f"metrics {sorted(set(got) ^ set(want))}")
                for k, v in res["metrics"].items():
                    ok = isinstance(v["value"], (int, float)) and v["value"] >= 0
                    if not ok or (not trace and v["value"] <= 0):
                        problems.append(f"{k} = {v['value']}")
            print(f"{w} trace={trace}: {'ok' if not problems else problems}")
            failures += problems

    os.makedirs(run.build.build_dir(), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.build.build_dir()) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res, _ = result(["--workload", spec["workloads"][0]["name"], "--seed", "0",
                             "--seconds", "1", "--trace", "0"], cwd=bare)
        ok = rc != 0 and res is None
        print(f"bare copy: {'ok' if ok else f'exit {rc}, printed {res}'}")
        if not ok:
            failures.append("bare copy did not fail")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
