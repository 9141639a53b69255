#!/usr/bin/env python3
"""Determinism self-check of the benchmark.

    python3 perfbench/check_determinism.py [--workload NAME ...] [--seconds N]

For each workload: two runs with one seed must give the same op
sequence, the same result digests and exactly the same
bytes_stored_per_user_byte; a run with another seed must give a
different op sequence. A broker run with one request replaced by a
malformed one must report that op as failed and exit 1. Exits 1 on any
violation.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["broker_dashboard", "ingest_compact", "pipeline_dedup"]


def bench(workload, seed, seconds, path, *extra):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
                           "--record", path, *extra], capture_output=True, text=True)


def malformed_fails(seed, seconds, tmp):
    """A refused broker request must fail the run: exit 1, one failed op."""
    path = os.path.join(tmp, "malformed.json")
    p = bench("broker_dashboard", seed, seconds, path, "--malformed", "1")
    if p.returncode != 1 or not os.path.exists(path):
        sys.stderr.write(p.stderr[-4000:])
        return False
    with open(path) as f:
        res = json.load(f)["result"]
    return res["correct"] is False and res["failed"] == 1


def run(workload, seed, seconds, tmp):
    path = os.path.join(tmp, f"{workload}-{seed}-{len(os.listdir(tmp))}.json")
    p = bench(workload, seed, seconds, path)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: run failed with code {p.returncode}")
    with open(path) as f:
        d = json.load(f)
    return (d["record"]["op_sequence_hash"], d["record"]["result_hash"],
            d["result"]["metrics"]["bytes_stored_per_user_byte"]["value"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--seconds", type=int, default=2)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    bad = 0
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE), prefix=".bench_check") as tmp:
        for w in a.workload or WORKLOADS:
            first = run(w, a.seed, a.seconds, tmp)
            again = run(w, a.seed, a.seconds, tmp)
            other = run(w, a.seed + 1, a.seconds, tmp)
            checks = {
                "same seed, same op sequence": first[0] == again[0],
                "same seed, same result digests": first[1] == again[1],
                "same seed, same bytes_stored_per_user_byte": first[2] == again[2],
                "other seed, other op sequence": first[0] != other[0],
            }
            for name, ok in checks.items():
                print(f"{w}: {'ok  ' if ok else 'FAIL'} {name}")
                bad += not ok
        if "broker_dashboard" in (a.workload or WORKLOADS):
            ok = malformed_fails(a.seed, a.seconds, tmp)
            print(f"broker_dashboard: {'ok  ' if ok else 'FAIL'} malformed request fails the run")
            bad += not ok
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
