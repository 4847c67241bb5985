#!/usr/bin/env python3
"""Regenerate pins.tsv: the digest each query of the read-path workloads
must produce on the generated inputs.

    python3 perfbench/make_pins.py DIR

For each query workload it dumps the generated inputs, every query's output
and its oracle SQL under DIR/<workload> (run.py --dump), checks the outputs
against DuckDB with tools/check_oracle.py, and only when every query passes
writes the digests of those outputs to perfbench/pins.tsv. Needs the duckdb
and pandas Python packages that tools/check_oracle.py uses.
"""
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["relational_mix", "near_dup"]


def main():
    out = os.path.abspath(sys.argv[1])
    pins = []
    for w in WORKLOADS:
        d = os.path.join(out, w)
        subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                        "--seed", "0", "--seconds", "0", "--dump", d], check=True, cwd=ROOT)
        check = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
             os.path.join(d, "inputs"), os.path.join(d, "out")],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        print(check.stdout)
        lines = check.stdout.splitlines()
        passed = sum("[PASS]" in l for l in lines)
        with open(os.path.join(d, "digests.tsv")) as f:
            digests = [l for l in f.read().splitlines() if l]
        if check.returncode != 0 or passed != len(digests):
            raise SystemExit(f"{w}: {passed} of {len(digests)} queries pass the oracle; pins not written")
        pins += digests
    with open(os.path.join(BENCH, "pins.tsv"), "w") as f:
        f.write("\n".join(sorted(pins)) + "\n")
    print(f"wrote {len(pins)} pins")


if __name__ == "__main__":
    main()
