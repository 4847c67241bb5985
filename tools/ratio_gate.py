#!/usr/bin/env python3
"""Mechanical engine-vs-oracle ratio watch-list (r12 verdict #3).

Emits the per-query engine/oracle ratio table for a committed scale and
FAILS (exit 1) when any query is >RATIO_THRESHOLD x slower than an oracle
that itself takes >= MIN_ORACLE_S seconds AND has no entry in the
checked-in adjudication file — the structural fix for "the promised
optimization note does not exist": a >2x row without an adjudication can
no longer ship silently, because tools/campaign.sh runs this gate and
its artifacts include the ratio table.

Usage: ratio_gate.py BENCH_JSON[,BENCH_JSON2,...] ORACLE_TIMES_JSON \
           ADJUDICATIONS_JSON \
           [--out RATIOS_OUT.json] [--threshold 2.0] [--min-oracle 1.0]

BENCH_JSON is a graft.Bench artifact (or a BENCH_rNN.json wrapper --
both query-map shapes of bench_compare.load_queries are accepted).
Pass the sweep files comma-separated to gate on the per-query MIN across
back-to-back sweeps -- the two-sweep protocol's point: a single
contended draw (kernel writeback, co-tenant steal) must not gate a row
whose clean re-run is under the line. Sentinels stay sentinels only if
negative in EVERY sweep.
ORACLE_TIMES_JSON is a check_oracle.py times file
({"times": {q: {"oracle_s": sec, "status": ...}}}). ADJUDICATIONS_JSON is
{query: {"scale": ..., "verdict": ..., "evidence": ...}}; a row over the
line passes the gate iff its query has an entry. Negative engine values
are declared sentinels (-2 census-guard refusal, -1 failure) and are
listed but never ratio-gated; oracle non-pass statuses (DNF/declared)
likewise.
"""
import json
import sys

from bench_compare import load_queries


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = sys.argv[1:]
    bench_path, oracle_path, adjud_path = args[0], args[1], args[2]
    out_path = opts[opts.index("--out") + 1] if "--out" in opts else None
    threshold = float(opts[opts.index("--threshold") + 1]) if "--threshold" in opts else 2.0
    min_oracle = float(opts[opts.index("--min-oracle") + 1]) if "--min-oracle" in opts else 1.0

    sweeps = [load_queries(p) for p in bench_path.split(",")]
    engine = {}
    for q in {k for s in sweeps for k in s}:
        vals = [s[q] for s in sweeps if q in s]
        pos = [v for v in vals if v > 0]
        engine[q] = min(pos) if pos else max(vals)
    with open(oracle_path) as f:
        oracle = json.load(f)["times"]
    with open(adjud_path) as f:
        adjudicated = json.load(f)

    rows, skipped, totals = [], [], [0.0, 0.0]
    for name, es in sorted(engine.items()):
        o = oracle.get(name)
        if es <= 0:
            skipped.append((name, "engine-sentinel %.0f" % es))
            continue
        if o is None:
            continue  # non-oracle bench entry (e.g. x_bpe_learn_1000)
        if o.get("status") != "pass" or "oracle_s" not in o:
            skipped.append((name, "oracle-" + str(o.get("status"))))
            continue
        os_ = float(o["oracle_s"])
        totals[0] += es
        totals[1] += os_
        rows.append({
            "query": name, "engine_s": round(es, 3), "oracle_s": round(os_, 3),
            "ratio": round(es / os_, 3) if os_ > 0 else None,
            "gated": es > threshold * os_ and os_ >= min_oracle,
            "adjudicated": name in adjudicated,
        })

    if not rows:
        print(f"GATE FAILED: no query of {bench_path} has a passing oracle "
              f"time in {oracle_path}")
        sys.exit(1)
    rows.sort(key=lambda r: -(r["ratio"] or 0))
    gated = [r for r in rows if r["gated"]]
    unadjudicated = [r for r in gated if not r["adjudicated"]]

    print(f"{len(rows)} engine/oracle pairs; engine {totals[0]:.1f}s vs "
          f"oracle {totals[1]:.1f}s = {totals[1] / totals[0]:.2f}x faster aggregate")
    print(f"{len(gated)} rows >{threshold}x vs >={min_oracle}s oracles "
          f"({len(unadjudicated)} UNADJUDICATED):")
    for r in gated + [r for r in rows if not r["gated"]][:15]:
        mark = (" <-- UNADJUDICATED" if r in unadjudicated
                else " (adjudicated)" if r["gated"]
                else " [sub-%.0fs oracle floor]" % min_oracle
                if r["oracle_s"] < min_oracle else "")
        print(f"  {r['query']:36s} {r['engine_s']:8.2f}s vs {r['oracle_s']:8.2f}s"
              f"  ({r['ratio']:5.2f}x){mark}")
    for name, why in skipped:
        print(f"  [skip] {name}: {why}")

    if out_path:
        with open(out_path, "w") as f:
            json.dump({"bench": bench_path, "oracle": oracle_path,
                       "threshold": threshold, "min_oracle_s": min_oracle,
                       "engine_total_s": round(totals[0], 3),
                       "oracle_total_s": round(totals[1], 3),
                       "rows": rows,
                       "skipped": dict(skipped)}, f, indent=1, sort_keys=False)
        print(f"ratio table written to {out_path}")

    if unadjudicated:
        print(f"GATE FAILED: {len(unadjudicated)} >{threshold}x rows lack an "
              f"entry in {adjud_path}: "
              + ", ".join(r["query"] for r in unadjudicated))
        sys.exit(1)
    print("GATE PASSED")


if __name__ == "__main__":
    main()
