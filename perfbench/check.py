"""The benchmark's own checks, run from the root of a checkout.

    python3 perfbench/check.py spread --workload W --seeds 1-10
        one --trace 0 run per seed; per end-to-end metric, the median, the
        quartiles and the spread (quartile distance over median) against
        the metric's bound in BENCHMARK.json
    python3 perfbench/check.py steady --workload W --seed S
        two --trace 0 runs of one seed agree within each metric's bound
    python3 perfbench/check.py counts --workload W --seed S
        two --trace 1 runs of one seed repeat every exact count bit for bit

Each prints one line per metric and exits 1 when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

EXACT_COUNTS = ("native.records", "pcap.partitions", "glossary.columns",
                "pcap.arrow_bytes_per_pkt", "pcap.bytes_written",
                "native.lost_bytes")


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} "
                         f"(exit {proc.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"incorrect result: {workload} seed {seed}: "
                         + "; ".join(ln for ln in lines if "FAILED" in ln))
    return {k: v["value"] for k, v in res["metrics"].items()}


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(args, spec) -> bool:
    runs = []
    for seed in seed_range(args.seeds):
        runs.append(run_once(args.workload, seed, spec["run_seconds"], 0))
        print(f"seed {seed}: " + "  ".join(f"{k}={v:.6g}"
                                          for k, v in runs[-1].items()),
              flush=True)
    ok = True
    for m in spec["end_to_end"]:
        vals = [r[m["name"]] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        rel = (q3 - q1) / med
        verdict = "ok" if rel <= m["bound"] / 3 else (
            "WITHIN BOUND" if rel <= m["bound"] else "TOO WIDE")
        if m["name"] != "setup_s" and rel > m["bound"]:
            ok = False
        print(f"{args.workload} {m['name']}: median {med:.6g} {m['unit']}, "
              f"quartiles {q1:.6g}..{q3:.6g}, spread {rel:.3f} "
              f"(bound {m['bound']}) {verdict}")
    return ok


def steady(args, spec) -> bool:
    a = run_once(args.workload, args.seed, spec["run_seconds"], 0)
    b = run_once(args.workload, args.seed, spec["run_seconds"], 0)
    ok = True
    for m in spec["end_to_end"]:
        x, y = a[m["name"]], b[m["name"]]
        rel = abs(x - y) / min(x, y)
        good = rel <= m["bound"]
        ok &= good
        print(f"{args.workload} {m['name']}: {x:.6g} vs {y:.6g} "
              f"({rel:.3f}, bound {m['bound']}) {'ok' if good else 'DIFFER'}")
    return ok


def counts(args, spec) -> bool:
    a = run_once(args.workload, args.seed, spec["run_seconds"], 1)
    b = run_once(args.workload, args.seed, spec["run_seconds"], 1)
    names = [k for k in a if k in EXACT_COUNTS
             or (k.startswith("operators.") and k.endswith(".big_table_scans"))]
    ok = True
    for k in names:
        good = a[k] == b[k]
        ok &= good
        print(f"{args.workload} {k}: {a[k]!r} vs {b[k]!r} "
              f"{'ok' if good else 'DIFFER'}")
    return ok and bool(names)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("check", choices=("spread", "steady", "counts"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = bench_spec()
    ok = {"spread": spread, "steady": steady, "counts": counts}[args.check](
        args, spec)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
