"""wireduck-spark benchmark: one workload per invocation, from the root of
a checkout.

    python3 perfbench/run.py --workload bulk_tcp_scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics (set-up time, median round
time, packet rate, error fraction, peak RSS). --trace 1 reports the
per-layer metrics: the ingest ledger (ledger.py), Spark's own
accounting from its event log (sparklog.py), set-up spans, and the
tracing overhead (traced minus untraced median round).

Captures come from --seed (captures.py) and are cached under
``.perfbench_cache/`` in the checkout, with every other file a run
writes (Spark scratch, glossary, traces, results). Stdout gets one
human-readable row per workload, a run-stamp line and, last, one JSON
object: {"correct", "attempted", "failed", "metrics"}. The relational
workload reads the bundled seed-42 sf0.01 tables unless --sf-dir names
another testdata directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

CHILD_TIMEOUT_S = 170

E2E = (  # name, unit
    ("setup_s", "s"), ("round_s_p50", "s"), ("pkts_per_s", "pkt/s"),
    ("error_frac", "ratio"), ("peak_rss_mb", "MiB"),
)
# error_frac is 0 on correct code, so it is printed and carried by
# `failed`/`attempted` but kept out of the JSON metrics; pkts_per_s is
# round_s_p50 over a fixed packet count and has no value on the
# relational workload, so it is printed only
JSON_E2E = ("setup_s", "round_s_p50", "peak_rss_mb")

LAYER_UNITS = {
    "session.start_s": "s", "session.first_scan_s": "s",
    "glossary.init_s": "s", "glossary.fetch_ms": "ms",
    "glossary.columns": "count", "pcap.plan_ms": "ms",
    "pcap.partitions": "count", "native.walk_us_per_pkt": "us/pkt",
    "native.records": "count", "native.lost_bytes": "count",
    "native.dissect_us_per_pkt": "us/pkt", "native_vec.us_per_pkt": "us/pkt",
    "native_vec.l7_match_frac": "ratio", "pcap.emit_us_per_pkt": "us/pkt",
    "pcap.arrow_build_us_per_pkt": "us/pkt",
    "pcap.arrow_bytes_per_pkt": "B/pkt", "pcap.write_us_per_pkt": "us/pkt",
    "pcap.bytes_written": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.deserialize_s": "s",
    "spark.shuffle_write_mb": "MiB", "spark.spill_mb": "MiB",
    "spark.input_mb": "MiB", "spark.task_p50_ms": "ms",
    "spark.task_max_ms": "ms", "spark.driver_gap_s": "s",
    "spark.slot_busy_frac": "ratio", "trace.overhead_s": "s",
}


def layer_units() -> dict:
    """Every per-layer metric and its unit, the operators layer's per
    query."""
    from workloads import RELATIONAL_QUERIES

    units = dict(LAYER_UNITS)
    for q in RELATIONAL_QUERIES:
        units[f"operators.{q}.s"] = "s"
        units[f"operators.{q}.big_table_scans"] = "count"
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_jvms() -> list[int]:
    """Pids of Spark JVMs already running (other benchmarks, tests)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(entry))
    return pids


def tree_digest() -> str:
    """sha1 over the program's and the benchmark's sources: identifies
    the code in a checkout that is not a git repository."""
    h = hashlib.sha1()
    for top in ("wireduck_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_rev() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_stamp(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    others = spark_jvms()
    load = os.getloadavg()[0]
    return {
        "nproc": nproc(), "loadavg_before": round(load, 2),
        "git_rev": git_rev(), "tree_sha1": tree_digest(), "seed": seed,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "other_spark_jvms": others,
        "solo": not others and load <= nproc(),
    }


def _group_pids(pgid: int) -> list[int]:
    from worker import proc_table

    return [pid for pid, (_, group, state) in proc_table().items()
            if group == pgid and state != "Z"]


def _reap_group(pgid: int) -> None:
    """Stop every process left in the child's process group (its JVM and
    Python workers) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 15), (signal.SIGKILL, 15)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while _group_pids(pgid) and time.time() < deadline:
            time.sleep(0.1)
    if _group_pids(pgid):
        raise RuntimeError(f"processes of group {pgid} did not exit")


def child(spec: dict, trace: bool) -> dict:
    """Run worker.py in a fresh process with its own scratch directory,
    an empty glossary directory and a directory for Spark's event log."""
    tmp = os.path.join(CACHE, "tmp", uuid.uuid4().hex[:12])
    glossary = os.path.join(tmp, "glossary")
    event_dir = os.path.join(tmp, "events")
    os.makedirs(glossary)
    os.makedirs(event_dir)
    submit = [
        "--conf", f"spark.local.dir={tmp}/spark-local",
        "--conf", f"spark.sql.warehouse.dir={tmp}/warehouse",
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    env = dict(os.environ, TMPDIR=tmp, WIREDUCK_GLOSSARY_DIR=glossary,
               SPARK_LOCAL_DIRS=f"{tmp}/spark-local",
               PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))
    spec = dict(spec, trace=trace, event_dir=event_dir, scratch=tmp)
    spec_path = os.path.join(tmp, "spec.json")
    out_path = os.path.join(tmp, "result.json")
    log_path = os.path.join(tmp, "worker.log")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), spec_path,
                 out_path], cwd=ROOT, env=env, stdout=log, stderr=log,
                start_new_session=True)
            try:
                code = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _reap_group(proc.pid)
                proc.wait()
        if code != 0 or not os.path.exists(out_path):
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"worker failed (exit {code}):\n{tail}")
        with open(out_path) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _p50(res: dict, traced: bool = False) -> tuple[float, int]:
    times = [r["s"] for r in res["rounds"]
             if r["timed"] and r["ok"] and r["traced"] == traced]
    return (statistics.median(times) if times else float("nan")), len(times)


def run_workload(name: str, seed: int, seconds: int, trace: bool,
                 sf_dir: str | None) -> dict:
    import captures
    import workloads as W

    cls = W.WORKLOADS[name]
    man = captures.prepare(CACHE, cls.capture, seed) if cls.capture else None
    spec = {"root": ROOT, "cache": CACHE, "workload": name, "seed": seed,
            "seconds": seconds, "cpus": nproc(), "manifest": man,
            "sf_dir": sf_dir,
            "one_packet": captures.one_packet_capture(CACHE)}
    out = {"workload": name, "capture": None, "failures": []}
    if man:
        out["capture"] = {k: man[k] for k in
                          ("packets", "file_bytes", "size_hist", "files")}
        out["capture"]["fast_path_share"] = man["truth"]["fast_path_share"]
        out["capture"]["gen_s"] = man["gen_s"]
    if not trace:
        res = child(spec, False)
        p50, n = _p50(res)
        attempted = res["attempted"]
        failed = len(res["failures"])
        out["failures"] = res["failures"]
        out["e2e"] = {
            "setup_s": res["setup"]["setup_s"],
            "round_s_p50": p50,
            "pkts_per_s": man["packets"] / p50 if man else None,
            "error_frac": failed / attempted if attempted else 1.0,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        out["rounds_timed"] = n
        out["round_s"] = [round(r["s"], 4) for r in res["rounds"]]
        out["rss_by_process"] = res["rss_by_process"]
    else:
        traced = child(spec, True)
        p_plain, _ = _p50(traced)
        p_traced, n = _p50(traced, traced=True)
        # a layer the workload does not run (the ingest ledger on the
        # relational workload, the operators on a pcap one) reports 0
        layers = dict.fromkeys(layer_units(), 0)
        layers.update({k: v for k, v in traced["setup"].items()
                       if k != "setup_s"})
        layers.update({k: v for k, v in traced.get("ledger", {}).items()
                       if not k.startswith("_")})
        layers.update(traced["spark"])
        for q, scans in traced.get("big_table_scans", {}).items():
            per_q = [r["query_s"][q] for r in traced["rounds"]
                     if r["timed"] and r.get("query_s")]
            layers[f"operators.{q}.s"] = statistics.median(per_q)
            layers[f"operators.{q}.big_table_scans"] = scans
        layers["trace.overhead_s"] = p_traced - p_plain
        out["layers"] = layers
        out["spans"] = traced["spans"]
        out["rounds_timed"] = n
        attempted = traced["attempted"]
        out["failures"] = traced["failures"]
        failed = len(out["failures"])
    out["attempted"], out["failed"] = attempted, failed
    return out


def print_row(out: dict) -> None:
    name = out["workload"]
    if "e2e" in out:
        e = out["e2e"]
        cells = [f"setup_s={e['setup_s']:.3f} s",
                 f"round_s_p50={e['round_s_p50']:.4f} s "
                 f"(n={out['rounds_timed']})"]
        if e["pkts_per_s"] is not None:
            cells.append(f"pkts_per_s={e['pkts_per_s']:.0f} pkt/s")
        cells += [f"error_frac={e['error_frac']:.4g} ratio "
                  f"({out['failed']}/{out['attempted']})",
                  f"peak_rss_mb={e['peak_rss_mb']:.1f} MiB"]
        print(f"{name:<16} " + "  ".join(cells))
    else:
        units = layer_units()
        for k, v in out["layers"].items():
            print(f"{name:<16} {k:<36} {v:>14.6g} {units[k]}")
    for f in out["failures"][:10]:
        print(f"{name:<16} FAILED {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=None,
                    help="testdata directory for the relational workload "
                         "(default: the bundled sf0.01 tables)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wireduck_spark")):
        print(f"perfbench: no wireduck_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads as W

    names = list(W.WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in W.WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown}", file=sys.stderr)
        return 2
    sf_dir = os.path.abspath(args.sf_dir) if args.sf_dir else W.SF_DIR

    stamp = run_stamp(args.seed)
    if not stamp["solo"]:
        print(f"perfbench: not solo (Spark JVMs {stamp['other_spark_jvms']}, "
              f"loadavg {stamp['loadavg_before']} on {stamp['nproc']} cpus); "
              f"the result is stamped \"solo\": false", file=sys.stderr)
    outs = [run_workload(n, args.seed, args.seconds, bool(args.trace),
                         sf_dir) for n in names]
    stamp["loadavg_after"] = round(os.getloadavg()[0], 2)

    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    archive = os.path.join(CACHE, "results", f"{tag}.json")
    with open(archive, "w") as fh:
        json.dump({"stamp": stamp, "runs": outs}, fh)
    print(f"perfbench: results and spans in {archive}", file=sys.stderr)

    for out in outs:
        print_row(out)
        if out["capture"]:
            cap = out["capture"]
            print(f"{out['workload']:<16} capture: {cap['packets']} pkts, "
                  f"{cap['file_bytes']} B in {len(cap['files'])} file(s), "
                  f"fast-path share {cap['fast_path_share']:.3f}, "
                  f"generated in {cap['gen_s']:.2f} s")
    print("stamp " + json.dumps(stamp))

    metrics = {}
    for out in outs:
        prefix = "" if len(outs) == 1 else out["workload"] + "."
        if args.trace:
            units = layer_units()
            values = {k: (v, units[k]) for k, v in out["layers"].items()}
        else:
            units = dict(E2E)
            values = {k: (out["e2e"][k], units[k]) for k in JSON_E2E
                      if out["e2e"][k] is not None}
        for k, (v, unit) in values.items():
            metrics[prefix + k] = {"value": v, "unit": unit}
    failed = sum(o["failed"] for o in outs)
    attempted = sum(o["attempted"] for o in outs)
    finite = all(m["value"] == m["value"] for m in metrics.values())
    print(json.dumps({"correct": failed == 0 and attempted > 0 and finite,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
