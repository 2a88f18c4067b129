"""One fresh benchmark process (started by run.py).

    python3 perfbench/worker.py SPEC.json RESULT.json

It times the session set-up, then (traced only) replays the ingest
ledger, warms up, runs timed rounds for the requested seconds (traced:
untraced and traced rounds in turn), checks every result, reads the
process tree's peak RSS, stops Spark and waits for its JVM to exit. The
result, with the spans of a traced run, is written as JSON.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))

MIN_ROUNDS = 3
# A traced run times untraced and traced rounds in one session, in the
# order U T T U (repeated), so that the drift of a still-warming JVM
# falls on both kinds alike.
TRACED_MIN_ROUNDS = 4
BIG_TABLES = ("events", "lineitem", "documents", "embeddings", "orders")


class Tracer:
    """In-memory spans: name, start, end, parent, and the trace id every
    span of one round (or of set-up / the ledger) shares. Disabled, a
    span costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[str] = []
        self.trace_id = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = f"{self.trace_id}/{name}"
        if attrs:
            sid += "/" + ",".join(f"{k}={v}" for k, v in attrs.items())
        rec = {"trace_id": self.trace_id, "name": name, "id": sid,
               "parent": self.stack[-1] if self.stack else None,
               "start_ms": time.time() * 1e3, **attrs}
        self.stack.append(sid)
        try:
            yield
        finally:
            self.stack.pop()
            rec["end_ms"] = time.time() * 1e3
            self.spans.append(rec)


def proc_table() -> dict:
    """{pid: (ppid, process group, state)} of every process, from /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process exited while /proc was listed
        out[int(entry)] = (int(f[1]), int(f[2]), f[0])
    return out


def tree_pids(root: int) -> list[int]:
    children: dict = {}
    for pid, (ppid, _, _) in proc_table().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss(root: int) -> dict:
    """VmHWM in MiB of each process in the tree (this Python, its JVM and
    the JVM's Python workers), keyed "pid:name"."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            out[f"{pid}:{name}"] = int(status["VmHWM"].split()[0]) / 1024.0
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def big_table_scans(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("+- == Initial Plan ==")[0]
    return sum(1 for line in plan.splitlines()
               if "Scan parquet" in line
               and any(f"{t}.parquet" in line for t in BIG_TABLES))


def setup(spec: dict, tracer: Tracer):
    """The timed set-up: get_spark, wireduck_spark.init (glossary in an
    empty directory), and a one-row pcap read that starts the Python
    worker pool and ships the package."""
    t0 = time.perf_counter()
    with tracer.span("session.import"):
        import wireduck_spark
        from wireduck_spark.session import get_spark
    if tracer.enabled:
        # time init's glossary step from here, around the public name
        # init calls
        inner = wireduck_spark.initialize_glossary

        def timed_glossary(*a, **kw):
            with tracer.span("glossary.initialize_glossary"):
                return inner(*a, **kw)

        wireduck_spark.initialize_glossary = timed_glossary
    times = {}
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=spec["cpus"])
    times["session.start_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("wireduck_spark.init"):
        wireduck_spark.init(spark)
    times["glossary.init_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.first_scan"):
        import workloads as W

        rows = W.read(spark, spec["one_packet"], "tcp").collect()
    times["session.first_scan_s"] = time.perf_counter() - t
    times["setup_s"] = time.perf_counter() - t0
    if len(rows) != 1:
        raise RuntimeError(f"set-up scan returned {len(rows)} rows, not 1")
    return spark, times


def measure(spec: dict, spark, tracer: Tracer, res: dict) -> None:
    import ledger
    import sparklog
    import workloads as W

    wl = W.WORKLOADS[spec["workload"]](spec["cache"], spec["manifest"],
                                       spec["sf_dir"], spec["scratch"])
    if tracer.enabled and wl.capture:
        tracer.trace_id = "ledger"
        with tracer.span("ledger"):
            led = ledger.run(wl, tracer, spec["scratch"])
        res["ledger"] = led
        if led["native.records"] != wl.packets or \
                led["_emitted_rows"] != wl.packets:
            res["failures"].append(
                f"ledger: {led['native.records']} records walked, "
                f"{led['_emitted_rows']} emitted, {wl.packets} generated")
    wl.prepare(spark)
    trace = spec["trace"]
    min_rounds = TRACED_MIN_ROUNDS if trace else MIN_ROUNDS
    sc = spark.sparkContext
    rounds = []
    started = None
    i = 0
    while True:
        timed = i >= wl.warmup_rounds
        n_timed = sum(r["timed"] for r in rounds)
        if timed and started is None:
            started = time.perf_counter()
        if timed and n_timed >= min_rounds \
                and time.perf_counter() - started >= spec["seconds"]:
            break
        rid = f"round-{i}"
        traced = trace and timed and n_timed % 4 in (1, 2)
        tracer.enabled = traced
        tracer.trace_id = rid
        listener = None
        if traced:
            listener = sparklog.attach(spark, spec["event_dir"], rid)
            sc.setJobGroup(rid, f"{wl.name} {rid}")
        wall0 = time.time() * 1e3
        t = time.perf_counter()
        try:
            with tracer.span("round"):
                results = wl.round(spark)
            error = None
        except Exception as exc:  # a failed round is counted, not fatal
            results, error = [("round", False, repr(exc)[:300])], exc
        dt = time.perf_counter() - t
        wall1 = time.time() * 1e3
        if listener is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sparklog.detach(spark, listener)
        res["attempted"] += len(results)
        for q, ok, detail in results:
            if not ok:
                res["failures"].append(f"{rid} {q}: {detail}")
        rnd = {"id": rid, "timed": timed, "traced": traced, "s": dt,
               "ok": error is None and all(ok for _, ok, _ in results),
               "wall0_ms": wall0, "wall1_ms": wall1}
        if isinstance(wl, W.Relational) and error is None:
            rnd["query_s"] = dict(wl.query_s)
        rounds.append(rnd)
        i += 1
    res["rounds"] = rounds
    tracer.enabled = trace
    if isinstance(wl, W.Relational) and trace:
        res["big_table_scans"] = {n: big_table_scans(df)
                                  for n, df in wl.last_dfs.items()}
    res["rss_by_process"] = peak_rss(os.getpid())
    res["peak_rss_mb"] = sum(res["rss_by_process"].values())


def main(spec_path: str, out_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [spec["root"], HERE]
    tracer = Tracer(spec["trace"])
    res: dict = {"attempted": 0, "failures": []}
    spark, res["setup"] = setup(spec, tracer)
    try:
        measure(spec, spark, tracer, res)
    finally:
        stop_spark(spark)
    if spec["trace"]:
        import sparklog

        traced = [r for r in res["rounds"] if r["traced"]]
        per = sparklog.per_round(sparklog.read_events(spec["event_dir"]),
                                 traced, int(spec["cpus"]))
        tracer.spans.extend(per.pop("_spans"))
        res["spark"] = {k: statistics.median(p[k] for p in per.values())
                        for k in next(iter(per.values()))}
    res["spans"] = tracer.spans
    with open(out_path, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
