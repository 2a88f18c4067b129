"""Spark's own per-stage and per-task accounting, read from its event
log. A traced round attaches Spark's own event logger (the listener
``spark.eventLog.enabled`` installs at start) to the running session,
writing one uncompressed file per round, and detaches it when the round
has been collected; untraced rounds of the same session run without it.

Every traced round runs under its own job group, so each job, stage and
task is attributed to the round that caused it.
"""

from __future__ import annotations

import json
import os
import statistics

MB = float(1 << 20)


def attach(spark, log_dir: str, name: str):
    """Start an event logger writing ``<app id>-<name>`` to log_dir and
    register it with the session's listener bus."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    conf = (jsc.conf().clone()
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.compress", "false"))
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        f"{jsc.applicationId()}-{name}", jvm.scala.Option.apply(None),
        jvm.java.net.URI(f"file://{log_dir}"), conf,
        sc._jsc.hadoopConfiguration())
    listener.start()
    jsc.addSparkListener(listener)
    return listener


def detach(spark, listener) -> None:
    """Let the listener bus deliver every queued event, then unregister
    the logger and close its file."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jsc.removeSparkListener(listener)
    listener.stop()


def read_events(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_round(events: list[dict], rounds: list[dict], cores: int) -> dict:
    """{round id: metrics} for every round in ``rounds`` (each a dict
    with ``id``, ``wall0_ms``, ``wall1_ms``), plus the job/stage spans
    as ``_spans``."""
    jobs: dict = {}
    stage_job: dict = {}
    stages_done: dict = {}
    tasks: dict = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {"group": group,
                                  "start": ev["Submission Time"], "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages_done[info["Stage ID"]] = (info.get("Submission Time"),
                                             info.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    out: dict = {}
    spans: list = []
    for rnd in rounds:
        rid = rnd["id"]
        wall_ms = rnd["wall1_ms"] - rnd["wall0_ms"]
        job_ids = [j for j, v in jobs.items() if v["group"] == rid]
        job_spans = [(jobs[j]["start"], jobs[j]["end"] or rnd["wall1_ms"])
                     for j in job_ids]
        stage_ids = [s for s, j in stage_job.items()
                     if j in job_ids and s in stages_done]
        run = cpu = gc = deser = shuffle = spill = inp = 0
        durations = []
        for s in stage_ids:
            for t in tasks.get(s, []):
                m = t.get("Task Metrics") or {}
                info = t.get("Task Info") or {}
                run += m.get("Executor Run Time", 0)
                cpu += m.get("Executor CPU Time", 0)
                gc += m.get("JVM GC Time", 0)
                deser += m.get("Executor Deserialize Time", 0)
                shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                inp += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                if info.get("Finish Time") and info.get("Launch Time"):
                    durations.append(info["Finish Time"] - info["Launch Time"])
        out[rid] = {
            "spark.stages": len(stage_ids),
            "spark.tasks": len(durations),
            "spark.executor_run_s": run / 1e3,
            "spark.executor_cpu_s": cpu / 1e9,
            "spark.gc_s": gc / 1e3,
            "spark.deserialize_s": deser / 1e3,
            "spark.shuffle_write_mb": shuffle / MB,
            "spark.spill_mb": spill / MB,
            "spark.input_mb": inp / MB,
            "spark.task_p50_ms": statistics.median(durations) if durations else 0.0,
            "spark.task_max_ms": max(durations) if durations else 0.0,
            "spark.driver_gap_s": max(wall_ms - _union_ms(job_spans), 0) / 1e3,
            "spark.slot_busy_frac": run / (wall_ms * cores) if wall_ms else 0.0,
        }
        for j in job_ids:
            spans.append({"trace_id": rid, "name": f"spark.job.{j}",
                          "parent": f"{rid}/round", "id": f"{rid}/job{j}",
                          "start_ms": jobs[j]["start"],
                          "end_ms": jobs[j]["end"]})
        for s in stage_ids:
            start, end = stages_done[s]
            spans.append({"trace_id": rid, "name": f"spark.stage.{s}",
                          "parent": f"{rid}/job{stage_job[s]}",
                          "id": f"{rid}/stage{s}", "start_ms": start,
                          "end_ms": end, "tasks": len(tasks.get(s, []))})
    out["_spans"] = spans
    return out
