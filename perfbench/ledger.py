"""Per-layer ingest ledger: replays a workload's capture through each
ingest module's public functions, one layer at a time, on one core in
the benchmark process, and times every call from here. Nothing inside
the program is instrumented.

Layers and the calls timed:

- ``sources.glossary``: ``fetch_selected_fields``
- ``sources.pcap`` planning: ``PcapDataSource.schema`` and
  ``PcapReader.partitions``
- ``sources.native``: ``open_record_batches`` over the reader's own
  partitions (the record walk) and ``dissect_packet`` per record
- ``sources.native_vec``: ``batch_columns`` per record batch
- ``sources.pcap`` emission: ``native_arrow_batches`` per partition
- ``sources.pcap`` sink: ``PcapWriter.write`` over every record
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

_TRANSPORT_ENDS = ("tcp", "udp", "data")


@contextmanager
def _task_context(partition_id: int):
    """PcapWriter.write names its part file after the running task's
    partition; outside a Spark task there is none, so install one."""
    from pyspark.taskcontext import TaskContext

    prev = TaskContext._taskContext
    tc = TaskContext()
    tc._partitionId = partition_id
    TaskContext._setTaskContext(tc)
    try:
        yield
    finally:
        TaskContext._setTaskContext(prev)


def _l7_counts(cols: dict) -> tuple[int, int]:
    """(payload rows, payload rows with an L7 label) of one batch."""
    protos = cols["frame.protocols"]
    n = len(protos)
    has = [False] * n
    for name, floor in (("tcp.len", 0), ("udp.length", 8)):
        col = cols.get(name)
        if col is None:
            continue
        arr, valid = col if isinstance(col, tuple) else (col, None)
        for i in range(n):
            v = arr[i]
            if (valid is None or valid[i]) and v is not None and v > floor:
                has[i] = True
    payload = labeled = 0
    for i in range(n):
        if has[i]:
            payload += 1
            if protos[i].rsplit(":", 1)[-1] not in _TRANSPORT_ENDS:
                labeled += 1
    return payload, labeled


def _covered_bytes(pcapng: bool, incls: list[int]) -> int:
    """Bytes of the benchmark's own framing the walked records span:
    classic = 24-byte header + 16-byte record headers; pcapng = SHB (28)
    + IDB (20) + EPBs of 32 bytes plus the 4-byte padded frame."""
    if pcapng:
        return 48 + sum(32 + n + (-n % 4) for n in incls)
    return 24 + sum(16 + n for n in incls)


def run(wl, tracer, scratch: str) -> dict:
    from wireduck_spark.sources import native, native_vec
    from wireduck_spark.sources.glossary import fetch_selected_fields
    from wireduck_spark.sources.pcap import (
        ARROW_BATCH_ROWS, PcapDataSource, PcapWriter, native_arrow_batches,
    )

    protocols = [p for p in wl.protocols.split(",") if p]
    out: dict = {}
    with tracer.span("glossary.fetch_selected_fields"):
        t = time.perf_counter()
        fields = fetch_selected_fields(protocols)
        out["glossary.fetch_ms"] = (time.perf_counter() - t) * 1e3
    out["glossary.columns"] = len(fields)

    with tracer.span("pcap.plan"):
        t = time.perf_counter()
        ds = PcapDataSource({"path": wl.load_path, "protocols": wl.protocols,
                             "engine": "native"})
        schema = ds.schema()
        parts = ds.reader(schema).partitions()
        out["pcap.plan_ms"] = (time.perf_counter() - t) * 1e3
    out["pcap.partitions"] = len(parts)
    names = schema.fieldNames()
    include_raw = "frame.raw" in names

    walk = vec = dis = emit = 0.0
    records = arrow_bytes = emitted = payload = labeled = 0
    incls_by_file: dict = {}
    all_recs: list = []
    for k, part in enumerate(parts):
        with tracer.span("native.open_record_batches", partition=k):
            t = time.perf_counter()
            batches, split = native.open_record_batches(
                part.path, part.start_byte, part.end_byte,
                size=part.file_size, batch_rows=ARROW_BATCH_ROWS)
            recs_list = list(batches)
            walk += time.perf_counter() - t
        all_recs.extend(recs_list)
        for recs in recs_list:
            records += len(recs[0])
            incls_by_file.setdefault(part.path, []).extend(recs[2])

        with tracer.span("native_vec.batch_columns", partition=k):
            frame_no0 = 1
            for recs in recs_list:
                t = time.perf_counter()
                cols = native_vec.batch_columns(recs, names, split, frame_no0,
                                                include_raw)
                vec += time.perf_counter() - t
                frame_no0 += len(recs[0])
                p, lab = _l7_counts(cols)
                payload += p
                labeled += lab

        with tracer.span("native.dissect_packet", partition=k):
            for recs in recs_list:
                datas, lt = recs[4], recs[5]
                t = time.perf_counter()
                for i, data in enumerate(datas):
                    native.dissect_packet(
                        data, lt if isinstance(lt, int) else lt[i], {})
                dis += time.perf_counter() - t

        with tracer.span("pcap.native_arrow_batches", partition=k):
            t = time.perf_counter()
            for rb in native_arrow_batches(schema, part.path, part.start_byte,
                                           part.end_byte, None,
                                           size=part.file_size):
                arrow_bytes += rb.nbytes
                emitted += rb.num_rows
            emit += time.perf_counter() - t

    lost = 0
    for path, incls in incls_by_file.items():
        lost += os.path.getsize(path) - _covered_bytes(
            native.is_pcapng(path), incls)

    rows = [{"frame.raw": data.hex(), "frame.time_epoch": ts}
            for recs in all_recs for ts, data in zip(recs[1], recs[4])]
    del all_recs
    out_dir = os.path.join(scratch, "ledger-write")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    with tracer.span("pcap.PcapWriter.write"), _task_context(0):
        t = time.perf_counter()
        PcapWriter(out_dir, 1).write(iter(rows))
        write = time.perf_counter() - t
    written = sum(os.path.getsize(os.path.join(out_dir, f))
                  for f in os.listdir(out_dir))
    shutil.rmtree(out_dir, ignore_errors=True)

    n = max(records, 1)
    us = 1e6 / n
    out.update({
        "native.records": records,
        "native.lost_bytes": lost,
        "native.walk_us_per_pkt": walk * us,
        "native.dissect_us_per_pkt": dis * us,
        "native_vec.us_per_pkt": vec * us,
        "native_vec.l7_match_frac": labeled / payload if payload else 0.0,
        "pcap.emit_us_per_pkt": emit * us,
        "pcap.arrow_build_us_per_pkt": (emit - walk - vec) * us,
        "pcap.arrow_bytes_per_pkt": arrow_bytes / n,
        "pcap.write_us_per_pkt": write * us,
        "pcap.bytes_written": written,
    })
    out["_emitted_rows"] = emitted
    return out
