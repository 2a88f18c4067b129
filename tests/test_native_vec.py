"""Differential pins for the r15 vectorized batch dissector.

native_vec.batch_columns must be BIT-IDENTICAL to the per-packet dict
path (native.iter_packets + per-column appends) on every fixture
capture in both framings, every schema, split reads and limits — the
vectorized fast path covers plain Ethernet/IPv4/TCP + header-only UDP
and everything else falls back to dissect_packet per row, so any
drift between the two paths is a bug in the fast path's masks or
merges. The reference implementation below is the pre-r15
native_arrow_batches body, kept verbatim as the differential oracle.
"""

from __future__ import annotations

import os
import struct

import pytest

from tests.pcap_fixtures import (
    build_eth_arp,
    build_eth_ipv4_icmp,
    build_eth_ipv4_tcp,
    build_eth_ipv4_udp,
    build_eth_ipv6_udp,
    build_pcap,
    build_pcapng,
    dns_query_payload,
)
from tests.test_native import FIXTURE
from wireduck_spark.sources import native, native_vec
from wireduck_spark.sources.pcap import (
    ARROW_BATCH_ROWS,
    PcapDataSource,
    _arrow_schema,
    native_arrow_batches,
)

CACHE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".wireduck_cache")


def dict_path_batches(schema, path, start=None, end=None, limit=None,
                      size=None):
    """The pre-r15 per-packet dict producer, verbatim — the oracle."""
    import pyarrow as pa

    aschema = _arrow_schema(schema)
    names = [f.name for f in schema.fields]

    def flush(cols):
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, aschema)],
            schema=aschema)

    cols = [[] for _ in names]
    name_cols = list(zip(names, cols))
    k = 0
    t = 0
    for fields in native.iter_packets(
            path, start, end, raw_ts=True,
            include_raw="frame.raw" in names, size=size):
        if limit is not None and t >= limit:
            break
        get = fields.get
        for name, col in name_cols:
            col.append(get(name))
        k += 1
        t += 1
        if k >= ARROW_BATCH_ROWS:
            yield flush(cols)
            cols = [[] for _ in names]
            name_cols = list(zip(names, cols))
            k = 0
    if k:
        yield flush(cols)


def _pydicts(batches):
    return [b.to_pydict() for b in batches]


def _classic_frames(path):
    """[(epoch_s, frame)] of a little-endian microsecond classic capture
    (the framing synth.write_pcap emits), parsed independently of the
    reader under test."""
    with open(path, "rb") as fh:
        raw = fh.read()
    frames, off = [], 24
    while off + 16 <= len(raw):
        sec, usec, incl, _ = struct.unpack_from("<IIII", raw, off)
        frames.append((sec + usec / 1e6, raw[off + 16:off + 16 + incl]))
        off += 16 + incl
    return frames


def _all_captures(tmp_path):
    """The fixture capture when present, plus every synth.*_capture
    builder written in both classic and pcapng framing. The throughput
    builder runs at 5000 packets, so one capture crosses an
    ARROW_BATCH_ROWS batch boundary in each framing."""
    from wireduck_spark.sources import synth

    caps = [FIXTURE] if os.path.exists(FIXTURE) else []
    for name in sorted(n for n in dir(synth) if n.endswith("_capture")):
        classic = str(tmp_path / f"{name}.pcap")
        if name == "throughput_capture":
            synth.throughput_capture(classic, n_packets=5000)
        else:
            getattr(synth, name)(classic)
        png = str(tmp_path / f"{name}.pcapng")
        with open(png, "wb") as fh:
            fh.write(build_pcapng(_classic_frames(classic)))
        caps += [classic, png]
    return caps


@pytest.mark.parametrize("proto_opt", ["all", "tcp"])
def test_vec_matches_dict_path_on_every_capture(proto_opt, tmp_path):
    for cap in _all_captures(tmp_path):
        ds = PcapDataSource({"path": cap, "engine": "native",
                             "protocols": proto_opt})
        schema = ds.schema()
        got = _pydicts(native_arrow_batches(schema, cap))
        want = _pydicts(dict_path_batches(schema, cap))
        assert got == want, f"{os.path.basename(cap)} ({proto_opt})"


def test_vec_matches_dict_path_split_and_limit():
    cap = os.path.join(CACHE, "v22", "synth", "throughput.pcap")
    if not os.path.exists(cap):
        from wireduck_spark.sources.synth import throughput_capture

        cap = throughput_capture(cap)
    ds = PcapDataSource({"path": cap, "engine": "native",
                         "protocols": "tcp"})
    schema = ds.schema()
    size = os.path.getsize(cap)
    mid = size // 2
    for a, b in ((24, mid), (mid, size)):
        got = _pydicts(native_arrow_batches(
            schema, cap, a, b, limit=9000))
        want = _pydicts(dict_path_batches(
            schema, cap, a, b, limit=9000))
        assert got == want, f"split[{a}:{b}]"


def test_vec_matches_dict_path_pcapng(tmp_path):
    # pcapng through the shared batched record core; mixes fast-path
    # TCP, header-only UDP and a fallback (DNS) row
    frames = [
        build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 40000, 80, 1, 0,
                           0x18, b"GET / HTTP/1.1\r\nHost: x\r\n\r\n"),
        build_eth_ipv4_tcp("10.0.0.2", "10.0.0.1", 80, 40000, 1, 2,
                           0x10, b""),
        build_eth_ipv4_udp("10.0.0.1", "8.8.8.8", 5000, 53,
                           dns_query_payload("www.example.com")),
    ]
    path = str(tmp_path / "mini.pcapng")
    with open(path, "wb") as fh:
        fh.write(build_pcapng([(1_700_000_000.0 + i, f)
                               for i, f in enumerate(frames)]))
    ds = PcapDataSource({"path": path, "engine": "native",
                         "protocols": "all"})
    schema = ds.schema()
    got = _pydicts(native_arrow_batches(schema, path))
    want = _pydicts(dict_path_batches(schema, path))
    assert got == want


def test_fallback_rows_hold_only_their_own_fields(tmp_path, monkeypatch):
    # a fallback row's cells come from its own field dict alone: a field
    # the dict lacks is null even where the fast path could have filled
    # it (eth.*, ip.*, frame.raw); fast-path rows are unaffected
    frames = [
        build_eth_arp(1, bytes(range(6)), "10.0.0.1", bytes(6), "10.0.0.2"),
        build_eth_ipv4_icmp("10.0.0.1", "10.0.0.2", 8, 0, 1, 1),
        build_eth_ipv6_udp(bytes(16), bytes(15) + b"\1", 5000, 53,
                           dns_query_payload("example.com")),
        build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 40000, 80, 1, 0,
                           0x10, b""),
    ]
    path = str(tmp_path / "mixed.pcap")
    with open(path, "wb") as fh:
        fh.write(build_pcap([(1_700_000_000.0 + i, f)
                             for i, f in enumerate(frames)]))
    kept = ("frame.number", "frame.protocols")
    real = native_vec._packet_fields
    monkeypatch.setattr(native_vec, "_packet_fields", lambda *a: {
        k: v for k, v in real(*a).items() if k in kept})
    names = PcapDataSource({
        "path": path, "engine": "native",
        "protocols": "frame,eth,ip,arp,icmp,ipv6,tcp,udp"}).schema().fieldNames()
    assert "frame.raw" in names and "eth.type" in names
    batches, split = native.open_record_batches(path)
    (recs,) = list(batches)
    cols = native_vec.batch_columns(recs, names, split, 1, True)

    def cell(nm, i):
        v = cols[nm]
        if isinstance(v, tuple):
            return v[0][i].item() if v[1][i] else None
        return v[i]

    for i in range(3):
        assert {nm for nm in names if cell(nm, i) is not None} == set(kept)
    assert cell("ip.src", 3) == "10.0.0.1"
    assert cell("eth.type", 3) == 0x0800
    assert cell("frame.raw", 3) == frames[3].hex()
