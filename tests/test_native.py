"""Native libpcap dissector: synthetic fixtures + the reference's real
fix.pcap with its README golden aggregate."""

import os

import pytest

from tests.pcap_fixtures import (
    build_eth_arp, build_eth_ipv4_icmp, build_eth_ipv4_tcp,
    build_eth_ipv4_udp, build_pcap, build_pcapng, dns_query_payload,
    two_flow_pcap,
)
from wireduck_spark.sources.native import (
    byte_range_partitions, is_pcapng, iter_packets, read_global_header,
    stream_id,
)

FIXTURE = "/root/reference/fix.pcap"


@pytest.fixture()
def pcap_file(tmp_path):
    p = tmp_path / "two_flow.pcap"
    p.write_bytes(two_flow_pcap())
    return str(p)


def test_global_header_variants(tmp_path):
    us = build_pcap([(1.0, b"x" * 20)])
    ns = build_pcap([(1.0, b"x" * 20)], nanos=True)
    assert read_global_header(us).ts_divisor == 1_000_000
    assert read_global_header(ns).ts_divisor == 1_000_000_000
    with pytest.raises(ValueError):
        read_global_header(b"\x00" * 24)


def test_dissection(pcap_file):
    pkts = list(iter_packets(pcap_file))
    assert len(pkts) == 4
    p1, p2, p3, p4 = pkts
    assert p1["frame.number"] == 1
    assert p1["frame.protocols"] == "eth:ethertype:ip:tcp"
    assert p1["tcp.flags.syn"] is True and p1["tcp.flags.ack"] is False
    assert p1["tcp.len"] == 0
    assert p2["tcp.len"] == 5
    assert p2["tcp.flags.syn"] is True and p2["tcp.flags.ack"] is True
    assert p3["tcp.len"] == 7
    assert p3["tcp.payload"] == b"goodbye".hex()
    # content-derived stream id: same conversation -> same id, both
    # directions, partition-invariant (deviation from tshark's ordinal)
    assert p1["tcp.stream"] == p2["tcp.stream"] == p3["tcp.stream"]
    assert p1["tcp.stream"] == stream_id("10.0.0.1", 1111, "10.0.0.2", 80)
    assert p1["tcp.stream"] == stream_id("10.0.0.2", 80, "10.0.0.1", 1111)
    assert p4["frame.protocols"] == "eth:ethertype:ip:udp"
    assert p4["udp.srcport"] == 5353 and p4["udp.dstport"] == 53
    assert p4["udp.length"] == 12
    assert p1["ip.src"] == "10.0.0.1" and p1["ip.dst"] == "10.0.0.2"
    # sub-second timestamps preserved
    assert p2["frame.time_epoch"].microsecond == 500000


def test_nanosecond_timestamps(tmp_path):
    f = build_eth_ipv4_tcp("1.1.1.1", "2.2.2.2", 1, 2, 0, 0, 0x10, b"")
    p = tmp_path / "ns.pcap"
    p.write_bytes(build_pcap([(123.000000456, f)], nanos=True))
    pkt = next(iter_packets(str(p)))
    assert pkt["frame.time_epoch"].microsecond == 0  # 456ns truncates to 0us


def test_byte_range_splitting(pcap_file):
    """Fixed byte-range plan + executor-side resync: every packet lands in
    exactly one slice, for ANY split count, and per-flow aggregates match
    the unsplit read (partition-invariant tcp.stream)."""
    whole = list(iter_packets(pcap_file))

    def flow_stats(pkts):
        out = {}
        for p in pkts:
            s = p.get("tcp.stream")
            if s is not None:
                c, b = out.get(s, (0, 0))
                out[s] = (c + 1, b + p["tcp.len"])
        return out

    size = os.path.getsize(pcap_file)
    for n_splits in (1, 2, 3, 5, 16):
        parts = byte_range_partitions(pcap_file, n_splits)
        assert parts[0][0] == 24 and parts[-1][1] == size
        pkts = [p for s, e in parts for p in iter_packets(pcap_file, s, e)]
        assert len(pkts) == len(whole)
        # same packets, same order when concatenated in range order
        assert [p["frame.len"] for p in pkts] == [
            p["frame.len"] for p in whole
        ]
        assert flow_stats(pkts) == flow_stats(whole)


def test_split_survives_glitched_first_timestamp(tmp_path):
    """A first record with valid lengths but ts_sec=0 (a real-world capture
    artifact) must NOT poison the resync timestamp anchor: every genuine
    record in later byte-range slices is still recovered (round-3 ADVICE —
    the old file-head anchor was validated on lengths only, so each
    non-first slice silently dropped all its records)."""
    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcap

    frames = [(0.0 if i == 0 else 1_700_000_000.0 + i,
               build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, i, 0,
                                  0x18, b"x" * (40 + i)))
              for i in range(12)]
    p = tmp_path / "glitch.pcap"
    p.write_bytes(build_pcap(frames))
    whole = list(iter_packets(str(p)))
    assert len(whole) == 12
    size = os.path.getsize(str(p))
    for n_slices in (2, 3, 5):
        step = max((size - 24) // n_slices, 32)
        bounds = [24] + list(range(24 + step, size, step)) + [size]
        got = [pkt for s, e in zip(bounds, bounds[1:])
               for pkt in iter_packets(str(p), s, e)]
        assert len(got) == len(whole), (
            f"{n_slices} slices dropped {len(whole) - len(got)} records"
        )
        assert [f["frame.len"] for f in got] == [f["frame.len"] for f in whole]


def test_split_plan_reads_nothing(pcap_file, monkeypatch):
    """The partition plan must never read the capture on the driver
    (round-1 scale-killer: a full driver-side header walk). Only
    os.path.getsize is consulted."""
    import builtins

    real_open = builtins.open

    def deny_open(path, *a, **k):
        if str(path) == pcap_file:
            raise AssertionError("partition planning opened the capture")
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", deny_open)
    parts = byte_range_partitions(pcap_file, 4)
    assert len(parts) >= 1


def test_arp_dissection(tmp_path):
    req = build_eth_arp(1, b"\xaa\xbb\xcc\x00\x00\x01", "192.168.1.10",
                        bytes(6), "192.168.1.1")
    rep = build_eth_arp(2, b"\xaa\xbb\xcc\x00\x00\x02", "192.168.1.1",
                        b"\xaa\xbb\xcc\x00\x00\x01", "192.168.1.10")
    p = tmp_path / "arp.pcap"
    p.write_bytes(build_pcap([(1.0, req), (1.1, rep)]))
    a, b = list(iter_packets(str(p)))
    assert a["frame.protocols"] == "eth:ethertype:arp"
    assert a["arp.opcode"] == 1 and b["arp.opcode"] == 2
    assert a["arp.src.proto_ipv4"] == "192.168.1.10"
    assert a["arp.dst.proto_ipv4"] == "192.168.1.1"
    assert "Who has 192.168.1.1?" in a["_ws.col.info"]
    assert "192.168.1.1 is at aa:bb:cc:00:00:02" == b["_ws.col.info"]


def test_icmp_dissection(tmp_path):
    echo = build_eth_ipv4_icmp("10.0.0.1", "8.8.8.8", 8, 0, 77, 3)
    reply = build_eth_ipv4_icmp("8.8.8.8", "10.0.0.1", 0, 0, 77, 3)
    p = tmp_path / "icmp.pcap"
    p.write_bytes(build_pcap([(1.0, echo), (1.05, reply)]))
    a, b = list(iter_packets(str(p)))
    assert a["frame.protocols"] == "eth:ethertype:ip:icmp"
    assert a["icmp.type"] == 8 and b["icmp.type"] == 0
    assert a["icmp.ident"] == 77 and a["icmp.seq"] == 3
    assert a["_ws.col.info"] == "Echo (ping) request"


def test_dns_dissection(tmp_path):
    q = build_eth_ipv4_udp("10.0.0.1", "8.8.8.8", 40000, 53,
                           dns_query_payload("example.com", 28, 0xBEEF))
    p = tmp_path / "dns.pcap"
    p.write_bytes(build_pcap([(1.0, q)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ip:udp:dns"
    assert pkt["dns.id"] == 0xBEEF
    assert pkt["dns.flags.response"] is False
    assert pkt["dns.count.queries"] == 1
    assert pkt["dns.qry.name"] == "example.com"
    assert pkt["dns.qry.type"] == 28
    assert "Standard query 0xbeef example.com" == pkt["_ws.col.info"]


def test_http_dissection(tmp_path):
    req = build_eth_ipv4_tcp("10.0.0.1", "93.184.216.34", 50000, 80, 1, 1,
                             0x18, b"GET /index.html HTTP/1.1\r\nHost: x\r\n")
    resp = build_eth_ipv4_tcp("93.184.216.34", "10.0.0.1", 80, 50000, 1, 30,
                              0x18, b"HTTP/1.1 404 Not Found\r\n\r\n")
    p = tmp_path / "http.pcap"
    p.write_bytes(build_pcap([(1.0, req), (1.2, resp)]))
    a, b = list(iter_packets(str(p)))
    assert a["frame.protocols"].endswith("tcp:http")
    assert a["http.request.method"] == "GET"
    assert a["http.request.uri"] == "/index.html"
    assert b["http.response.code"] == 404
    assert b["http.response.phrase"] == "Not Found"


def test_pcapng_reading(tmp_path):
    """Same packets through pcapng framing == classic framing (the native
    engine hard-rejected pcapng in round 1; Wireshark writes it by
    default since 1.8)."""
    f1 = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, 100, 0, 0x02,
                            b"")
    f2 = build_eth_ipv4_udp("10.0.0.3", "10.0.0.4", 5353, 53, b"dns?")
    frames = [(1700000000.25, f1), (1700000001.0, f2)]
    png = tmp_path / "cap.pcapng"
    png.write_bytes(build_pcapng(frames))
    classic = tmp_path / "cap.pcap"
    classic.write_bytes(build_pcap(frames))
    assert is_pcapng(str(png)) and not is_pcapng(str(classic))
    got = list(iter_packets(str(png)))
    want = list(iter_packets(str(classic)))
    assert len(got) == 2
    for g, w in zip(got, want):
        assert g == w  # identical dissection incl. us timestamps


def test_truncated_and_garbage_captures(tmp_path):
    """Corrupt inputs degrade gracefully (per-cell-null philosophy at the
    file level): truncated record -> stop after the good packets; garbage
    payload bytes -> a frame row with NULL protocol fields, no exception."""
    f1 = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1, 2, b"ok")
    good = build_pcap([(1700000000.0, f1), (1700000001.0, f1)])

    truncated = tmp_path / "trunc.pcap"
    truncated.write_bytes(good[:-10])  # second record's body cut short
    pkts = list(iter_packets(str(truncated)))
    assert len(pkts) == 1 and pkts[0]["udp.srcport"] == 1

    garbage = tmp_path / "garbage.pcap"
    garbage.write_bytes(build_pcap([(1700000000.0, b"\xde\xad\xbe\xef" * 5)]))
    [pkt] = list(iter_packets(str(garbage)))
    assert pkt["frame.len"] == 20
    assert pkt.get("udp.srcport") is None

    empty = tmp_path / "empty.pcap"
    empty.write_bytes(build_pcap([]))
    assert list(iter_packets(str(empty))) == []

    import pytest as _pytest
    notpcap = tmp_path / "not.pcap"
    notpcap.write_bytes(b"this is not a capture file at all..")
    with _pytest.raises(ValueError):
        list(iter_packets(str(notpcap)))


def test_dns_answer_dissection(tmp_path):
    """A-record answers: resolved address, CNAME chain, min TTL."""
    import struct as st

    q = b"\x07example\x03com\x00" + st.pack(">HH", 1, 1)
    # response: qd=1 an=2 — CNAME then A (classic chain), name via pointer
    hdr = st.pack(">HHHHHH", 0xBEEF, 0x8180, 1, 2, 0, 0)
    cname_rd = b"\x03www\x07example\x03com\x00"
    ans1 = b"\xc0\x0c" + st.pack(">HHIH", 5, 1, 300, len(cname_rd)) + cname_rd
    ans2 = b"\xc0\x0c" + st.pack(">HHIH", 1, 1, 60, 4) + bytes([93, 184, 216, 34])
    payload = hdr + q + ans1 + ans2
    frame = build_eth_ipv4_udp("1.1.1.1", "10.0.0.1", 53, 40000, payload)
    p = tmp_path / "dnsresp.pcap"
    p.write_bytes(build_pcap([(1700000000.0, frame)]))
    [pkt] = list(iter_packets(str(p)))
    assert pkt["dns.flags.response"] is True
    assert pkt["dns.qry.name"] == "example.com"
    assert pkt["dns.a"] == "93.184.216.34"
    assert pkt["dns.cname"] == "www.example.com"
    assert pkt["dns.resp.ttl"] == 60
    assert pkt["dns.count.answers"] == 2


def test_ipv6_icmpv6_vlan_dissection(tmp_path):
    """IPv6 addresses, ICMPv6 type, and 802.1Q VLAN de-encapsulation."""
    from tests.pcap_fixtures import (
        build_eth_ipv6_icmpv6, build_eth_ipv6_udp, build_vlan_ipv4_tcp,
    )

    src16 = bytes.fromhex("20010db8000000000000000000000001")
    dst16 = bytes.fromhex("20010db8000000000000000000000002")
    frames = [
        (1700000000.0, build_eth_ipv6_udp(src16, dst16, 5000, 53, b"q")),
        (1700000000.1, build_eth_ipv6_icmpv6(src16, dst16, 128)),
        (1700000000.2, build_vlan_ipv4_tcp(42, "10.0.0.1", "10.0.0.2",
                                           4444, 443)),
    ]
    p = tmp_path / "v6vlan.pcap"
    p.write_bytes(build_pcap(frames))
    pkts = list(iter_packets(str(p)))
    assert pkts[0]["ipv6.src"] == "2001:db8:0:0:0:0:0:1"
    assert pkts[0]["ipv6.dst"] == "2001:db8:0:0:0:0:0:2"
    assert pkts[0]["udp.dstport"] == 53
    assert "ipv6" in pkts[0]["frame.protocols"]
    assert pkts[1]["icmpv6.type"] == 128
    assert "icmpv6" in pkts[1]["frame.protocols"]
    assert pkts[2]["tcp.dstport"] == 443 and pkts[2]["tcp.flags.syn"] is True
    assert "vlan" in pkts[2]["frame.protocols"]
    assert pkts[2]["ip.src"] == "10.0.0.1"


def test_pcapng_byte_range_split_invariance(tmp_path):
    """Byte-range slices of one pcapng capture see every packet exactly
    once (EPB-marker resync), matching the whole-file read — the same
    contract the classic reader has."""
    frames = [
        (1700000000.0 + i * 0.001,
         build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1000 + i % 7, 53,
                            bytes([i % 251]) * (i % 100)))
        for i in range(500)
    ]
    png = tmp_path / "big.pcapng"
    png.write_bytes(build_pcapng(frames))
    size = os.path.getsize(png)

    whole = {
        (p["frame.time_epoch"], p["udp.srcport"], p["frame.len"])
        for p in iter_packets(str(png))
    }
    assert len(whole) == 500

    got = []
    for start, end in byte_range_partitions(str(png), 7):
        got.extend(
            (p["frame.time_epoch"], p["udp.srcport"], p["frame.len"])
            for p in iter_packets(str(png), start, end)
        )
    assert len(got) == 500  # no duplicates across slices
    assert set(got) == whole
    assert byte_range_partitions(str(png), 7)[-1][1] == size


@pytest.mark.skipif(not os.path.exists(FIXTURE), reason="fixture not present")
def test_fixture_golden_aggregate():
    """The reference README.md:160-167 golden result, reproduced without
    tshark: (429, 259678) for 11001->53867 and (56, 19702) reversed."""
    agg = {}
    n = 0
    for pkt in iter_packets(FIXTURE):
        n += 1
        if "tcp.srcport" in pkt:
            key = (pkt["tcp.srcport"], pkt["tcp.dstport"])
            c, s = agg.get(key, (0, 0))
            agg[key] = (c + 1, s + pkt["tcp.len"])
    assert n == 485
    assert agg[(11001, 53867)] == (429, 259678)
    assert agg[(53867, 11001)] == (56, 19702)
    # single loopback session -> one tcp stream (content-derived id)
    streams = {p["tcp.stream"] for p in iter_packets(FIXTURE)
               if "tcp.stream" in p}
    assert len(streams) == 1


def test_snaplen_tightens_resync_cap(tmp_path):
    """A declared small snaplen becomes the resync plausibility cap: split
    invariance holds on a snaplen-64 capture (every record <= 64 bytes)."""
    frames = [
        (1700000000.0 + i, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2",
                                              1000 + i, 53, b"x")[:60])
        for i in range(40)
    ]
    p = tmp_path / "snap64.pcap"
    p.write_bytes(build_pcap(frames, snaplen=64))
    whole = list(iter_packets(str(p)))
    assert len(whole) == 40
    pkts = [
        pk
        for s, e in byte_range_partitions(str(p), 4)
        for pk in iter_packets(str(p), s, e)
    ]
    assert [pk["frame.len"] for pk in pkts] == [
        pk["frame.len"] for pk in whole
    ]


def test_huge_snaplen_falls_back_to_unsplit(tmp_path):
    """snaplen beyond the 1 MiB sane resync cap: byte-range slices fall
    back to one unsplit read — the first slice owns every packet, the
    others own none, and nothing is silently dropped (round-2 ADVICE)."""
    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, i, 0, 0x10,
                            b"p" * 100))
        for i in range(25)
    ]
    p = tmp_path / "bigsnap.pcap"
    p.write_bytes(build_pcap(frames, snaplen=8 * 1024 * 1024))
    whole = list(iter_packets(str(p)))
    assert len(whole) == 25
    parts = byte_range_partitions(str(p), 4)
    assert len(parts) > 1
    per_slice = [list(iter_packets(str(p), s, e)) for s, e in parts]
    assert len(per_slice[0]) == 25  # first slice reads the whole file
    assert all(len(sl) == 0 for sl in per_slice[1:])


def test_classic_resync_scans_past_first_window(tmp_path):
    """A >4 MiB run of non-record bytes between the split start and the
    first real record must not yield an empty slice: the resync walks
    window-by-window to the boundary (round-2 ADVICE)."""
    import struct as _struct

    from wireduck_spark.sources.native import read_global_header, resync_offset

    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_udp("10.0.0.9", "10.0.0.8", 999, 53, b"q"))
        for i in range(3)
    ]
    tail = build_pcap(frames)[24:]  # records only
    header = build_pcap([])[:24]
    gap = bytes(5 * 1024 * 1024)  # zeros never chain-validate (caplen==0)
    blob = header + gap + tail
    p = tmp_path / "gap.pcap"
    p.write_bytes(blob)
    info = read_global_header(header)
    with open(p, "rb") as fh:
        off = resync_offset(fh, info, 30, len(blob))
    assert off == 24 + len(gap)


def test_pcapng_spb_split_invariance(tmp_path):
    """SPB-only pcapng (no timestamps) survives byte-range splitting: the
    resync accepts SPB markers too (round-2 ADVICE: EPB-only matching
    dropped every packet in non-first slices)."""
    frames = [
        (0.0, build_eth_ipv4_tcp("10.1.0.1", "10.1.0.2", 5000 + i, 80,
                                 i, 0, 0x18, b"spb-payload"))
        for i in range(30)
    ]
    png = tmp_path / "spb.pcapng"
    png.write_bytes(build_pcapng(frames, spb=True))
    size = os.path.getsize(png)
    whole = [p["tcp.srcport"] for p in iter_packets(str(png))]
    assert whole == [5000 + i for i in range(30)]
    cuts = [0, size // 3, 2 * size // 3, size]
    sliced = [
        p["tcp.srcport"]
        for a, b in zip(cuts, cuts[1:])
        for p in iter_packets(str(png), a, b)
    ]
    assert sliced == whole


def test_pcapng_resync_scans_past_filler_run(tmp_path):
    """A >4 MiB run of NRB filler blocks between packet blocks (long
    dumpcap captures) must not blank the slice that starts inside it: the
    pcapng resync continues into later windows (round-2 ADVICE)."""
    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_udp("10.2.0.1", "10.2.0.2", 7000 + i, 53, b"z"))
        for i in range(2)
    ]
    png = tmp_path / "filler.pcapng"
    png.write_bytes(
        build_pcapng(frames, mid_filler_bytes=5 * 1024 * 1024)
    )
    size = os.path.getsize(png)
    whole = [p["udp.srcport"] for p in iter_packets(str(png))]
    assert whole == [7000, 7001]
    # cut inside the filler run: packet 1 in slice A, packet 2 in slice B,
    # whose resync must scan ~5 MiB of filler before finding the EPB
    mid = size // 2
    a = [p["udp.srcport"] for p in iter_packets(str(png), 0, mid)]
    b = [p["udp.srcport"] for p in iter_packets(str(png), mid, size)]
    assert a == [7000] and b == [7001]


def test_udp_stream_is_partition_invariant(tmp_path):
    """udp.stream mirrors tcp.stream: a content-derived id identical for
    both directions of a 4-tuple conversation and stable across byte-
    range splits (fix.pcap is TCP-only, so a synthetic 2-conversation
    UDP capture is used)."""
    from wireduck_spark.sources.native import iter_packets
    from wireduck_spark.sources.synth import udp_frame, write_pcap

    cap = str(tmp_path / "udp_streams.pcap")
    write_pcap(cap, [
        (1.0, udp_frame("10.0.0.1", "10.0.0.2", 1111, 2222, b"q1")),
        (1.1, udp_frame("10.0.0.2", "10.0.0.1", 2222, 1111, b"r1")),
        (1.2, udp_frame("10.0.0.3", "10.0.0.4", 3333, 4444, b"q2")),
    ])
    pkts = [p for p in iter_packets(cap) if "udp.srcport" in p]
    assert len(pkts) == 3
    assert all("udp.stream" in p for p in pkts)
    # both directions of conversation 1 share one id; conversation 2 differs
    assert pkts[0]["udp.stream"] == pkts[1]["udp.stream"]
    assert pkts[2]["udp.stream"] != pkts[0]["udp.stream"]


def test_ntp_dissection(tmp_path):
    import struct as _s
    # v4 client poll: LI=0 VN=4 Mode=3, stratum 2, poll 6; xmt at a known
    # instant (2024-01-01 00:00:00 UTC + 0.5 s in NTP 1900-based 32.32)
    xmt_sec = 1704067200 + 2208988800
    xmt_frac = 1 << 31  # 0.5 s
    payload = (
        bytes([(0 << 6) | (4 << 3) | 3, 2, 6, 0xEC])
        + bytes(36)
        + _s.pack(">II", xmt_sec, xmt_frac)
    )
    pkt_bytes = build_eth_ipv4_udp("10.0.0.9", "193.0.0.229", 45000, 123,
                                   payload)
    p = tmp_path / "ntp.pcap"
    p.write_bytes(build_pcap([(1.0, pkt_bytes)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ip:udp:ntp"
    assert pkt["ntp.flags.vn"] == 4
    assert pkt["ntp.flags.mode"] == 3
    assert pkt["ntp.stratum"] == 2
    assert pkt["ntp.ppoll"] == 6
    assert pkt["ntp.xmt"] == 1704067200_500000  # epoch micros incl. frac
    assert pkt["_ws.col.info"] == "NTP Version 4, client"


def test_dhcp_dissection(tmp_path):
    import struct as _s
    mac = b"\xde\xad\xbe\xef\x00\x01"
    fixed = bytearray(240)
    fixed[0] = 1                      # BOOTREQUEST
    fixed[1:4] = bytes([1, 6, 0])     # htype/hlen/hops
    fixed[4:8] = _s.pack(">I", 0x3903F326)
    fixed[12:16] = bytes(4)           # ciaddr 0.0.0.0
    fixed[16:20] = bytes([192, 168, 1, 100])  # yiaddr
    fixed[28:34] = mac
    fixed[236:240] = b"\x63\x82\x53\x63"
    options = bytes([53, 1, 3, 255])  # DHCP Request, end
    pkt_bytes = build_eth_ipv4_udp("0.0.0.0", "255.255.255.255", 68, 67,
                                   bytes(fixed) + options)
    p = tmp_path / "dhcp.pcap"
    p.write_bytes(build_pcap([(1.0, pkt_bytes)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ip:udp:dhcp"
    assert pkt["dhcp.type"] == 1
    assert pkt["dhcp.id"] == 0x3903F326
    assert pkt["dhcp.ip.client"] == "0.0.0.0"
    assert pkt["dhcp.ip.your"] == "192.168.1.100"
    assert pkt["dhcp.hw.mac_addr"] == "de:ad:be:ef:00:01"
    assert pkt["dhcp.option.dhcp"] == 3
    assert pkt["_ws.col.info"] == "DHCP Request - Transaction ID 0x3903f326"


def test_ntp_fields_through_spark(spark, tmp_path):
    """ntp.xmt flows through the Arrow path as TimestampType."""
    import struct as _s
    xmt_sec = 1704067200 + 2208988800
    payload = (
        bytes([(0 << 6) | (4 << 3) | 4, 1, 10, 0xEC])
        + bytes(36) + _s.pack(">II", xmt_sec, 0)
    )
    pkt_bytes = build_eth_ipv4_udp("193.0.0.229", "10.0.0.9", 123, 45000,
                                   payload)
    p = tmp_path / "ntp2.pcap"
    p.write_bytes(build_pcap([(1.0, pkt_bytes)]))
    from wireduck_spark.sources.pcap import read_pcap
    df = read_pcap(spark, str(p), protocols=["ntp"], engine="native")
    row = df.collect()[0]
    assert row["ntp.flags.mode"] == 4
    assert str(row["ntp.xmt"]).startswith("2024-01-01 00:00:00")


def test_ipv6_extension_header_walk(tmp_path):
    """An IPv6 packet with a hop-by-hop extension header before UDP must
    still dissect the L4 layer (RFC 8200 chained next-headers); without
    the walk the payload lands in 'data'."""
    import struct as _s
    src16, dst16 = bytes(15) + b"\x01", bytes(15) + b"\x02"
    udp_payload = b"x" * 4
    udp = _s.pack(">HHHH", 5000, 5001, 8 + len(udp_payload), 0) + udp_payload
    # hop-by-hop: next=17 (UDP), len=0 -> 8 bytes total (6 pad bytes)
    hbh = bytes([17, 0]) + bytes(6)
    ip6 = _s.pack(">IHBB", 0x60000000, len(hbh) + len(udp), 0, 64) \
        + src16 + dst16
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + _s.pack(">H", 0x86DD)
    p = tmp_path / "v6ext.pcap"
    p.write_bytes(build_pcap([(1.0, eth + ip6 + hbh + udp)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ipv6:udp"
    assert pkt["udp.srcport"] == 5000
    assert pkt["udp.dstport"] == 5001
    assert pkt["udp.length"] == 8 + len(udp_payload)


def test_ipv6_fragment_offset_stops_l4(tmp_path):
    """IPv6 fragment header: the FIRST fragment (offset 0) still carries a
    real L4 header and dissects as UDP; a NON-FIRST fragment's bytes are
    mid-packet payload and must land in 'data' with no bogus port fields
    (round-3 ADVICE; matches tshark's non-reassembled behavior)."""
    import struct as _s
    src16, dst16 = bytes(15) + b"\x01", bytes(15) + b"\x02"
    udp_payload = b"y" * 4
    udp = _s.pack(">HHHH", 6000, 6001, 8 + len(udp_payload), 0) + udp_payload
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + _s.pack(">H", 0x86DD)

    def frag_pkt(offset_units: int, body: bytes) -> bytes:
        # fragment header: next=17 (UDP), reserved, 13-bit offset<<3 | M
        frag = bytes([17, 0]) + _s.pack(">H", (offset_units << 3) | 1) \
            + _s.pack(">I", 0xDEADBEEF)
        ip6 = _s.pack(">IHBB", 0x60000000, len(frag) + len(body), 44, 64) \
            + src16 + dst16
        return eth + ip6 + frag + body

    p = tmp_path / "v6frag.pcap"
    p.write_bytes(build_pcap([
        (1.0, frag_pkt(0, udp)),              # first fragment: real UDP hdr
        (1.1, frag_pkt(185, b"\x17\x70\x17\x71" + b"z" * 12)),  # mid-payload
    ]))
    first, rest = list(iter_packets(str(p)))
    assert "udp" in first["frame.protocols"]
    assert first["udp.srcport"] == 6000
    assert rest["frame.protocols"].endswith(":data")
    assert "udp.srcport" not in rest and "tcp.srcport" not in rest


def test_tcp_options_dissection(tmp_path):
    """A SYN carrying MSS + wscale + SACK-permitted options surfaces all
    three tshark-named fields; option walk is bounded by data_off."""
    import struct as _s
    opts = (
        _s.pack(">BBH", 2, 4, 1460)      # MSS 1460
        + bytes([1])                      # NOP
        + _s.pack(">BBB", 3, 3, 7)        # wscale shift 7
        + _s.pack(">BB", 4, 2)            # SACK permitted
        + bytes([0, 0])                   # EOL + pad to 12 = 3 words
    )
    assert len(opts) == 12
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + _s.pack(">H", 0x0800)
    tcp_len = 20 + len(opts)
    ip = _s.pack(
        ">BBHHHBBH4s4s", 0x45, 0, 20 + tcp_len, 1, 0, 64, 6, 0,
        bytes([10, 0, 0, 1]), bytes([10, 0, 0, 2]),
    )
    data_off_flags = ((tcp_len // 4) << 12) | 0x002  # SYN
    tcp = _s.pack(">HHIIHHHH", 44000, 443, 1, 0, data_off_flags,
                  65535, 0, 0) + opts
    p = tmp_path / "tcpopt.pcap"
    p.write_bytes(build_pcap([(1.0, eth + ip + tcp)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["tcp.flags.syn"] is True
    assert pkt["tcp.options.mss_val"] == 1460
    assert pkt["tcp.options.wscale.shift"] == 7
    assert pkt["tcp.options.sack_perm"] is True


def test_gre_decap_inner_wins():
    """GRE (proto 47, RFC 2784/2890): inner IPv4 is dissected in place
    with key extraction; outer endpoints preserved under gre.outer_*."""
    import struct

    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import _eth, _ipv4, tcp_frame

    inner_full = tcp_frame("172.16.0.1", "172.16.0.2", 55000, 8080,
                           99, 0x18, b"tunneled!")
    inner_ip = inner_full[14:]  # strip inner eth: GRE carries raw IP
    gre = struct.pack(">HH", 0x2000, 0x0800)  # key-present flag
    gre += struct.pack(">I", 0xDEADBEEF)      # key
    gre += inner_ip
    outer = _eth(b"\x02\0\0\0\0\x01", 0x0800) + _ipv4(
        "198.51.100.1", "198.51.100.2", 47, len(gre)) + gre

    fields: dict = {}
    dissect_packet(outer, 1, fields)
    assert fields["gre.proto"] == 0x0800
    assert fields["gre.key"] == 0xDEADBEEF
    assert fields["gre.outer_ip_src"] == "198.51.100.1"
    assert fields["gre.outer_ip_dst"] == "198.51.100.2"
    # inner wins for the standard columns
    assert fields["ip.src"] == "172.16.0.1"
    assert fields["ip.dst"] == "172.16.0.2"
    assert fields["tcp.srcport"] == 55000
    assert fields["tcp.dstport"] == 8080
    assert fields["tcp.len"] == 9
    assert "gre" in fields["frame.protocols"]
    assert fields["frame.protocols"].count("ip") >= 2


def test_vlan_tag_fields():
    """802.1Q: vlan.id (12-bit) and priority (3-bit PCP) from the TCI,
    with the inner ethertype still dissected normally."""
    import struct

    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import tcp_frame

    plain = tcp_frame("10.0.0.1", "10.0.0.2", 40001, 80, 1, 0x18, b"x")
    tci = (5 << 13) | 0x123  # priority 5, vlan 0x123
    tagged = plain[:12] + struct.pack(">HH", 0x8100, tci) + plain[12:]
    fields: dict = {}
    dissect_packet(tagged, 1, fields)
    assert fields["vlan.id"] == 0x123
    assert fields["vlan.priority"] == 5
    assert fields["tcp.dstport"] == 80
    assert "vlan" in fields["frame.protocols"]


# ---------------------------------------------------------------------------
# Round-12 native-dissector review fixes
# ---------------------------------------------------------------------------


def test_ipv4_non_first_fragment_stops_l4(tmp_path):
    """A non-first IPv4 fragment (fragment offset != 0) carries mid-packet
    payload after the IP header, not an L4 header: the dissector must stop
    (tshark's non-reassembled behavior) instead of emitting bogus
    port/flag/stream fields — the guard the IPv6 branch has had since
    round 3 (r12 review). The FIRST fragment (MF set, offset 0) still
    contains the real L4 header and must keep dissecting."""
    import struct as _s

    full = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, 1, 0,
                              0x18, b"xx")
    frag = bytearray(full)
    _s.pack_into(">H", frag, 14 + 6, 0x00B9)  # offset 185 (x8 bytes)
    first = bytearray(full)
    _s.pack_into(">H", first, 14 + 6, 0x2000)  # MF set, offset 0
    p = tmp_path / "frag.pcap"
    p.write_bytes(build_pcap([(1.0, bytes(frag)), (2.0, bytes(first))]))
    nf, f0 = list(iter_packets(str(p)))
    assert "tcp.srcport" not in nf and "tcp.stream" not in nf
    assert nf["frame.protocols"] == "eth:ethertype:ip:data"
    assert nf["ip.src"] == "10.0.0.1"  # L3 fields still dissected
    assert f0["tcp.srcport"] == 1111  # first fragment keeps its L4


def test_dns_many_label_name_decodes_fully(tmp_path):
    """A legal 20+-label DNS name (typical of tunneling traffic) must
    decode completely AND leave the parse position right, so qry.type is
    still read from the question footer — r12 review: ordinary labels
    used to charge the 16-deep compression bound, truncating the name
    and desynchronizing everything behind it."""
    name = ".".join(f"l{i}" for i in range(20)) + ".example.com"
    q = build_eth_ipv4_udp("10.0.0.1", "8.8.8.8", 40000, 53,
                           dns_query_payload(name, 16, 0xCAFE))
    p = tmp_path / "dns_long.pcap"
    p.write_bytes(build_pcap([(1.0, q)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["dns.qry.name"] == name
    assert pkt["dns.qry.type"] == 16


def test_tcp_info_flag_order_matches_wireshark(tmp_path):
    """Wireshark renders the info-column flag list in BIT order:
    [FIN, ACK] / [PSH, ACK] / [SYN, ECE, CWR] — never [ACK, FIN]; and
    URG/ECE/CWR must be named at all (r12 review)."""
    combos = ((0x11, "[FIN, ACK]"), (0x18, "[PSH, ACK]"),
              (0x12, "[SYN, ACK]"), (0xC2, "[SYN, ECE, CWR]"),
              (0x20, "[URG]"))
    frames = [
        (float(i), build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1000 + i,
                                      80, 1, 0, flags, b""))
        for i, (flags, _) in enumerate(combos)
    ]
    p = tmp_path / "flags.pcap"
    p.write_bytes(build_pcap(frames))
    for pkt, (_, expect) in zip(iter_packets(str(p)), combos):
        assert expect in pkt["_ws.col.info"], pkt["_ws.col.info"]


def test_is_grease_exact_rfc8701_set():
    """RFC 8701 reserves exactly the 16 equal-byte 0x?A?A values; an
    unequal-byte 0x?A?A (e.g. 0x2A4A) is a legitimate codepoint and must
    NOT be stripped from JA3 (r12 review)."""
    from wireduck_spark.sources.native import _is_grease

    greases = {((h << 4) | 0xA) * 0x101 for h in range(16)}
    for v in greases:
        assert _is_grease(v), hex(v)
    for v in (0x2A4A, 0x1A2A, 0xA0A, 0x0A1A, 0x1301):
        if v not in greases:
            assert not _is_grease(v), hex(v)


def test_truncated_client_hello_emits_no_ja3(tmp_path):
    """A snaplen-cut ClientHello must not emit a confidently-wrong JA3
    computed over a clipped extension walk (it would match nothing in
    published feeds — a silent false negative); record-layer fields and
    any SNI already parsed stay (r12 review)."""
    from wireduck_spark.sources.synth import tls_client_hello

    hello = tls_client_hello("example.com", curves=(29, 23),
                             ec_formats=(0,))
    full = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 50000, 443, 1, 0,
                              0x18, hello)
    cut = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 50001, 443, 1, 0,
                             0x18, hello[:-6])
    p = tmp_path / "tls_trunc.pcap"
    p.write_bytes(build_pcap([(1.0, full), (2.0, cut)]))
    ok, trunc = list(iter_packets(str(p)))
    assert "tls.handshake.ja3" in ok and "tls.handshake.ja3_string" in ok
    assert "tls.handshake.ja3" not in trunc
    assert "tls.handshake.ja3_string" not in trunc
    assert trunc["tls.record.length"] == ok["tls.record.length"]
    assert trunc.get("tls.handshake.extensions_server_name") \
        == "example.com"


def test_pcapng_oversized_snaplen_reads_unsplit(tmp_path):
    """pcapng twin of classic's splittable_snaplen fallback (r12 review:
    it did not exist, so a block larger than the resync sanity cap at a
    slice boundary was owned by NO slice — silent record loss): an IDB
    snaplen past the cap makes the first slice own the whole file and
    every other slice yield nothing — exactly-once preserved."""
    frames = [
        (float(i), build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1000 + i,
                                      53, b"x" * 50))
        for i in range(30)
    ]
    png = build_pcapng(frames, snaplen=8 * 1024 * 1024)
    p = tmp_path / "big_snap.pcapng"
    p.write_bytes(png)
    size = len(png)
    whole = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert whole == [1000 + i for i in range(30)]
    parts = byte_range_partitions(str(p), 4, size=size)
    assert len(parts) > 1
    got = [
        x["udp.srcport"]
        for s, e in parts
        for x in iter_packets(str(p), s, e, size=size)
    ]
    assert got == whole  # all records, exactly once, no slice overlap


def test_frozen_size_replays_identically_after_growth(tmp_path):
    """Streaming replay contract (r12 review): a batch planned against a
    frozen size-at-listing must yield the SAME rows when replayed after
    the capture grew — a record whose header preceded frozen-EOF but
    whose bytes extended past it stays excluded on the replay."""
    frames = [
        (float(i), build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 2000 + i,
                                      53, b"y" * 40))
        for i in range(5)
    ]
    full = build_pcap(frames)
    rec_len = 16 + len(frames[0][1])
    cut = 24 + 4 * rec_len + 16 + 10  # 5th header whole, data partial
    p = tmp_path / "grow.pcap"
    p.write_bytes(full[:cut])
    original = [x["udp.srcport"]
                for x in iter_packets(str(p), 0, cut, size=cut)]
    assert original == [2000, 2001, 2002, 2003]
    p.write_bytes(full)  # the capture "grows" to completion
    replay = [x["udp.srcport"]
              for x in iter_packets(str(p), 0, cut, size=cut)]
    assert replay == original
    live = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert live == [2000, 2001, 2002, 2003, 2004]


def test_pcapng_frozen_size_replays_identically_after_growth(tmp_path):
    """pcapng twin of the frozen-size replay contract: a block whose
    header precedes the plan-frozen EOF but whose bytes extend past it
    stays excluded after the capture grows."""
    frames = [
        (float(i), build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 2000 + i,
                                      53, b"y" * 40))
        for i in range(5)
    ]
    full = build_pcapng(frames)
    cut = len(full) - 20  # 5th EPB header whole, its data partial
    p = tmp_path / "grow.pcapng"
    p.write_bytes(full[:cut])
    original = [x["udp.srcport"]
                for x in iter_packets(str(p), 0, cut, size=cut)]
    assert original == [2000, 2001, 2002, 2003]
    p.write_bytes(full)
    replay = [x["udp.srcport"]
              for x in iter_packets(str(p), 0, cut, size=cut)]
    assert replay == original
    live = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert live == [2000, 2001, 2002, 2003, 2004]


def test_single_slice_plan_keeps_ordinal_frame_numbers(tmp_path):
    """frame.number semantics must not depend on the FORMAT for the same
    plan (r12 review: a one-slice plan — start == GLOBAL_HEADER_LEN —
    yielded ordinals on classic but byte offsets on pcapng)."""
    frames = [(1.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1, 53,
                                       b"z")),
              (2.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 2, 53,
                                       b"z"))]
    classic = tmp_path / "one.pcap"
    classic.write_bytes(build_pcap(frames))
    png = tmp_path / "one.pcapng"
    png.write_bytes(build_pcapng(frames))
    for path in (classic, png):
        (start, end), = byte_range_partitions(str(path), 1)
        nums = [x["frame.number"]
                for x in iter_packets(str(path), start, end)]
        assert nums == [1, 2], (path.name, nums)


def test_pcapng_unsplit_fallback_tiny_slices_no_duplication(tmp_path):
    """ADVICE r12: the unsplittable-snaplen ownership test must be
    start_byte <= GLOBAL_HEADER_LEN (the planner's unique minimum first-
    slice start), not <= first_pkt — with per-slice spans smaller than
    the SHB+IDB preamble, slices 2..k used to ALSO own the whole file
    and every row duplicated."""
    from tests.pcap_fixtures import pcapng_block  # noqa: F401 (doc)

    frames = [
        (float(i), build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 3000 + i,
                                      53, b"q" * 30))
        for i in range(3)
    ]
    png = build_pcapng(frames, snaplen=8 * 1024 * 1024)  # unsplittable
    p = tmp_path / "tiny_slices.pcapng"
    p.write_bytes(png)
    size = len(png)
    whole = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert whole == [3000, 3001, 3002]
    parts = byte_range_partitions(str(p), 64, size=size)
    # the probe only bites when some slice starts INSIDE the preamble
    assert any(0 < s - 24 < 48 for s, _ in parts[1:]) or len(parts) > 8
    got = [
        x["udp.srcport"]
        for s, e in parts
        for x in iter_packets(str(p), s, e, size=size)
    ]
    assert got == whole  # exactly once — no preamble-straddling dupes

    # extract_slice twin: only the first slice materializes rows
    from wireduck_spark.sources.native import extract_slice
    owned = []
    for i, (s, e) in enumerate(parts):
        out = tmp_path / f"slice_{i}.pcapng"
        offs = extract_slice(str(p), s, e, str(out))
        owned.append(len(offs))
    assert owned[0] == 3 and sum(owned) == 3


def test_pcapng_unsplit_read_skips_oversized_block(tmp_path, monkeypatch):
    """ADVICE r12: on an UNSPLIT read, a legitimate block larger than the
    sanity cap (trailing length field confirms blen) is skipped — not a
    silent truncation of every block behind it; a CORRUPT length (trailer
    disagrees) still stops the walk instead of chaining into garbage."""
    import struct as st

    import wireduck_spark.sources.native as native
    from tests.pcap_fixtures import pcapng_block

    monkeypatch.setattr(native, "_MAX_SANE_ORIGLEN", 1024)
    frames = [(1.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 4000, 53,
                                       b"a" * 20)),
              (2.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 4001, 53,
                                       b"b" * 20))]
    base = build_pcapng(frames[:1])
    giant = pcapng_block(0x00000BAD, bytes(2048))  # valid trailer, > cap
    us = 2_000_000
    data = frames[1][1]
    epb2 = pcapng_block(0x00000006, st.pack(
        "<IIIII", 0, us >> 32, us & 0xFFFFFFFF, len(data), len(data)) + data)
    p = tmp_path / "giant_mid.pcapng"
    p.write_bytes(base + giant + epb2)
    ports = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert ports == [4000, 4001]  # giant block skipped, not truncating

    # corrupt trailer: walk stops at the lie, no giant allocation
    bad_giant = bytearray(giant)
    bad_giant[-4:] = st.pack("<I", 99)
    p2 = tmp_path / "giant_corrupt.pcapng"
    p2.write_bytes(base + bytes(bad_giant) + epb2)
    ports2 = [x["udp.srcport"] for x in iter_packets(str(p2))]
    assert ports2 == [4000]

    # extract twin: the skipped block is not copied, both EPBs are
    from wireduck_spark.sources.native import extract_slice
    out = tmp_path / "giant_slice.pcapng"
    offs = extract_slice(str(p), None, None, str(out))
    assert len(offs) == 2
    ports3 = [x["udp.srcport"] for x in iter_packets(str(out))]
    assert ports3 == [4000, 4001]


def _shb(endian):
    from tests.pcap_fixtures import pcapng_block
    import struct as st

    return pcapng_block(0x0A0D0D0A, st.pack(endian + "IHHq", 0x1A2B3C4D,
                                             1, 0, -1), endian)


def _idb(endian, linktype, tsresol=None):
    from tests.pcap_fixtures import pcapng_block
    import struct as st

    body = st.pack(endian + "HHI", linktype, 0, 65535)
    if tsresol is not None:  # if_tsresol option, then opt_endofopt
        body += st.pack(endian + "HH", 9, 1) + bytes([tsresol, 0, 0, 0])
        body += st.pack(endian + "HH", 0, 0)
    return pcapng_block(0x00000001, body, endian)


def _epb(endian, if_id, ticks, data, orig=None):
    from tests.pcap_fixtures import pcapng_block
    import struct as st

    return pcapng_block(0x00000006, st.pack(
        endian + "IIIII", if_id, ticks >> 32, ticks & 0xFFFFFFFF, len(data),
        len(data) if orig is None else orig) + data, endian)


def test_pcapng_framing_goldens(tmp_path):
    """Pinned pcapng framing: a little-endian section (Ethernet, us)
    then a big-endian SHB section whose interface 0 is raw IP (linktype
    101) in nanoseconds (if_tsresol=9) and interface 1 Ethernet in us;
    EPBs on both, an SPB (interface 0, no timestamp), an EPB naming an
    unknown interface (Ethernet, us) and NRB/ISB blocks between
    packets. Goldens are per-packet frame.len, frame.cap_len, epoch us
    and linktype on a whole-file read; extract_slice copies the file
    verbatim."""
    import struct as st

    from tests.pcap_fixtures import pcapng_block
    from wireduck_spark.sources.native import (
        extract_slice, open_record_batches,
    )

    f1 = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 5001, 53, b"a" * 10)
    f2 = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 5002, 53, b"b" * 20)
    raw_ip = build_eth_ipv4_tcp("10.0.0.3", "10.0.0.4", 40000, 80, 1, 0,
                                0x18, b"c" * 6)[14:]
    f3 = build_eth_ipv4_tcp("10.0.0.3", "10.0.0.4", 40000, 80, 7, 0, 0x18,
                            b"GET / HTTP/1.1\r\n\r\n")
    f4 = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 5004, 53, b"d" * 5)
    f5 = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 5005, 53, b"e" * 8)
    blocks = [
        _shb("<"), _idb("<", 1),
        _epb("<", 0, 1_700_000_000_000_000, f1),
        pcapng_block(0x00000004, bytes(8)),  # NRB
        _epb("<", 0, 1_700_000_000_500_000, f2, orig=len(f2) + 10),
        _shb(">"), _idb(">", 101, tsresol=9), _idb(">", 1),
        _epb(">", 0, 1_700_000_001_000_000_999, raw_ip),
        _epb(">", 1, 1_700_000_002_000_000, f3),
        pcapng_block(0x00000005, bytes(20), ">"),  # ISB
        pcapng_block(0x00000003, st.pack(">I", len(f4)) + f4, ">"),  # SPB
        _epb(">", 7, 3_000_000, f5),
    ]
    p = tmp_path / "two_sections.pcapng"
    p.write_bytes(b"".join(blocks))
    want = [  # (frame.len, frame.cap_len, epoch us, linktype)
        (52, 52, 1_700_000_000_000_000, 1),
        (72, 62, 1_700_000_000_500_000, 1),
        (46, 46, 1_700_000_001_000_000, 101),
        (72, 72, 1_700_000_002_000_000, 1),
        (47, 47, 0, 101),
        (50, 50, 3_000_000, 1),
    ]
    (batch,), split = open_record_batches(str(p))
    offs, epochs, incls, origs, _datas, lts = batch
    assert not split
    assert lts == [1, 1, 101, 1, 101, 1]  # mixed batch: per-packet list
    assert list(zip(origs, incls, epochs, lts)) == want
    pkts = list(iter_packets(str(p), raw_ts=True))
    assert [(x["frame.len"], x["frame.cap_len"], x["frame.time_epoch"])
            for x in pkts] == [w[:3] for w in want]
    assert [x["frame.number"] for x in pkts] == [1, 2, 3, 4, 5, 6]
    assert [x["frame.protocols"] == "raw" for x in pkts] == [
        False, False, True, False, True, False]
    assert pkts[3]["http.request.method"] == "GET"

    out = tmp_path / "copy.pcapng"
    assert extract_slice(str(p), None, None, str(out)) == offs
    assert out.read_bytes() == p.read_bytes()


def test_pcapng_two_interface_split_union_equals_whole(tmp_path):
    """One section, two interfaces (Ethernet in us, Ethernet in ns) with
    NRBs between packets: the union of every byte-range split read equals
    the whole-file read, frame.number aside (offsets vs ordinals)."""
    from tests.pcap_fixtures import pcapng_block

    blocks = [_shb("<"), _idb("<", 1), _idb("<", 1, tsresol=9)]
    for i in range(60):
        frame = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 6000 + i, 53,
                                   bytes([i]) * (i % 50))
        ticks = (1_700_000_000 + i) * (10 ** (6 + 3 * (i % 2))) + i
        blocks.append(_epb("<", i % 2, ticks, frame))
        if i % 9 == 0:
            blocks.append(pcapng_block(0x00000004, bytes(12)))
    p = tmp_path / "two_if.pcapng"
    p.write_bytes(b"".join(blocks))

    def rows(pkts):
        return [{k: v for k, v in x.items() if k != "frame.number"}
                for x in pkts]

    whole = rows(iter_packets(str(p)))
    assert len(whole) == 60
    # interface 1 counts nanoseconds: packet 1 lands exactly 1 s later
    assert (whole[1]["frame.time_epoch"] - whole[0]["frame.time_epoch"]
            ).total_seconds() == 1
    for n in (2, 3, 5, 8):
        parts = byte_range_partitions(str(p), n)
        got = [x for s, e in parts for x in rows(iter_packets(str(p), s, e))]
        assert got == whole, n


def test_dns_name_depth_exhaustion_advances_past_pointer():
    """ADVICE r12: when the compression-pointer depth bound trips, the
    name walk must still advance next_off past the 2-byte pointer —
    pointers always terminate a name — so the field walk behind a
    maliciously deep chain stays in sync."""
    from wireduck_spark.sources.native import _dns_name

    # '<label a><pointer to 0>' driven at the depth bound: the pointer
    # is refused (depth) but next_off must be 4, not 2 (the old break
    # left it AT the pointer byte)
    payload = b"\x01a\xc0\x00\x00"
    name, noff = _dns_name(payload, 0, depth=16)
    assert name == "a"
    assert noff == 4

    # sanity below the bound: the same bytes resolve the loop-free tail
    deep = b"\x01a\xc0\x04" + b"\x01b\x00"
    name2, noff2 = _dns_name(deep, 0)
    assert name2 == "a.b" and noff2 == 4
