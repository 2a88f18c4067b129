"""Seeded capture generator for the benchmark's pcap workloads.

Frames come from the program's own builders (``sources/synth.py``); the
file framing (classic libpcap records and pcapng Enhanced Packet Blocks)
is written here, so the inputs do not depend on ``tshark``, on a
reference fixture or on the program's writer.

Every capture is generated with the ground truth the workload checks
against: packet and byte totals, per-port counts, protocol-chain counts,
DNS name counts and the carved subset. Captures are cached per
(kind, seed, size) under the benchmark's cache directory; the program's
own ``.wireduck_cache`` is never touched.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import struct
import time
from collections import Counter

from wireduck_spark.sources import synth

# bulk: one classic capture, 75% Eth/IPv4/TCP, 25% header-only UDP;
# ~92 MB, above the reader's 64 MiB default split threshold
BULK_PACKETS = 400_000
BULK_FLOWS = 4_000
TCP_PAYLOADS = (0, 6, 40, 120, 512, 1400)
TCP_PAYLOAD_WEIGHTS = (30, 15, 20, 15, 10, 10)
SERVICE_PORTS = range(7000, 7064)
# the carve filter keeps a quarter of the service ports: ~19% of packets
CARVE_MAX_DPORT = 7016

# ring: dumpcap-style ring of pcapng files with an L7-heavy mix
RING_PACKETS = 160_000
RING_FILES = 8
RING_MIX = (  # (kind, weight, frame.protocols the dissector reports)
    ("dns", 25, "eth:ethertype:ip:udp:dns"),
    ("http", 12, "eth:ethertype:ip:tcp:http"),
    ("tls_hello", 8, "eth:ethertype:ip:tcp:tls"),
    ("tls_data", 15, "eth:ethertype:ip:tcp:tls"),
    ("quic", 10, "eth:ethertype:ip:udp:quic"),
    ("icmp", 5, "eth:ethertype:ip:icmp"),
    ("arp", 5, "eth:ethertype:arp"),
    ("ipv6_udp", 8, "eth:ethertype:ipv6:udp"),
    ("tcp_hdr", 12, "eth:ethertype:ip:tcp"),
)
DNS_NAMES = 300
# kinds the vectorized dissector hands whole to dissect_packet (its
# full-row fallback); every other kind stays on its header fast path
FALLBACK_KINDS = ("icmp", "arp", "ipv6_udp")

T0 = 1_700_000_000.0
MAX_CACHED = 3  # capture directories kept; older ones are evicted


def _ip(prefix: int, n: int) -> str:
    return f"10.{prefix}.{(n >> 8) & 0xFF}.{n & 0xFF}"


def write_classic(path: str, frames: list[tuple[int, bytes]]) -> None:
    """Classic libpcap, microsecond timestamps, Ethernet linktype."""
    with open(path, "wb") as fh:
        fh.write(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 262144, 1))
        pack = struct.Struct("<IIII").pack
        for ts_us, data in frames:
            fh.write(pack(ts_us // 1_000_000, ts_us % 1_000_000,
                          len(data), len(data)))
            fh.write(data)


def write_pcapng(path: str, frames: list[tuple[int, bytes]]) -> None:
    """pcapng: one SHB, one Ethernet IDB (default microsecond
    resolution), then one Enhanced Packet Block per frame."""
    with open(path, "wb") as fh:
        fh.write(struct.pack("<IIIHHqI", 0x0A0D0D0A, 28, 0x1A2B3C4D, 1, 0,
                             -1, 28))
        fh.write(struct.pack("<IIHHII", 1, 20, 1, 0, 262144, 20))
        for ts_us, data in frames:
            pad = (-len(data)) % 4
            blen = 32 + len(data) + pad
            fh.write(struct.pack("<IIIIIII", 6, blen, 0, ts_us >> 32,
                                 ts_us & 0xFFFFFFFF, len(data), len(data)))
            fh.write(data + bytes(pad))
            fh.write(struct.pack("<I", blen))


def _size_hist(frames) -> dict:
    edges = (64, 128, 256, 512, 1024, 1518)
    hist = Counter()
    for _, data in frames:
        hist[next((f"<{e}" for e in edges if len(data) < e), ">=1518")] += 1
    return dict(sorted(hist.items()))


def bulk_frames(seed: int) -> tuple[list, dict]:
    """The bulk TCP capture and its ground truth."""
    rng = random.Random(seed)
    flows = []
    for f in range(BULK_FLOWS):
        udp = rng.random() < 0.25
        flows.append((udp, _ip(1, f), _ip(200, rng.randrange(256)),
                      rng.randrange(32768, 47000),
                      rng.choice(SERVICE_PORTS)))
    pools = {n: [rng.randbytes(n) for _ in range(8)] for n in TCP_PAYLOADS}
    sizes = rng.choices(TCP_PAYLOADS, TCP_PAYLOAD_WEIGHTS, k=BULK_PACKETS)
    picks = [rng.randrange(BULK_FLOWS) for _ in range(BULK_PACKETS)]
    # a quarter of the flows are UDP; draw packets so that 25% of them
    # are UDP regardless of which flows the seed made UDP
    udp_flows = [i for i, f in enumerate(flows) if f[0]]
    tcp_flows = [i for i, f in enumerate(flows) if not f[0]]
    frames = []
    per_port: dict = {}
    carved = [0, 0]
    for i in range(BULK_PACKETS):
        ts = int(T0 * 1_000_000) + i * 10
        if i % 4 == 3:
            _, src, dst, sport, dport = flows[udp_flows[picks[i] % len(udp_flows)]]
            data = synth.udp_frame(src, dst, sport, dport, b"")
            key, plen = "udp", None
        else:
            _, src, dst, sport, dport = flows[tcp_flows[picks[i] % len(tcp_flows)]]
            payload = pools[sizes[i]][i % 8]
            data = synth.tcp_frame(src, dst, sport, dport, i, 0x18, payload)
            key, plen = f"{sport}:{dport}", len(payload)
            if dport < CARVE_MAX_DPORT:
                carved[0] += 1
                carved[1] += len(data)
        row = per_port.setdefault(key, [0, None, 0])
        row[0] += 1
        if plen is not None:
            row[1] = (row[1] or 0) + plen
        row[2] += len(data)
        frames.append((ts, data))
    truth = {
        "packets": BULK_PACKETS,
        "frame_bytes": sum(len(d) for _, d in frames),
        "per_port": per_port,  # "sport:dport" | "udp" -> [count, sum tcp.len, sum frame.len]
        "carved": carved,      # [packets, frame bytes]
        "fast_path_share": 1.0,  # Eth/IPv4/TCP and header-only UDP
    }
    return frames, truth


def _pad(payload: bytes, size: int) -> bytes:
    return payload + bytes(max(0, size - len(payload)))


def ring_frames(seed: int) -> tuple[list, dict]:
    """The mixed L7 ring (one frame list, split into files later).
    Payload sizes keep every frame between 42 and 1210 bytes."""
    rng = random.Random(seed ^ 0x5EED)
    kinds = [k for k, _, _ in RING_MIX]
    labels = {k: lab for k, _, lab in RING_MIX}
    picks = rng.choices(kinds, [w for _, w, _ in RING_MIX], k=RING_PACKETS)
    names = [f"host{j:03d}.{rng.choice(('svc', 'cdn', 'api'))}.example"
             for j in range(DNS_NAMES)]
    # Zipf-like popularity: a few names dominate the top-10 query
    name_w = [1.0 / (j + 1) for j in range(DNS_NAMES)]
    frames = []
    hier: dict = {}
    dns_names = Counter()
    fast = 0
    for i, kind in enumerate(picks):
        ts = int(T0 * 1_000_000) + i * 25
        c = _ip(7, rng.randrange(4096))
        s = _ip(9, rng.randrange(256))
        sport = rng.randrange(40000, 47000)
        if kind == "dns":
            name = rng.choices(names, name_w)[0]
            dns_names[name] += 1
            data = synth.udp_frame(c, s, sport, 53,
                                   synth.dns_query(name, 1, i & 0xFFFF))
        elif kind == "http":
            req = (f"GET /item/{rng.randrange(10**6)} HTTP/1.1\r\n"
                   f"Host: shop.example\r\nUser-Agent: bench\r\n\r\n").encode()
            data = synth.tcp_frame(c, s, sport, 80, i, 0x18,
                                   _pad(req, rng.randrange(0, 700)))
        elif kind == "tls_hello":
            data = synth.tcp_frame(
                c, s, sport, 443, i, 0x18,
                synth.tls_client_hello(rng.choice(names)))
        elif kind == "tls_data":
            n = rng.randrange(16, 1100)
            data = synth.tcp_frame(c, s, sport, 443, i, 0x18,
                                   b"\x17\x03\x03" + struct.pack(">H", n)
                                   + rng.randbytes(n))
        elif kind == "quic":
            data = synth.udp_frame(c, s, sport, 443, synth.quic_long_header(
                0, 1, rng.randbytes(8), rng.randbytes(4),
                rng.randbytes(rng.randrange(40, 1150))))
        elif kind == "icmp":
            data = synth.icmp_frame(c, s, 8, i & 0xFFFF, i & 0xFFFF)
        elif kind == "arp":
            data = synth.arp_frame(1, b"\x02\0\0\0\0\x07", c, s)
        elif kind == "ipv6_udp":
            data = synth.ipv6_frame(rng.randrange(1, 999), 2, sport,
                                    rng.randrange(9000, 9064),
                                    rng.randbytes(rng.randrange(8, 900)))
        else:  # tcp_hdr
            data = synth.tcp_frame(c, s, sport, rng.randrange(7000, 7064),
                                   i, 0x10, b"")
        fast += kind not in FALLBACK_KINDS
        row = hier.setdefault(labels[kind], [0, 0])
        row[0] += 1
        row[1] += len(data)
        frames.append((ts, data))
    top = sorted(dns_names.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    truth = {
        "packets": RING_PACKETS,
        "frame_bytes": sum(len(d) for _, d in frames),
        "hierarchy": hier,  # frame.protocols -> [count, sum frame.len]
        "dns_top": [list(kv) for kv in top],
        "fast_path_share": fast / RING_PACKETS,
    }
    return frames, truth


KINDS = {"bulk": (bulk_frames, BULK_PACKETS), "ring": (ring_frames, RING_PACKETS)}


def _evict(root: str, keep: str) -> None:
    entries = [os.path.join(root, e) for e in os.listdir(root)
               if not e.startswith(".")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for path in entries[MAX_CACHED:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


def prepare(cache_root: str, kind: str, seed: int) -> dict:
    """Generate (or reuse) a capture; return its manifest.

    The manifest holds the file paths, packet and byte counts, the frame
    size histogram, the fast-path share, the ground truth and the
    generation time (0 on a cache hit, with the original time kept as
    ``gen_s_original``)."""
    build, n = KINDS[kind]
    root = os.path.join(cache_root, "captures")
    os.makedirs(root, exist_ok=True)
    key = f"{kind}-s{seed}-n{n}"
    final = os.path.join(root, key)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            man = json.load(fh)
        man["gen_s_original"], man["gen_s"] = man["gen_s"], 0.0
        os.utime(final)
        return man
    t0 = time.perf_counter()
    frames, truth = build(seed)
    tmp = os.path.join(root, f".{key}.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "bulk":
        files = ["bulk.pcap"]
        write_classic(os.path.join(tmp, files[0]), frames)
    else:
        per = (len(frames) + RING_FILES - 1) // RING_FILES
        files = []
        for k in range(RING_FILES):
            part = frames[k * per:(k + 1) * per]
            stamp = time.strftime("%Y%m%d%H%M%S",
                                  time.gmtime(part[0][0] // 1_000_000))
            files.append(f"ring_{k + 1:05d}_{stamp}.pcapng")
            write_pcapng(os.path.join(tmp, files[-1]), part)
    man = {
        "kind": kind, "seed": seed, "packets": len(frames),
        "key": key, "files": files,
        "file_bytes": sum(os.path.getsize(os.path.join(tmp, f))
                          for f in files),
        "size_hist": _size_hist(frames),
        "truth": truth,
        "gen_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(man, fh)
    if os.path.exists(final):  # a concurrent run won the race
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, final)
    _evict(root, final)
    return man


def capture_paths(cache_root: str, man: dict) -> list[str]:
    return [os.path.join(cache_root, "captures", man["key"], f)
            for f in man["files"]]


def one_packet_capture(cache_root: str) -> str:
    """The one-row capture the set-up scan reads."""
    path = os.path.join(cache_root, "one.pcap")
    if not os.path.exists(path):
        os.makedirs(cache_root, exist_ok=True)
        write_classic(path + ".tmp", [(int(T0 * 1_000_000), synth.tcp_frame(
            "10.0.0.1", "10.0.0.2", 40000, 7000, 1, 0x18, b"x"))])
        os.replace(path + ".tmp", path)
    return path
