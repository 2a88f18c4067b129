"""Vectorized (columnar) batch dissector for the native pcap engine.

r15 optimization (guide §4.2 "do the heavy lifting in native code"):
the per-packet dict path (one native._packet_fields dict per packet
-> per-column appends) spends most of its time building and re-reading
~20-field Python dicts per packet — the r14 profile put ~70% of the
200k-packet throughput capture's wall in dict stores, dict.get column
assembly and per-field Python arithmetic, not in the L7 probes. This
module parses the fixed L2/L3/L4 headers for a whole record batch at
once with NumPy gathers over one concatenated byte buffer and emits
pyarrow-ready columns directly; only genuinely row-wise work stays per
packet:

- TCP payload rows: payload hex + the L7 probe chain (native._tcp_l7 —
  the exact chain _dissect_l4 runs) + the info string,
- TCP rows with options (data_off > 20): native._tcp_options,
- flow ids: cached per 4-tuple (native.stream_id on cache miss),
- UDP payload rows: the shared probe chain (native._udp_payload_chain),
- everything off the proven fast path (VLAN, IPv6, ARP, the IP
  protocols _dissect_l4 handles beyond TCP/UDP, UDP on a VXLAN/GTP
  decap port — whose decapsulation rewrites other layers' columns):
  the row falls back to native._packet_fields and overwrites its
  cells, so the output is bit-identical to the dict path BY
  CONSTRUCTION for every row class (pinned by tests/test_native_vec.py's
  full differential over every synthetic capture in both framings).

The fast path intentionally covers exactly the traffic that dominates
big captures (plain Ethernet II / IPv4 / TCP, and header-only UDP);
a capture full of exotic rows degrades gracefully to dict-path speed.
"""

from __future__ import annotations

import struct

import numpy as np

from wireduck_spark.sources.native import (
    _TCP_FLAG_STR,
    _ipv4,
    _packet_fields,
    _tcp_l7,
    _tcp_options,
    _udp_payload_chain,
    stream_id,
)

# UDP decap ports (VXLAN 4789, GTP-U 2152): a payload row with either
# port on one of them takes the full-row fallback, because the decap
# branches of the probe chain rewrite other layers' columns (VXLAN
# rewrites ip.*/tcp.*, GTP extends the protocol chain). Every other UDP
# payload row stays on the fast path and runs _udp_payload_chain.
_UDP_REWRITE_PORTS = (4789, 2152)

# IPv4 protocol numbers _dissect_l4 handles beyond TCP/UDP — rows with
# these fall back to the dict path; every other protocol number is the
# dissector's "data" tail, which the fast path reproduces directly.
_L4_FALLBACK_PROTOS = (1, 2, 47, 58, 89, 132)

# interned frame.protocols strings for the common TCP L7 labels (a
# per-row concat shows up at 200k rows/batch scale)
_PROTO_TCP_LABELS = {
    None: "eth:ethertype:ip:tcp",
    "http": "eth:ethertype:ip:tcp:http",
    "tls": "eth:ethertype:ip:tcp:tls",
    "ssh": "eth:ethertype:ip:tcp:ssh",
    "dns": "eth:ethertype:ip:tcp:dns",
    "http2": "eth:ethertype:ip:tcp:http2",
}


def _flow_id(cache: dict, src32: int, sport: int, dst32: int,
             dport: int) -> int:
    key = (src32, sport, dst32, dport)
    sid = cache.get(key)
    if sid is None:
        src = _ipv4(struct.pack(">I", src32))
        dst = _ipv4(struct.pack(">I", dst32))
        sid = stream_id(src, sport, dst, dport)
        cache[key] = sid
    return sid


def batch_columns(recs: tuple, names: list[str], split: bool,
                  frame_no0: int, include_raw: bool) -> dict:
    """Dissect one COLUMNAR record batch into per-name column values.

    ``recs``: (offs, epochs, incls, origs, datas, linktype) — parallel
    per-batch lists (linktype is an int when the whole batch shares it,
    else a per-packet list) as yielded by native.open_record_batches,
    for classic pcap and pcapng alike. Returns
    {name: list | (np.ndarray, null_mask np.ndarray)} for every
    requested name — pyarrow-ready.
    """
    offs_l, epochs_l, incls_l, origs_l, datas, lt_raw = recs
    n = len(datas)
    lens = np.fromiter((len(d) for d in datas), np.int64, n)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    buf = b"".join(datas)
    a = np.frombuffer(buf, np.uint8).astype(np.int64, copy=False)
    s = offsets[:n]
    if isinstance(lt_raw, int):
        lt = np.full(n, lt_raw, np.int64)
    else:
        lt = np.array(lt_raw, np.int64)

    def g8(rel: np.ndarray, ok: np.ndarray) -> np.ndarray:
        out = np.zeros(n, np.int64)
        i = (s + rel)[ok]
        out[ok] = a[i]
        return out

    def g16(rel, ok):
        out = np.zeros(n, np.int64)
        i = (s + rel)[ok]
        out[ok] = (a[i] << 8) | a[i + 1]
        return out

    def g32(rel, ok):
        out = np.zeros(n, np.int64)
        i = (s + rel)[ok]
        out[ok] = (a[i] << 24) | (a[i + 1] << 16) | (a[i + 2] << 8) \
            | a[i + 3]
        return out

    # ---- L2 classification -------------------------------------------------
    eth_ok = (lt == 1) & (lens >= 14)
    et = g16(np.int64(12), eth_ok)
    vlan = eth_ok & (et == 0x8100)
    ip4 = eth_ok & (et == 0x0800) & ~vlan
    ipv6 = eth_ok & (et == 0x86DD)
    arp = eth_ok & (et == 0x0806)
    ip4_ok = ip4 & (lens >= 34)

    # ---- IPv4 fixed header -------------------------------------------------
    m = ip4_ok
    ver_ihl = g8(np.int64(14), m)
    ihl = (ver_ihl & 0x0F) * 4
    total_len = g16(np.int64(16), m)
    ttl = g8(np.int64(22), m)
    proto = g8(np.int64(23), m)
    frag_word = g16(np.int64(20), m)
    frag = m & ((frag_word & 0x1FFF) != 0)
    src32 = g32(np.int64(26), m)
    dst32 = g32(np.int64(30), m)
    l4off = 14 + ihl

    tcp_m = m & ~frag & (proto == 6) & (lens >= l4off + 20)
    udp_m = m & ~frag & (proto == 17) & (lens >= l4off + 8)
    l4_rest = m & ~frag & ~tcp_m & ~udp_m
    l4_fb = l4_rest & np.isin(proto, _L4_FALLBACK_PROTOS)

    # ---- TCP fixed header --------------------------------------------------
    sport = g16(l4off, tcp_m)
    dport = g16(l4off + 2, tcp_m)
    seq = g32(l4off + 4, tcp_m)
    ackn = g32(l4off + 8, tcp_m)
    offres = g8(l4off + 12, tcp_m)
    flags = g8(l4off + 13, tcp_m)
    window = g16(l4off + 14, tcp_m)
    tcksum = g16(l4off + 16, tcp_m)
    data_off = (offres >> 4) * 4
    tcp_paylen = np.maximum(total_len - ihl - data_off, 0)

    # ---- UDP fixed header --------------------------------------------------
    usport = g16(l4off, udp_m)
    udport = g16(l4off + 2, udp_m)
    ulen = g16(l4off + 4, udp_m)
    ucksum = g16(l4off + 6, udp_m)
    # a UDP payload slice is non-empty iff the length field says there
    # is payload AND the capture actually holds bytes past the header
    udp_has_pay = udp_m & (ulen > 8) & (lens > l4off + 8)
    udp_fb = udp_has_pay & (np.isin(usport, _UDP_REWRITE_PORTS)
                            | np.isin(udport, _UDP_REWRITE_PORTS))
    udp_fast = udp_m & ~udp_fb

    # ---- full-row fallback set --------------------------------------------
    fallback = vlan | ipv6 | (arp & eth_ok) | l4_fb | udp_fb

    tcp_rows = np.flatnonzero(tcp_m)
    udp_rows = np.flatnonzero(udp_fast)
    fb_rows = np.flatnonzero(fallback)

    # ---- frame.protocols base ----------------------------------------------
    protocols: list = [None] * n
    for i in np.flatnonzero(lt != 1):
        protocols[i] = "raw"
    for i in np.flatnonzero((lt == 1) & (lens < 14)):
        protocols[i] = "eth"
    # ethertypes the fast path ends at "data" (unknown et, short IPv4)
    for i in np.flatnonzero(eth_ok & ~ip4_ok & ~ipv6 & ~arp & ~vlan):
        protocols[i] = "eth:ethertype:data"
    for i in np.flatnonzero(frag | (l4_rest & ~l4_fb)):
        protocols[i] = "eth:ethertype:ip:data"
    for i in udp_rows:
        protocols[i] = "eth:ethertype:ip:udp"

    # ---- column store ------------------------------------------------------
    cols: dict = {}
    want = set(names)

    def num(name, arr, valid):
        if name in want:
            cols[name] = (arr, valid.copy())

    epoch = np.array(epochs_l, np.int64)
    always = np.ones(n, bool)
    if split:
        frame_no = np.array(offs_l, np.int64)
    else:
        frame_no = np.arange(frame_no0, frame_no0 + n, dtype=np.int64)
    num("frame.time_epoch", epoch, always)
    num("frame.number", frame_no, always)
    num("frame.len", np.array(origs_l, np.int64), always)
    num("frame.cap_len", np.array(incls_l, np.int64), always)
    num("eth.type", et, ip4_ok | (eth_ok & ~vlan & ~ip4_ok))
    num("ip.version", ver_ihl >> 4, m)
    num("ip.hdr_len", ihl, m)
    num("ip.len", total_len, m)
    num("ip.ttl", ttl, m)
    num("ip.proto", proto, m)
    num("tcp.srcport", sport, tcp_m)
    num("tcp.dstport", dport, tcp_m)
    num("tcp.seq", seq, tcp_m)
    num("tcp.ack", ackn, tcp_m)
    num("tcp.hdr_len", data_off, tcp_m)
    num("tcp.len", tcp_paylen, tcp_m)
    num("tcp.window_size_value", window, tcp_m)
    num("tcp.checksum", tcksum, tcp_m)
    num("udp.srcport", usport, udp_fast)
    num("udp.dstport", udport, udp_fast)
    num("udp.length", ulen, udp_fast)
    num("udp.checksum", ucksum, udp_fast)
    for fname, bit in (("tcp.flags.fin", 0x01), ("tcp.flags.syn", 0x02),
                       ("tcp.flags.reset", 0x04), ("tcp.flags.push", 0x08),
                       ("tcp.flags.ack", 0x10)):
        if fname in want:
            cols[fname] = ((flags & bit) != 0, tcp_m.copy())

    # string / sparse columns start as None-lists
    list_names = [nm for nm in names if nm not in cols
                  and nm != "frame.protocols"]
    lists: dict = {nm: [None] * n for nm in list_names}

    def put(nm, i, v):
        col = lists.get(nm)
        if col is not None:
            col[i] = v

    if include_raw and "frame.raw" in lists:
        raw_col = lists["frame.raw"]
        for i in range(n):
            raw_col[i] = datas[i].hex()

    if "eth.dst" in lists or "eth.src" in lists:
        for i in np.flatnonzero(eth_ok):
            d = datas[i]
            put("eth.dst", i, d[0:6].hex(":"))
            put("eth.src", i, d[6:12].hex(":"))

    ip_rows_all = np.flatnonzero(m)
    s32l, d32l = src32.tolist(), dst32.tolist()
    if "ip.src" in lists or "ip.dst" in lists:
        for i in ip_rows_all:
            put("ip.src", i, _ipv4(struct.pack(">I", s32l[i])))
            put("ip.dst", i, _ipv4(struct.pack(">I", d32l[i])))

    flow_cache: dict = {}
    want_info = "_ws.col.info" in lists
    want_payload = "tcp.payload" in lists
    want_tstream = "tcp.stream" in lists
    want_ustream = "udp.stream" in lists

    # ---- per-row TCP tail (options, payload hex, L7 probe, info) ----------
    if len(tcp_rows):
        spl, dpl = sport.tolist(), dport.tolist()
        seql, ackl = seq.tolist(), ackn.tolist()
        fll, dofl = flags.tolist(), data_off.tolist()
        pll, l4l = tcp_paylen.tolist(), l4off.tolist()
        info_col = lists.get("_ws.col.info") if want_info else None
        payload_col = lists.get("tcp.payload") if want_payload else None
        stream_col = lists.get("tcp.stream") if want_tstream else None
        tcp_label = _PROTO_TCP_LABELS
        fcache_get = flow_cache.get
        for i in tcp_rows.tolist():
            data = datas[i]
            sp, dp, doff, plen = spl[i], dpl[i], dofl[i], pll[i]
            off = l4l[i]
            label = None
            extras: dict | None = None
            if doff > 20:
                extras = {}
                _tcp_options(data, off, doff, extras)
            pstart = off + doff
            payload = data[pstart:pstart + plen]
            if payload:
                if payload_col is not None:
                    payload_col[i] = payload.hex()
                if extras is None:
                    extras = {}
                label = _tcp_l7(payload, sp, dp, extras)
            protocols[i] = tcp_label.get(label) or (
                "eth:ethertype:ip:tcp:" + label)
            if info_col is not None:
                # the generic flags/seq line FIRST — an L7 probe's own
                # info (in extras) must override it, as in _dissect_l4
                info_col[i] = (
                    f"{sp} → {dp} [{_TCP_FLAG_STR[fll[i]]}]"
                    f" Seq={seql[i]} Ack={ackl[i]} Len={plen}"
                )
            if extras:
                for k, v in extras.items():
                    col = lists.get(k)
                    if col is not None:
                        col[i] = v
            if stream_col is not None:
                key = (s32l[i], sp, d32l[i], dp)
                sid = fcache_get(key)
                if sid is None:
                    sid = _flow_id(flow_cache, *key)
                stream_col[i] = sid

    # ---- per-row UDP tail (info, payload probe chain, stream) --------------
    if len(udp_rows):
        uspl, udpl, ulenl = usport.tolist(), udport.tolist(), ulen.tolist()
        l4l = l4off.tolist()
        payl = udp_has_pay.tolist()
        info_col = lists.get("_ws.col.info") if want_info else None
        stream_col = lists.get("udp.stream") if want_ustream else None
        udp_base = "eth:ethertype:ip:udp"
        for i in udp_rows.tolist():
            sp, dp = uspl[i], udpl[i]
            if info_col is not None:
                info_col[i] = f"{sp} → {dp} Len={ulenl[i] - 8}"
            if payl[i]:
                data = datas[i]
                off = l4l[i]
                payload = data[off + 8:off + 8 + (ulenl[i] - 8)]
                extras: dict = {}
                tail: list = []
                _udp_payload_chain(data, off, payload, sp, dp, tail,
                                   extras)
                if tail:
                    protocols[i] = udp_base + ":" + ":".join(tail)
                if extras:
                    for k, v in extras.items():
                        col = lists.get(k)
                        if col is not None:
                            col[i] = v
            if stream_col is not None:
                stream_col[i] = _flow_id(
                    flow_cache, s32l[i], sp, d32l[i], dp)

    # ---- full-row fallback: the exact dict path ----------------------------
    if len(fb_rows):
        fnl = frame_no.tolist()
        ltl = lt.tolist()
        for i in fb_rows.tolist():
            fields = _packet_fields(fnl[i], epochs_l[i], incls_l[i],
                                    origs_l[i], datas[i], ltl[i],
                                    include_raw)
            protocols[i] = fields.get("frame.protocols")
            get = fields.get
            for nm in names:
                if nm == "frame.protocols":
                    continue
                entry = cols.get(nm)
                if entry is not None:
                    arr, valid = entry
                    v = get(nm)
                    if v is None:
                        valid[i] = False
                    else:
                        arr[i] = v
                        valid[i] = True
                else:
                    col = lists.get(nm)
                    if col is not None:
                        col[i] = get(nm)

    out: dict = {}
    for nm in names:
        if nm == "frame.protocols":
            out[nm] = protocols
        elif nm in cols:
            out[nm] = cols[nm]
        else:
            out[nm] = lists[nm]
    return out
