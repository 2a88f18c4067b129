"""The benchmark's workloads: the queries one round runs, and the checks
that compare each query's collected result with the ground truth.

Every query goes through the public API (``spark.read.format("pcap")``,
``df.write.format("pcap")``, the registry's query builders). A round
returns one (query, ok, detail) triple per query it ran.
"""

from __future__ import annotations

import os
import time

from captures import CARVE_MAX_DPORT, capture_paths

BULK_PROTOCOLS = "tcp"
RING_PROTOCOLS = "dns,http,tls,quic,icmp,arp,ipv6,tcp,udp"
CARVE_PROTOCOLS = "frame,ip,tcp"

# The relational workload's default data: a copy of the seed-42 sf0.01
# testdata tables, so that the benchmark reads nothing outside the
# checkout. --sf-dir runs the same queries on another scale.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "sf0.01")
# The seven registered queries of the relational workload.
RELATIONAL_QUERIES = (
    "tpch_q1", "tpch_q5", "tpch_q21", "window_frames",
    "event_sessionization_gap", "dedup_minhash_lsh",
    "graph_pagerank_suppliers",
)


def c(name: str):
    from pyspark.sql import functions as F

    return F.col(f"`{name}`")


def read(spark, path: str, protocols: str):
    return (spark.read.format("pcap").option("engine", "native")
            .option("protocols", protocols).load(path))


class Workload:
    """One workload: its capture, its read options and one round."""

    name = ""
    capture = None        # captures.KINDS key, or None
    protocols = ""
    # The first round of a fresh session runs 2-3x slower (JIT, Python
    # worker imports, first-touch caches); warm-up rounds are run and
    # checked but not timed.
    warmup_rounds = 1

    def __init__(self, cache: str, manifest: dict | None, sf_dir: str | None,
                 scratch: str):
        self.cache = cache
        self.scratch = scratch  # removed by run.py when the process ends
        self.man = manifest
        self.sf_dir = sf_dir
        self.truth = manifest["truth"] if manifest else None
        self.paths = capture_paths(cache, manifest) if manifest else []

    @property
    def packets(self) -> int:
        return self.man["packets"] if self.man else 0

    @property
    def load_path(self) -> str:
        """What the round passes to load(): the file, or the ring's glob."""
        if len(self.paths) == 1:
            return self.paths[0]
        return os.path.join(os.path.dirname(self.paths[0]), "ring_*.pcapng")

    def prepare(self, spark) -> None:
        """Work done once before the first round (not timed)."""

    def round(self, spark) -> list[tuple[str, bool, str]]:
        raise NotImplementedError


class BulkTcpScan(Workload):
    """Classic pcap, byte-range splits, nearly every row on the vectorized
    fast path; the relational work is one small aggregate."""

    name = "bulk_tcp_scan"
    capture = "bulk"
    protocols = BULK_PROTOCOLS

    def round(self, spark):
        from pyspark.sql import functions as F

        rows = (read(spark, self.load_path, self.protocols)
                .groupBy(c("tcp.srcport"), c("tcp.dstport"))
                .agg(F.count(F.lit(1)), F.sum(c("tcp.len")),
                     F.sum(c("frame.len"))).collect())
        got = {("udp" if r[0] is None else f"{r[0]}:{r[1]}"): [r[2], r[3], r[4]]
               for r in rows}
        want = self.truth["per_port"]
        ok = got == want
        return [("port_aggregate", ok,
                 "" if ok else f"{len(got)} groups, want {len(want)}")]


class MixedL7Ring(Workload):
    """pcapng ring through a glob, wide L7 schema, most rows on the
    per-packet dissector and L7 probes."""

    name = "mixed_l7_ring"
    capture = "ring"
    protocols = RING_PROTOCOLS

    def round(self, spark):
        from pyspark.sql import functions as F

        df = read(spark, self.load_path, self.protocols)
        hier = {r[0]: [r[1], r[2]] for r in df.groupBy(c("frame.protocols"))
                .agg(F.count(F.lit(1)), F.sum(c("frame.len"))).collect()}
        top = [[r[0], r[1]] for r in
               df.where(c("dns.qry.name").isNotNull())
               .groupBy(c("dns.qry.name")).agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.desc("n"), c("dns.qry.name")).limit(10).collect()]
        ok_h = hier == self.truth["hierarchy"]
        ok_t = top == self.truth["dns_top"]
        return [("protocol_hierarchy", ok_h, "" if ok_h else str(hier)[:200]),
                ("dns_top_names", ok_t, "" if ok_t else str(top)[:200])]


class CarveWrite(Workload):
    """Read with raw frames, filter one port class, write it with the pcap
    sink and read it back."""

    name = "carve_write"
    capture = "bulk"
    protocols = CARVE_PROTOCOLS

    def prepare(self, spark):
        self.out = os.path.join(self.scratch, "carved")

    def round(self, spark):
        from pyspark.sql import functions as F

        (read(spark, self.load_path, self.protocols)
         .where(c("tcp.dstport") < CARVE_MAX_DPORT)
         .write.format("pcap").mode("overwrite").save(self.out))
        r = (read(spark, os.path.join(self.out, "*.pcap"), "")
             .agg(F.count(F.lit(1)), F.sum(c("frame.len"))).collect()[0])
        got = [r[0], r[1]]
        ok = got == self.truth["carved"]
        return [("carve_roundtrip", ok,
                 "" if ok else f"{got} != {self.truth['carved']}")]


class Relational(Workload):
    """Host-delegated registry queries: Spark stages, shuffle, driver gap
    and iterative plans, no pcap ingest."""

    name = "relational"

    def prepare(self, spark):
        """Evaluate each query's DuckDB oracle once, canonicalised the way
        tools/check_oracle.py does."""
        import duckdb

        from tools.check_oracle import row_key
        from wireduck_spark.registry import TABLES, load_all_queries

        self.row_key = row_key
        self.specs = {n: load_all_queries()[n] for n in RELATIONAL_QUERIES}
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{p}')")
        self.oracle = {}
        for n, spec in self.specs.items():
            tbl = con.execute(spec.oracle).fetch_arrow_table()
            cols = list(tbl.column_names)
            rows = [tuple(rec[k] for k in cols) for rec in tbl.to_pylist()]
            if not rows:  # an empty result would check nothing
                raise RuntimeError(f"{n}: oracle returns no rows on "
                                   f"{self.sf_dir}")
            self.oracle[n] = self._canon(cols, rows)
        con.close()
        self.last_dfs: dict = {}
        self.query_s: dict = {}

    def _canon(self, cols, rows):
        order = [cols.index(k) for k in sorted(cols, key=str.lower)]
        return (sorted(k.lower() for k in cols),
                sorted(self.row_key(r, order) for r in rows))

    def round(self, spark):
        out = []
        for n, spec in self.specs.items():
            t0 = time.perf_counter()
            df = spec.fn(spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            self.query_s[n] = time.perf_counter() - t0
            self.last_dfs[n] = df
            ok = self._canon(df.columns, rows) == self.oracle[n]
            out.append((n, ok, "" if ok else "differs from oracle"))
        return out


WORKLOADS = {w.name: w for w in (BulkTcpScan, MixedL7Ring, CarveWrite,
                                 Relational)}
