"""The `pcap` Python Data Source: PCAP captures as Spark DataFrames.

Spark-first re-expression of the reference's read_pcap table function
(/root/reference/src/wireduck_extension.cpp:80-252) on the PySpark 4
DataSource API:

    spark.dataSource.register(PcapDataSource)
    df = (spark.read.format("pcap")
          .option("protocols", "tcp,udp")   # reference: protocols:=[...]
          .option("climit", "100")          # reference: climit:=N  (tshark -c)
          .option("cfilter", "tcp.len > 0") # reference: cfilter:='...' (-Y)
          .option("engine", "auto")         # native | tshark | auto
          .load("/captures/*.pcap"))        # glob -> one partition per file

Semantics preserved from the reference:
- glossary-driven dynamic schema: default 5 columns (frame.time_epoch,
  frame.number, frame.len, frame.protocols, _ws.col.info), plus every
  glossary field of the requested protocols, frame-first / argument-order /
  _ws.col.info-last (FetchSelectedFields, cpp:53-78);
- the FT_* -> type mapping and per-cell null-on-error casting (§1.2);
- climit / cfilter pushed into tshark exactly like the reference.

Beyond the reference (its scan is one thread, one pipe, one file —
cpp:126,180):
- multi-file/glob reads with one partition per file;
- `engine=native`: tshark-free pure-Python dissection that can split ONE
  large capture into byte-range partitions (sources/native.py) — the scale
  axis for 100-TB pcap corpora;
- schema() is pure (no subprocess at plan time; the reference spawns
  tshark inside Bind, so even EXPLAIN launches it);
- Catalyst filter pushdown: pushFilters() translates supported Spark
  filters to a Wireshark display filter ANDed into cfilter (tshark
  engine). All filters are also returned as unsupported so Spark
  re-applies them — pushdown is a row-reduction optimization, never a
  correctness dependency.
"""

from __future__ import annotations

import glob as globmod
import hashlib
import os
import tempfile
import zipfile
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructField, StructType

from wireduck_spark.sources import native
from wireduck_spark.sources.fs import filesystem_for, path_scheme
from wireduck_spark.sources.glossary import fetch_selected_fields, load_fields
from wireduck_spark.sources.tshark import (
    FakeTsharkRunner, TsharkRunner, build_argv, parse_tsv_line,
)
from wireduck_spark.sources.typemap import cast_cell, map_ft_type

# A single capture file is split into byte-range partitions above this size
# (native engine only; tshark must stream a whole file).
SPLIT_THRESHOLD_BYTES = 64 * 1024 * 1024
# Target bytes per split: the partition count grows with the file, so a
# 1 TB capture yields ~8k parallel slices (a fixed split COUNT would give
# 64 GB per task at that size — unrunnable). 128 MB matches the parquet
# maxPartitionBytes default, the task size Spark schedulers are tuned for.
TARGET_SPLIT_BYTES = 128 * 1024 * 1024
MIN_SPLITS = 16

# Rows per Arrow RecordBatch emitted by read() — the Python<->JVM transfer
# unit (the reference's analogue is DuckDB's 2048-row DataChunk, cpp:176).
ARROW_BATCH_ROWS = 4096


def _arrow_schema(schema: StructType):
    """pyarrow twin of the Spark schema (RecordBatches cross the Python→JVM
    boundary as Arrow IPC; the reference's analogue is DuckDB's 2048-row
    DataChunk, cpp:176). Timestamp cells may be naive-UTC datetimes (tshark
    path) or epoch-microsecond ints (native fast path); pyarrow accepts
    both for timestamp[us, UTC]."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
    )


def native_arrow_batches(
    schema: StructType,
    path: str,
    start_byte: int | None = None,
    end_byte: int | None = None,
    limit: int | None = None,
    size: int | None = None,
):
    """Columnar emission for the native engine (shared by the batch reader
    and the partitioned stream reader), one pyarrow RecordBatch per
    ARROW_BATCH_ROWS (each batch crosses to the JVM as one Arrow IPC
    message; the reference's analogue is the 2048-row DataChunk,
    cpp:176).

    r15 OPTIMIZATION (guide §4.2): record batches go through the
    VECTORIZED dissector (native_vec.batch_columns — NumPy gathers over
    one concatenated byte buffer for the fixed L2/L3/L4 headers,
    per-packet Python only for payload probes and off-fast-path rows),
    replacing the per-packet dict build + per-column dict.get appends
    that dominated the old path's profile. Output is bit-identical to
    iter_packets by construction (fallback rows run its per-packet field
    builder, native._packet_fields);
    pinned by tests/test_native_vec.py's full differential."""
    import pyarrow as pa

    from wireduck_spark.sources import native_vec

    aschema = _arrow_schema(schema)
    names = [f.name for f in schema.fields]
    include_raw = "frame.raw" in names

    def flush(recs, frame_no0):
        colmap = native_vec.batch_columns(
            recs, names, split, frame_no0, include_raw)
        arrays = []
        for f in aschema:
            col = colmap[f.name]
            if isinstance(col, tuple):
                arr, valid = col
                arrays.append(pa.array(arr, type=f.type, mask=~valid))
            else:
                arrays.append(pa.array(col, type=f.type))
        return pa.RecordBatch.from_arrays(arrays, schema=aschema)

    batches, split = native.open_record_batches(
        path, start_byte, end_byte, size=size,
        batch_rows=ARROW_BATCH_ROWS)
    n_total = 0
    frame_no0 = 1
    for recs in batches:
        n_batch = len(recs[0])
        if limit is not None and n_total + n_batch > limit:
            keep = limit - n_total
            lt = recs[5]
            recs = tuple(col[:keep] for col in recs[:5]) + (
                lt if isinstance(lt, int) else lt[:keep],)
            n_batch = keep
        if not n_batch:
            break
        yield flush(recs, frame_no0)
        frame_no0 += n_batch
        n_total += n_batch
        if limit is not None and n_total >= limit:
            break


@dataclass
class PcapPartition(InputPartition):
    path: str
    start_byte: int | None = None  # None -> whole file
    end_byte: int | None = None
    # plan-frozen whole-file size (None -> executor reads the live size);
    # threads to open_record_batches(size=) so every slice of one plan sees the
    # SAME size even if the capture grows between planning and execution.
    file_size: int | None = None


class PcapDataSource(DataSource):
    """Registered name: `pcap`."""

    @classmethod
    def name(cls) -> str:
        return "pcap"

    def _protocols(self) -> list[str]:
        raw = self.options.get("protocols", "")
        return [p.strip() for p in raw.split(",") if p.strip()]

    def schema(self) -> StructType:
        """Glossary-driven schema — pure Python, no subprocess (deviation
        from the reference's bind-time tshark spawn, SURVEY.md §4.4)."""
        selected = fetch_selected_fields(self._protocols())
        return StructType(
            [
                StructField(f.filter_name, map_ft_type(f.field_type), True)
                for f in selected
            ]
        )

    def reader(self, schema: StructType) -> "PcapReader":
        return PcapReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "PcapWriter":
        """`df.write.format("pcap").save(dir)` — the sink the reference
        lacks entirely: filter a capture with the full relational surface,
        then save the surviving packets as a VALID capture other tools
        (tshark, Wireshark, this reader) open directly.

        Requires `frame.time_epoch` + `frame.raw` columns (read with
        protocols including 'frame' to get raw bytes). Each task writes
        its own part-NNNNN.pcap under the target directory — the standard
        Spark sink layout, and exactly what the glob-reading scan
        consumes back.
        """
        names = {f.name for f in schema.fields}
        missing = {"frame.time_epoch", "frame.raw"} - names
        if missing:
            raise ValueError(
                f"pcap writer needs columns {sorted(missing)} — read with "
                "protocols including 'frame' to carry raw frame bytes")
        path = str(self.options.get("path", ""))
        if not path:
            raise ValueError("pcap writer requires a path")
        if overwrite and os.path.isdir(path):
            for f in os.listdir(path):
                if f.endswith(".pcap"):
                    os.remove(os.path.join(path, f))
        os.makedirs(path, exist_ok=True)
        return PcapWriter(path, int(self.options.get("linktype", 1)))


class PcapWriter(DataSourceWriter):
    def __init__(self, path: str, linktype: int):
        self.path = path
        self.linktype = linktype

    def write(self, iterator) -> WriterCommitMessage:
        import struct as _struct

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        out = os.path.join(self.path, f"part-{pid:05d}.pcap")
        tmp = out + ".tmp"
        n = 0
        with open(tmp, "wb") as fh:
            fh.write(_struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0,
                                  262144, self.linktype))
            for row in iterator:
                raw = row["frame.raw"]
                if raw is None:
                    continue
                data = bytes.fromhex(raw)
                ts = row["frame.time_epoch"]
                if isinstance(ts, datetime):
                    if ts.tzinfo is not None:
                        us = int(round(ts.timestamp() * 1_000_000))
                    else:
                        # naive datetimes are session-UTC by contract; a
                        # .timestamp() here would re-interpret them in the
                        # worker's local zone
                        us = (ts - datetime(1970, 1, 1)) \
                            // timedelta(microseconds=1)
                else:
                    us = int(ts)
                fh.write(_struct.pack("<IIII", us // 1_000_000,
                                      us % 1_000_000, len(data), len(data)))
                fh.write(data)
                n += 1
        # atomic publish per task; empty parts are dropped
        if n:
            os.replace(tmp, out)
        else:
            os.remove(tmp)
        return WriterCommitMessage()

    def commit(self, messages) -> None:
        pass  # parts are atomically published per task

    def abort(self, messages) -> None:
        pass  # unpublished .tmp files are the only residue


# FT_* types whose display-filter comparison semantics provably agree with
# Spark's comparison on the mapped column type. Everything else (strings,
# IPs, MACs, bytes, FT_UINT_STRING, times) compares with TYPED semantics in
# Wireshark but STRING semantics in Spark — pushing those can drop rows
# tshark filters out that Spark's own filter would have kept (over-filter =
# silently wrong results, since dropped rows never reach Spark to re-check).
_NUMERIC_FT = frozenset(
    [f"FT_UINT{w}" for w in (8, 16, 24, 32, 40, 48, 56, 64)]
    + [f"FT_INT{w}" for w in (8, 16, 24, 32, 40, 48, 56, 64)]
    + ["FT_FRAMENUM", "FT_FLOAT", "FT_DOUBLE"]
)


def _numeric_filter_value(v) -> str | None:
    if isinstance(v, bool):  # bool is int; reject — boolean fields not pushed
        return None
    if isinstance(v, (int, float)):
        return str(v)
    return None


def translate_filters_to_display(
    filters: list[Filter], field_types: dict[str, str]
) -> tuple[str | None, int]:
    """Superset-safe Spark Filter -> Wireshark display-filter translation
    (the automated version of the reference's hand-written cfilter).

    Only filters whose tshark-side evaluation is PROVABLY a superset of the
    Spark-side evaluation are pushed (pushdown reduces dissected rows; Spark
    always re-applies, so under-filtering is fine, over-filtering is a
    wrong-results bug):

    - numeric ==/</<=/>/>=/IN on fields whose glossary FT_* type is a true
      integer/float (`_NUMERIC_FT`) — both engines compare numerically;
    - IsNotNull on any field -> bare `field` (field-existence). A packet
      whose field exists but nulls on Spark-side cast failure is KEPT by
      tshark and re-dropped by Spark: superset, safe.

    Never pushed: StringContains (byte-level `contains` on typed fields),
    string ordering (IP/lexical mismatch), IsNull (`!(field)` drops packets
    where the field exists but the cell nulls on cast failure), equality on
    non-numeric fields, boolean fields (tshark prints True/False, matching
    quirks differ). Returns (display_filter | None, n_translated).
    """
    clauses = []
    for f in filters:
        clause = None
        if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                          LessThanOrEqual)):
            col = ".".join(f.attribute)
            if field_types.get(col) in _NUMERIC_FT:
                op = {
                    EqualTo: "==", GreaterThan: ">", GreaterThanOrEqual: ">=",
                    LessThan: "<", LessThanOrEqual: "<=",
                }[type(f)]
                val = _numeric_filter_value(f.value)
                if val is not None:
                    clause = f"{col} {op} {val}"
        elif isinstance(f, In):
            col = ".".join(f.attribute)
            if field_types.get(col) in _NUMERIC_FT:
                vals = [_numeric_filter_value(v) for v in f.value]
                if vals and all(v is not None for v in vals):
                    clause = f"{col} in {{{' '.join(vals)}}}"
        elif isinstance(f, IsNotNull):
            clause = ".".join(f.attribute)
        if clause is not None:
            clauses.append(clause)
    if not clauses:
        return None, 0
    return " && ".join(f"({c})" for c in clauses), len(clauses)


class PcapReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.options = options
        # Spark passes exactly one path per load() arg — no comma-splitting
        # (a filename containing ',' must not become bogus globs). Expand as
        # a glob; a literal existing path that glob metachars would mangle
        # still matches itself. Empty matches error at partitions() time.
        pattern = str(options.get("path", ""))
        self.path_pattern = pattern
        if path_scheme(pattern) not in ("", "file"):
            # remote/memory scheme: no local glob — one literal path per
            # load() (remote listing is the catalog's job at scale)
            fs = filesystem_for(pattern)
            self.paths = [pattern] if fs.exists(pattern) else []
        else:
            self.paths = sorted(globmod.glob(pattern))
            if not self.paths and os.path.exists(pattern):
                self.paths = [pattern]
        self.climit = (
            int(options["climit"]) if options.get("climit") is not None else None
        )
        self.cfilter = options.get("cfilter") or None
        self.split_threshold = int(
            options.get("split_threshold", SPLIT_THRESHOLD_BYTES)
        )
        engine = options.get("engine", "auto")
        if engine == "auto":
            import shutil

            engine = "tshark" if shutil.which("tshark") else "native"
        self.engine = engine
        self.pushed_cfilter: str | None = None
        # test seams: reader construction happens inside Spark's Python
        # worker process (out of reach of driver-side monkeypatching), so
        # canned tshark output travels as a plain string option, and
        # `tshark_mock_engine=native` swaps the subprocess for
        # FakeTsharkRunner (native dissection of the argv's file — the
        # seam that exercises the split-tshark temp-capture path).
        self.mock_tsv = options.get("tshark_mock_tsv")
        self.mock_engine = options.get("tshark_mock_engine")

    # -- Catalyst integration ------------------------------------------------

    def pushFilters(self, filters: list[Filter]):
        """Translate superset-safe filters into a display filter (tshark
        engine only); return EVERY filter as unsupported so Spark re-applies
        them — the pushdown reduces dissected rows, it never owns
        correctness. Translation consults the glossary FT_* type per column
        so only provably-safe comparisons are pushed (see
        translate_filters_to_display)."""
        if self.engine == "tshark":
            field_types = {f.filter_name: f.field_type for f in load_fields()}
            pushed, _ = translate_filters_to_display(filters, field_types)
            self.pushed_cfilter = pushed
        return filters

    def partitions(self) -> list[PcapPartition]:
        """One partition per file; large single files additionally split by
        FIXED byte ranges under the native engine (the reference's ceiling
        is one thread on one file — cpp:126,180).

        The plan costs the driver os.path.getsize per file and nothing
        else — executors resync to the first record boundary inside their
        range (native.resync_offset). Round 1 walked every record header
        driver-side first: a full sequential pass of the capture before
        any executor started, i.e. a driver bottleneck at exactly the file
        sizes splitting targets."""
        if not self.paths:
            raise FileNotFoundError(
                f"read_pcap: no files match {self.path_pattern!r}"
            )
        parts: list[PcapPartition] = []
        for path in self.paths:
            fs = filesystem_for(path)
            # tshark can split too (round-3 VERDICT #3): executors extract
            # their byte-range slice into a standalone temp capture
            # (native.extract_slice, either format) and pipe a private
            # tshark over it — lifting the reference's one-file-one-process
            # ceiling (cpp:126,180) on the 3000-protocol path.
            splittable = self.engine in ("native", "tshark")
            if (
                splittable
                and self.climit is None
                and fs.exists(path)
                and fs.size(path) > self.split_threshold
            ):
                size = fs.size(path)
                n_splits = max(
                    MIN_SPLITS,
                    (size + TARGET_SPLIT_BYTES - 1) // TARGET_SPLIT_BYTES,
                )
                for start, end in native.byte_range_partitions(
                    path, n_splits, size=size
                ):
                    parts.append(PcapPartition(path, start, end, size))
            else:
                parts.append(PcapPartition(path))
        return parts

    # -- Execution -----------------------------------------------------------

    def read(self, partition: PcapPartition):
        names = [f.name for f in self.schema_.fields]
        dtypes = [f.dataType for f in self.schema_.fields]
        if self.engine == "native":
            yield from self._batches_native(partition, names)
        else:
            yield from self._batches_tshark(partition, names, dtypes)

    def _batches_native(self, partition: PcapPartition, names):
        yield from native_arrow_batches(
            self.schema_, partition.path, partition.start_byte,
            partition.end_byte, self.climit,
            size=getattr(partition, "file_size", None),
        )

    def _batches_tshark(self, partition: PcapPartition, names, dtypes):
        """Columnar tshark-path emission: TSV cells cast straight into
        per-column builders as each line parses — the same zero-row-tuple
        shape as _batches_native (round-2 VERDICT minor: the old path built
        row tuples, then transposed them into column lists, one whole copy
        of every batch for nothing)."""
        import pyarrow as pa

        aschema = _arrow_schema(self.schema_)

        def flush(cols):
            return pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, aschema)],
                schema=aschema,
            )

        def batches(lines):
            n_cols = len(names)
            cols: list[list] = [[] for _ in range(n_cols)]
            n = 0
            for line in lines:
                cells = parse_tsv_line(line, n_cols)
                if cells is None:
                    continue  # zero-field rows skipped (cpp:193)
                for col, cell, dtype in zip(cols, cells, dtypes):
                    col.append(cast_cell(cell.strip(), dtype))
                n += 1
                if n >= ARROW_BATCH_ROWS:
                    yield flush(cols)
                    cols = [[] for _ in range(n_cols)]
                    n = 0
            if n:
                yield flush(cols)

        if self.mock_tsv is not None:
            yield from batches(self.mock_tsv.split("\n"))
            return
        cfilter = self.cfilter
        if self.pushed_cfilter:
            cfilter = (
                f"({cfilter}) && ({self.pushed_cfilter})"
                if cfilter
                else self.pushed_cfilter
            )
        runner_cls = (
            FakeTsharkRunner if self.mock_engine == "native" else TsharkRunner
        )
        if partition.start_byte is None:
            argv = build_argv(partition.path, names, self.climit, cfilter)
            with runner_cls(argv) as lines:
                yield from batches(lines)
            return
        # Byte-range slice: extract the owned records into a standalone
        # temp mini-capture (original global header + verbatim record
        # bytes — native resync decides ownership), pipe tshark over it,
        # then rewrite tshark's slice-local frame.number ordinals into the
        # records' original-file byte offsets — the same globally unique
        # partition-invariant surrogate the native split path emits. The
        # rewrite keys on the EMITTED ordinal (not the row index), so a
        # display filter dropping rows cannot desynchronize it.
        import tempfile

        try:
            fn_idx = names.index("frame.number")
        except ValueError:
            fn_idx = None
        with tempfile.NamedTemporaryFile(suffix=".pcap") as tmp:
            offsets = native.extract_slice(
                partition.path, partition.start_byte, partition.end_byte,
                tmp.name,
            )
            if not offsets:
                return  # slice owns no records (e.g. unsplittable snaplen)
            argv = build_argv(tmp.name, names, self.climit, cfilter)

            def remap(lines):
                for line in lines:
                    if fn_idx is None:
                        yield line
                        continue
                    cells = line.split("\t")
                    if fn_idx < len(cells):
                        try:
                            ordinal = int(cells[fn_idx])
                            cells[fn_idx] = str(offsets[ordinal - 1])
                        except (ValueError, IndexError):
                            pass  # unparsable cell -> cast layer nulls it
                    yield "\t".join(cells)

            with runner_cls(argv) as lines:
                yield from batches(remap(lines))


def _package_zip(pkg_dir: str, out_dir: str) -> str:
    """Zip the ``.py`` files under ``pkg_dir`` as package
    ``wireduck_spark`` into ``out_dir`` and return the zip's path.

    The name carries a hash of every file's relative path and bytes, so
    an edited tree gets a new zip and an unchanged one reuses its zip.
    Workers put the shipped zip ahead of PYTHONPATH, so a zip left over
    from older code would run that code in every worker."""
    files = sorted(
        os.path.relpath(os.path.join(root, fn), pkg_dir)
        for root, _dirs, names in os.walk(pkg_dir)
        for fn in names if fn.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel in files:
        with open(os.path.join(pkg_dir, rel), "rb") as fh:
            data = fh.read()
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    zip_path = os.path.join(
        out_dir, f"wireduck_spark-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel in files:
                zf.write(os.path.join(pkg_dir, rel),
                         os.path.join("wireduck_spark", rel))
        os.replace(tmp, zip_path)
    return zip_path


def _ship_package(spark) -> None:
    """Make wireduck_spark importable inside Spark's Python workers.

    The DataSource class is cloudpickled BY REFERENCE (import path), so
    executor-side workers must be able to `import wireduck_spark` — true
    on a cluster only if the package is distributed. addPyFile ships a
    zip of the package to every executor (works in local mode too, and is
    exactly how this deploys on a 1000-executor cluster)."""
    import wireduck_spark

    pkg_dir = os.path.dirname(os.path.abspath(wireduck_spark.__file__))
    zip_path = _package_zip(pkg_dir, tempfile.gettempdir())
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this session


def register(spark) -> None:
    """Idempotently register the `pcap` data source on a session."""
    _ship_package(spark)
    try:
        # required for PcapReader.pushFilters to be honored
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    try:
        spark.dataSource.register(PcapDataSource)
    except Exception:
        pass  # already registered


def read_pcap(
    spark,
    path: str,
    protocols: list[str] | str | None = None,
    climit: int | None = None,
    cfilter: str | None = None,
    engine: str = "auto",
):
    """Convenience twin of the reference's read_pcap(...) table function.

    climit semantics: the reference is single-file, so its `-c N` is a
    global cap. Here the option is pushed per file/partition as a
    row-reduction (each tshark subprocess gets `-c N`; the native reader
    stops after N per partition) and a global `df.limit(N)` on top
    guarantees the reference's meaning across multi-file globs — round-1
    ADVICE: per-partition alone returned up to N*n_files rows.
    """
    register(spark)
    reader = spark.read.format("pcap").option("engine", engine)
    if protocols:
        if isinstance(protocols, (list, tuple)):
            protocols = ",".join(protocols)
        reader = reader.option("protocols", protocols)
    if climit is not None:
        reader = reader.option("climit", str(climit))
    if cfilter:
        reader = reader.option("cfilter", cfilter)
    df = reader.load(path)
    if climit is not None:
        df = df.limit(climit)
    return df
