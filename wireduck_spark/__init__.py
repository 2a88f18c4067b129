"""wireduck_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the wireduck reference (a DuckDB extension
that exposes PCAP captures as SQL tables; see /root/reference, SURVEY.md).

Architecture (Spark-first, not a port):

- ``sources/``    — the ``pcap`` Python Data Source (PySpark 4 DataSource
                    API): native libpcap dissection + optional tshark-backed
                    full dissection, glossary catalog, FT_* type mapping.
- ``operators/``  — the host-delegated relational surface (SURVEY.md §2
                    Tier B) expressed as declarative DataFrame/SQL builders,
                    each paired with a DuckDB oracle query.
- ``functions/``  — training-data-pipeline operators: dedup (exact/minhash/
                    simhash/jaccard/embedding), similarity search, text
                    analysis, multimodal column plumbing.
- ``streaming/``  — Structured Streaming analogues (watermarked windows,
                    pcap directory tailing).

Everything is built on the public PySpark 4.x API; physical execution is
delegated to Catalyst/Tungsten (AQE on, broadcast joins for small dims,
partition-count tuned via ``session.get_spark``).
"""

import os as _os
import sys as _sys

# Make this package importable inside Spark's Python WORKER processes no
# matter where the driver process was launched from. Workers inherit the
# driver's PYTHONPATH env var, not its sys.path mutations — a driver that
# did `sys.path.insert(0, repo)` from a foreign cwd (the graded driver,
# tools/driver_sim.py) can build every plan, but any query that ships a
# module-level Pandas-UDF helper (functions/multimodal.py's decode UDFs)
# then dies in the worker's unpickle with ModuleNotFoundError. Exporting
# the package parent onto PYTHONPATH at import time — which by definition
# happens before any SparkSession (and thus any worker) exists — closes
# the gap for every launch mode.
_pkg_parent = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
if _pkg_parent not in _os.environ.get("PYTHONPATH", "").split(_os.pathsep):
    _os.environ["PYTHONPATH"] = (
        _pkg_parent + _os.pathsep + _os.environ["PYTHONPATH"]
        if _os.environ.get("PYTHONPATH") else _pkg_parent
    )


def _install_zip_directory_cache() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the file changed. Returns whether the stat-checked form is active.

    A Spark Python worker runs ``importlib.invalidate_caches()`` before
    every task and every data-source planner call. CPython 3.11's eager
    zipimporter answers that by re-parsing the archive's whole central
    directory, once per cached importer: ~17 importers into pyspark.zip
    (1,328 entries) cost 130-190 ms per task on a 4-vCPU VM before the
    task's own code runs. The wrapper keys each archive by ``(st_ino,
    st_mtime_ns, st_size)`` at its last read; on a match it re-attaches
    the directory already in ``zipimport._zip_directory_cache``,
    otherwise (a zip rewritten in place or replaced) it re-reads exactly
    as before.
    Only the eager form is wrapped: it has ``_read_directory`` and
    ``_zip_directory_cache`` and no lazy ``_get_files``."""
    import zipimport

    cache = getattr(zipimport, "_zip_directory_cache", None)
    if (cache is None or not hasattr(zipimport, "_read_directory")
            or hasattr(zipimport.zipimporter, "_get_files")):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_checked", False):
        return True
    read_at: dict = {}  # archive -> stat key when its directory was read

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = cache.get(self.archive)
        if (key is not None and files is not None
                and read_at.get(self.archive) == key):
            self._files = files
            return
        reread(self)
        if key is not None and self.archive in cache:
            read_at[self.archive] = key
        else:
            read_at.pop(self.archive, None)

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


# Only inside a Spark Python worker (task or planner): pyspark's
# setup_spark_files marks the process before it unpickles the command
# that imports this package. The driver's zipimport is left alone.
_spark_files = _sys.modules.get("pyspark.core.files")
if _spark_files is not None and getattr(
        _spark_files.SparkFiles, "_is_running_on_worker", False):
    _install_zip_directory_cache()

from wireduck_spark.registry import QUERIES, load_all_queries
from wireduck_spark.sources.glossary import (
    check_tshark_installed,
    initialize_glossary,
)
from wireduck_spark.sources.pcap import PcapDataSource, read_pcap
from wireduck_spark.sources.pcap import register as register_pcap_source

__version__ = "0.1.0"


def init(spark) -> None:
    """One-call setup (reference `LOAD wireduck` parity, cpp:476-504):
    glossary cache + temp views, `pcap` data source registration, and the
    `check_tshark_installed()` SQL function (reference cpp:455-461 — so
    `SELECT check_tshark_installed()` works verbatim)."""
    initialize_glossary(spark)
    register_pcap_source(spark)
    from pyspark.sql.types import BooleanType

    # spark.udf.register replaces an existing registration, so this is
    # idempotent by itself; a genuine failure (broken session, py4j error)
    # must propagate — the old blanket `except Exception: pass` here could
    # leave the documented SQL function silently missing (round-2 ADVICE).
    spark.udf.register(
        "check_tshark_installed",
        lambda: check_tshark_installed(),
        BooleanType(),
    )


__all__ = [
    "QUERIES",
    "PcapDataSource",
    "check_tshark_installed",
    "init",
    "initialize_glossary",
    "load_all_queries",
    "read_pcap",
    "register_pcap_source",
    "__version__",
]
