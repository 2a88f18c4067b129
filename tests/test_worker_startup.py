"""Python worker start-up: the stat-checked zip-directory cache that
``wireduck_spark/__init__.py`` installs in Spark Python workers, and the
content-named package zip that ``pcap._ship_package`` ships to them."""

import importlib
import os
import shutil
import sys
import zipfile
import zipimport

import pytest

import wireduck_spark
from wireduck_spark.sources.pcap import PcapDataSource, PcapReader, _package_zip
from tests.pcap_fixtures import two_flow_pcap


def _write_zip(path, files):
    """Write ``files`` ({name in zip: source}) and move it over ``path``."""
    tmp = path + ".new"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zip_reads(monkeypatch):
    """Install the wrapper for this test only; record every archive
    ``zipimport._read_directory`` parses."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert wireduck_spark._install_zip_directory_cache()
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive holding package ``zc_pkg`` on sys.path; the package and
    its importers are dropped again after the test."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == "zc_pkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_zip_is_not_reparsed(zip_reads, zip_on_path):
    assert importlib.import_module("zc_pkg.a").A == 1
    # one importer for the archive, one for the package inside it
    importers = [f for k, f in sys.path_importer_cache.items()
                 if k.startswith(zip_on_path)]
    assert len(importers) == 2
    importlib.invalidate_caches()  # first read under the wrapper
    zip_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in zip_reads
    for f in importers:
        assert f._files is zipimport._zip_directory_cache[zip_on_path]
    # installing again does not wrap twice
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wireduck_spark._install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_replaced_zip_is_reparsed(zip_reads, zip_on_path):
    importlib.import_module("zc_pkg.a")
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zc_pkg/__init__.py": "",
                             "zc_pkg/a.py": "A = 1\n",
                             "zc_pkg/b.py": "B = 2\n"})
    zip_reads.clear()
    importlib.invalidate_caches()
    assert zip_on_path in zip_reads
    assert importlib.import_module("zc_pkg.b").B == 2


def test_no_wrapper_without_eager_zipimport(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.delattr(zipimport, "_read_directory")
    assert not wireduck_spark._install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is original


def test_wrapper_active_in_scan_task_not_in_driver(spark, tmp_path):
    def active():
        import zipimport

        return getattr(zipimport.zipimporter.invalidate_caches,
                       "_stat_checked", False)

    # defined locally, so both classes ship to the workers by value
    class ProbeReader(PcapReader):
        def read(self, partition):
            if not active():
                raise RuntimeError("zip cache not installed in scan task")
            yield from PcapReader.read(self, partition)

    class ProbeSource(PcapDataSource):
        @classmethod
        def name(cls):
            return "pcap_zip_probe"

        def reader(self, schema):
            if not active():
                raise RuntimeError("zip cache not installed in planner")
            return ProbeReader(schema, dict(self.options))

    path = str(tmp_path / "two_flow.pcap")
    with open(path, "wb") as fh:
        fh.write(two_flow_pcap())
    wireduck_spark.init(spark)
    spark.dataSource.register(ProbeSource)
    n = spark.read.format("pcap_zip_probe").load(path).count()
    assert n == spark.read.format("pcap").load(path).count() > 0
    assert not active()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_package_zip_is_named_by_content(tmp_path):
    tree_a = tmp_path / "a"
    (tree_a / "sub").mkdir(parents=True)
    (tree_a / "__init__.py").write_bytes(b"X = 1\n")
    (tree_a / "sub" / "m.py").write_bytes(b"Y = 2\n")
    (tree_a / "notes.txt").write_bytes(b"not shipped\n")
    tree_b = tmp_path / "b"
    shutil.copytree(tree_a, tree_b)
    (tree_b / "sub" / "m.py").write_bytes(b"Y = 3\n")
    out = tmp_path / "out"
    out.mkdir()

    zip_a = _package_zip(str(tree_a), str(out))
    zip_b = _package_zip(str(tree_b), str(out))
    assert os.path.basename(zip_a) != os.path.basename(zip_b)
    assert _package_zip(str(tree_a), str(out)) == zip_a
    with zipfile.ZipFile(zip_b) as zf:
        assert sorted(zf.namelist()) == ["wireduck_spark/__init__.py",
                                         "wireduck_spark/sub/m.py"]
        assert zf.read("wireduck_spark/sub/m.py") == b"Y = 3\n"
    with zipfile.ZipFile(zip_a) as zf:
        assert zf.read("wireduck_spark/sub/m.py") == b"Y = 2\n"
