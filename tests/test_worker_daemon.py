"""The archive-free Python worker daemon (engine/pyworker.py) and the
build_session guard that selects it."""

import os
import sys
import zipfile
import zipimport

from fruits_spark.engine import pyworker as PW
from fruits_spark.engine.session import worker_daemon_conf

PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(PW.__file__)))
DAEMON = "fruits_spark.engine.pyworker"


def _pkg_files(pkg, version):
    return {f"{pkg}/__init__.py": "",
            f"{pkg}/version.py": f"__version__: str = '{version}'\n"}


def _archive(path, pkg, version):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in _pkg_files(pkg, version).items():
            z.writestr(name, src)
    return str(path)


def _site(root, **versions):
    for pkg, version in versions.items():
        for name, src in _pkg_files(pkg, version).items():
            f = root / name
            f.parent.mkdir(parents=True, exist_ok=True)
            f.write_text(src)
    return str(root)


def _layout(root, pyspark="4.1.2", py4j="0.10.9.9"):
    """[pyspark zip, py4j zip, jar, stdlib-like dir, site dir] under a
    new dir ``root``: the archives at 4.1.2 / 0.10.9.9, the site copies
    at the given versions (None leaves the package out)."""
    std = root / "std"
    std.mkdir(parents=True)
    jar = root / "core.jar"
    jar.write_bytes(b"")
    site = {k: v for k, v in (("pyspark", pyspark), ("py4j", py4j)) if v}
    return [
        _archive(root / "pyspark.zip", "pyspark", "4.1.2"),
        _archive(root / "py4j-src.zip", "py4j", "0.10.9.9"),
        str(jar),
        str(std),
        _site(root / "site", **site),
    ]


def test_archives_dropped_when_both_resolve_elsewhere(tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "path_importer_cache", {})
    path = _layout(tmp_path / "a")
    before = list(path)
    assert PW.archive_free_path(path) == path[3:]
    assert path == before  # the input is not mutated


def test_archives_kept_on_version_mismatch(tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "path_importer_cache", {})
    path = _layout(tmp_path / "a", pyspark="4.0.0")
    assert PW.archive_free_path(path) == path
    path = _layout(tmp_path / "b", py4j="0.10.9.7")
    assert PW.archive_free_path(path) == path


def test_archives_kept_when_a_package_is_only_archived(tmp_path,
                                                       monkeypatch):
    monkeypatch.setattr(sys, "path_importer_cache", {})
    path = _layout(tmp_path / "a", py4j=None)
    assert PW.archive_free_path(path) == path
    path = _layout(tmp_path / "b", pyspark=None)
    assert PW.archive_free_path(path) == path


def test_drop_archives_leaves_no_zipimporter(tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "path_importer_cache", {})
    path = _layout(tmp_path / "a")
    monkeypatch.setattr(sys, "path", list(path))
    sys.path_importer_cache[path[0]] = zipimport.zipimporter(path[0])
    PW.drop_archives()
    assert sys.path == path[3:]
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())


def test_drop_archives_keeps_path_on_mismatch(tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "path_importer_cache", {})
    path = _layout(tmp_path / "a", pyspark="4.0.0")
    monkeypatch.setattr(sys, "path", list(path))
    PW.drop_archives()
    assert sys.path == path


def test_daemon_conf_local_master_from_directory():
    conf = worker_daemon_conf("local[4]", PKG_DIR)
    root = os.path.dirname(PKG_DIR)
    assert conf == {"spark.python.daemon.module": DAEMON,
                    "spark.executorEnv.PYTHONPATH": root}
    conf = worker_daemon_conf("local[4]", PKG_DIR, "/srv/deps")
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [root, "/srv/deps"])


def test_daemon_conf_stock_for_cluster_master_or_zipped_package(tmp_path):
    for master in ("spark://host:7077", "yarn", "k8s://https://h:443"):
        assert worker_daemon_conf(master, PKG_DIR) == {}
    zipped = os.path.join(str(tmp_path), "fruits_spark.zip", "fruits_spark")
    assert worker_daemon_conf("local[4]", zipped) == {}


def test_tasks_run_without_archives(spark):
    """A Python task sees no .zip/.jar on sys.path and has no
    zipimporter cached, so invalidate_caches re-reads no archive."""
    assert spark.conf.get("spark.python.daemon.module") == DAEMON

    def probe(it):
        import sys
        import pandas as pd

        for _ in it:
            pass
        types = sorted({type(f).__name__
                        for f in sys.path_importer_cache.values()})
        yield pd.DataFrame({"path": [list(sys.path)], "types": [types]})

    row = spark.range(1).mapInPandas(
        probe, "path array<string>, types array<string>").collect()[0]
    assert row.path and not [p for p in row.path
                             if p.endswith((".zip", ".jar"))]
    assert "zipimporter" not in row.types
