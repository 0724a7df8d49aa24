"""Python workers run the installed, bytecode-cached pyspark
(``sparkplans.worker_daemon``), and fall back to Spark's zip archives
whenever the installed copy is not the same release."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from sparkplans import worker_daemon
from sparkplans.session import _PACKAGE_ROOT, _worker_daemon_conf


def test_workers_run_installed_pyspark(spark):
    """Every worker of the shared ``local[8]`` session loads pyspark
    from site-packages and holds no zip importer, so the per-task
    ``importlib.invalidate_caches()`` re-reads no archive; the job's
    rows are unchanged."""

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for b in batches:
            yield b.assign(
                doubled=b["id"] * 2,
                zip_pyspark=int("zip" in pyspark.__file__),
                zipimporters=zips,
            )

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(probe, "id long, doubled long, zip_pyspark int, zipimporters int")
        .collect()
    )
    assert sorted((r.id, r.doubled) for r in rows) == [(i, 2 * i) for i in range(64)]
    assert {(r.zip_pyspark, r.zipimporters) for r in rows} == {(0, 0)}


_PYSPARK = {
    "pyspark/__init__.py": "from pyspark.version import __version__\n",
    "pyspark/version.py": '__version__: str = "4.1.2"\n',
    "pyspark/worker.py": "def main(infile, outfile):\n    pass\n",
}
_PY4J = {
    "py4j/__init__.py": "",
    "py4j/version.py": '__version__ = "0.10.9.9"\n',
}


def _layout(tmp_path, installed=None):
    """Spark's archives plus a site directory holding *installed*
    (name -> source), as a worker's sys.path and importer cache."""
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    site.mkdir()
    archives = {"pyspark": str(lib / "pyspark.zip"), "py4j": str(lib / "py4j-0.10.9.9-src.zip")}
    for package, files in (("pyspark", _PYSPARK), ("py4j", _PY4J)):
        with zipfile.ZipFile(archives[package], "w") as zf:
            for name, src in files.items():
                zf.writestr(name, src)
            if package == "pyspark":
                # a test module the pip release leaves out
                zf.writestr("pyspark/tests/test_only_in_zip.py", "")
    for name, src in (installed if installed is not None else {**_PYSPARK, **_PY4J}).items():
        (site / name).parent.mkdir(parents=True, exist_ok=True)
        (site / name).write_text(src)
    path = [archives["pyspark"], archives["py4j"], str(lib / "spark-core_2.13-4.1.2.jar"), str(site)]
    cache = {p: zipimport.zipimporter(p) for p in archives.values()}
    cache[str(site)] = None
    return path, cache, str(site)


def test_same_release_drops_archives(tmp_path):
    path, cache, site = _layout(tmp_path)
    assert worker_daemon.use_installed_pyspark(path, cache)
    assert path == [site]
    assert cache == {site: None}


@pytest.mark.parametrize(
    "installed",
    [
        pytest.param({**_PYSPARK, "pyspark/version.py": '__version__: str = "4.1.1"\n', **_PY4J}, id="version"),
        pytest.param({**_PYSPARK, "pyspark/worker.py": "def main(i, o):\n    pass\n", **_PY4J}, id="crc"),
        pytest.param({**_PY4J, "py4j/version.py": '__version__ = "0.10.9.7"\n', **_PYSPARK}, id="py4j"),
        pytest.param(_PY4J, id="no-installed-pyspark"),
    ],
)
def test_mismatch_leaves_path_and_cache(tmp_path, installed):
    path, cache, _ = _layout(tmp_path, installed)
    path0, cache0 = list(path), dict(cache)
    assert not worker_daemon.use_installed_pyspark(path, cache)
    assert path == path0
    assert cache == cache0


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://host:443"])
def test_daemon_module_only_on_local_masters(master):
    assert _worker_daemon_conf(master) == {}


def test_local_masters_get_daemon_module_and_path():
    for master in ("local[8]", "local-cluster[2,1,1024]"):
        conf = _worker_daemon_conf(master, os.pathsep.join(["/elsewhere", _PACKAGE_ROOT]))
        assert conf["spark.python.daemon.module"] == "sparkplans.worker_daemon"
        assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([_PACKAGE_ROOT, "/elsewhere"])
