"""Session package-shipping hardening (ADVICE r7).

Pure-function tests for the zip-cache machinery in ``session.py`` —
no SparkSession needed: ``_pyfiles_has_package`` parsing and the
``_build_package_zip`` fingerprint/concurrency behavior are what the
advice items targeted, and both are testable with tmp dirs alone.
The last test drives the shipped zip end to end in a fresh Python
process whose import path lacks the package.
"""

import os
import zipfile

import pytest

from topo_descriptors_spark.session import (
    _build_package_zip,
    _pyfiles_has_package,
)


# ---------------------------------------------------------------------------
# _pyfiles_has_package: exact archive-stem parsing, not substring match
# ---------------------------------------------------------------------------

def test_pyfiles_exact_name_matches():
    assert _pyfiles_has_package("/x/topo_descriptors_spark.zip")
    assert _pyfiles_has_package(
        "/a/dep.zip,/b/topo_descriptors_spark.egg,/c/other.zip")


def test_pyfiles_fingerprint_tagged_name_matches():
    assert _pyfiles_has_package(
        "/tmp/tds/topo_descriptors_spark_0123456789abcdef.zip")


def test_pyfiles_sibling_project_does_not_suppress_shipping():
    # the r7 advice case: a zip whose name merely CONTAINS the package
    # name must not be treated as the package
    assert not _pyfiles_has_package("/x/topo_descriptors_spark_plugins.zip")
    assert not _pyfiles_has_package("/x/my_topo_descriptors_spark.zip")
    assert not _pyfiles_has_package("")
    assert not _pyfiles_has_package("/a/dep.zip, /b/util.egg")


def test_pyfiles_extra_basename():
    assert _pyfiles_has_package(
        "/w/bundle.zip", extra_basename="bundle.zip")
    assert not _pyfiles_has_package(
        "/w/bundle2.zip", extra_basename="bundle.zip")


# ---------------------------------------------------------------------------
# _build_package_zip: per-user cache, content fingerprint, safe pruning
# ---------------------------------------------------------------------------

@pytest.fixture
def fake_pkg(tmp_path, monkeypatch):
    pkg = tmp_path / "topo_descriptors_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("x = 1\n")
    (pkg / "mod.py").write_text("def f():\n    return 2\n")
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    # tempfile caches gettempdir(); force re-read
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", None)
    return pkg


def test_build_zip_roundtrip_and_cache_reuse(fake_pkg):
    z1 = _build_package_zip(str(fake_pkg))
    assert os.path.isfile(z1)
    assert os.path.basename(z1).startswith("topo_descriptors_spark_")
    with zipfile.ZipFile(z1) as zf:
        names = zf.namelist()
    assert "topo_descriptors_spark/mod.py" in names
    # unchanged package → identical cached path, same inode (no rebuild)
    ino = os.stat(z1).st_ino
    z2 = _build_package_zip(str(fake_pkg))
    assert z2 == z1 and os.stat(z2).st_ino == ino


def test_build_zip_fingerprint_tracks_any_file_change(fake_pkg):
    z1 = _build_package_zip(str(fake_pkg))
    # same total .py byte count, same second, different content — the r7
    # advice case the old (max-mtime-seconds, sum-size) tag missed; also
    # a NON-.py resource change must invalidate (make_archive packs it)
    (fake_pkg / "mod.py").write_text("def f():\n    return 3\n")
    z2 = _build_package_zip(str(fake_pkg))
    assert z2 != z1
    (fake_pkg / "data.txt").write_text("resource\n")
    z3 = _build_package_zip(str(fake_pkg))
    assert z3 not in (z1, z2)
    with zipfile.ZipFile(z3) as zf:
        assert "topo_descriptors_spark/data.txt" in zf.namelist()


def test_cache_dir_is_per_user_and_private(fake_pkg):
    z = _build_package_zip(str(fake_pkg))
    cache = os.path.dirname(z)
    import getpass

    assert getpass.getuser() in os.path.basename(cache)
    assert os.stat(cache).st_mode & 0o777 == 0o700


def test_prune_skips_recent_and_tolerates_vanished(fake_pkg):
    import time

    z1 = _build_package_zip(str(fake_pkg))
    cache = os.path.dirname(z1)
    # a RECENT peer zip (another live session's) must survive pruning
    recent = os.path.join(cache, "topo_descriptors_spark_" + "e" * 16 + ".zip")
    with open(recent, "wb") as f:
        f.write(b"peer")
    # an OLD stale zip must be pruned without crashing even if a peer
    # races us (simulated by it simply being unlinkable-once: we just
    # verify no exception and that old goes, recent stays)
    old = os.path.join(cache, "topo_descriptors_spark_" + "f" * 16 + ".zip")
    with open(old, "wb") as f:
        f.write(b"stale")
    past = time.time() - 7200
    os.utime(old, (past, past))
    (fake_pkg / "mod.py").write_text("def f():\n    return 4\n")
    _build_package_zip(str(fake_pkg))
    assert os.path.isfile(recent)
    assert not os.path.isfile(old)


# ------------------------------------------ package shipping end to end


def test_arrow_kernels_run_without_package_on_worker_path(tmp_path):
    """Workers must not need the repo on their import path: get_spark
    auto-ships the package zip (cloudpickle serializes module-level
    kernel helpers BY REFERENCE — pre-fix this died mid-task with
    ModuleNotFoundError whenever the working directory wasn't the repo)."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from topo_descriptors_spark import get_spark\n"
        "from topo_descriptors_spark.operators import tiles as T\n"
        "from pyspark.sql import functions as F\n"
        "spark = get_spark('iso-pin', master='local[2]', shuffle_partitions=4)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "g = spark.range(256).select((F.col('id')/16).cast('int').alias('y'),"
        " F.pmod(F.col('id'), F.lit(16)).cast('int').alias('x'),"
        " (F.col('id')*1.0).alias('value'))\n"
        "assert T.tpi_2d(g, (16, 16), size=5, tile_size=8).count() == 256\n"
        "print('ISO-OK')\n" % repo
    )
    env = {k: v for k, v in __import__("os").environ.items()
           if k != "PYTHONPATH"}  # the env var would mask the bug
    r = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                       env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "ISO-OK" in r.stdout
