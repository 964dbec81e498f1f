"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and spark-submit
jobs share one configuration: AQE on (runtime skew-join splitting and
partition coalescing), Arrow on (every Python-side kernel is an Arrow
batch, never per-row), explicit shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from topo_descriptors_spark.sources.io import MAX_PARTITION_BYTES


def get_spark(
    app_name: str = "topo-descriptors-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset).  On a real cluster, pass ``master=None`` and let
    spark-submit decide — every other setting below is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime coalescing of tiny shuffle partitions
        # and automatic skew-join splitting — both essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All JVM<->Python traffic is Arrow-batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(MAX_PARTITION_BYTES))
        # Broadcast joins for small dims (kernel/stopword/marker tables).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable by Python WORKERS, not just the driver.

    Arrow kernel closures (tiles, packed, multimodal, streaming state)
    reference package modules, and cloudpickle serializes module-level
    functions BY REFERENCE — a worker that cannot ``import
    topo_descriptors_spark`` fails mid-task with ModuleNotFoundError.
    On a real cluster ``spark-submit --py-files`` ships the package (the
    deployment shape this engine documents); this covers every other
    entry point — a driver that merely put the repo on ``sys.path``
    (tests, notebooks, scripts run from another cwd) — by zipping the
    installed package once and ``addPyFile``-ing it, which distributes
    to workers in ANY master mode.  No-op when already shipped, when
    spark-submit --py-files already distributed the package, or when
    the package is on the workers' import path anyway.  The zip is
    cached under a per-user temp dir keyed by a content fingerprint
    (hash of every packed file's path, mtime_ns and size), so repeated
    sessions reuse it and an edited package rebuilds it (ADVICE r6:
    the old mkdtemp-per-session left one orphan dir per SparkSession).
    Concurrency (ADVICE r7): a peer process may prune "stale" zips at
    any moment, so every unlink tolerates already-gone/foreign files,
    pruning skips zips younger than an hour, and addPyFile retries
    once through a rebuild if its zip vanished under it.
    """
    sc = spark.sparkContext
    if getattr(sc, "_tds_pkg_shipped", False):
        return

    if _pyfiles_has_package(sc.getConf().get("spark.submit.pyFiles", "")):
        sc._tds_pkg_shipped = True
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # imported from a zip/egg: under spark-submit --py-files the
        # archive is already on every worker's path; when the driver
        # merely put the zip on sys.path itself, ship that same zip
        arch = pkg_dir
        while arch and not os.path.isfile(arch):
            arch = os.path.dirname(arch)
        if arch and not _pyfiles_has_package(
                sc.getConf().get("spark.submit.pyFiles", ""),
                extra_basename=os.path.basename(arch)):
            sc.addPyFile(arch)
        sc._tds_pkg_shipped = True
        return
    zip_path = _build_package_zip(pkg_dir)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        # a concurrent session's stale-prune may have unlinked the zip
        # between our rename and the JVM's copy — rebuild once and retry
        if os.path.isfile(zip_path):
            raise
        sc.addPyFile(_build_package_zip(pkg_dir))
    sc._tds_pkg_shipped = True


def _pyfiles_has_package(pyfiles: str, extra_basename: str | None = None) -> bool:
    """True when spark.submit.pyFiles already distributes THIS package.

    Parses the comma-separated list and compares archive stems exactly
    (``topo_descriptors_spark`` or a fingerprint-tagged
    ``topo_descriptors_spark_<tag>``) instead of raw substring matching,
    so a sibling ``topo_descriptors_spark_plugins.zip`` that does NOT
    contain the package no longer suppresses shipping (ADVICE r7).
    """
    import re

    names = {"topo_descriptors_spark"}
    if extra_basename:
        names.add(re.sub(r"\.(zip|egg|whl)$", "", extra_basename))
    for entry in pyfiles.split(","):
        entry = entry.strip()
        if not entry:
            continue
        stem = re.sub(r"\.(zip|egg|whl)$", "", os.path.basename(entry))
        if stem in names or re.fullmatch(
                r"topo_descriptors_spark_[0-9a-f]{16}", stem):
            return True
    return False


def _build_package_zip(pkg_dir: str) -> str:
    """Zip ``pkg_dir`` into the per-user cache; return the cached path."""
    import getpass
    import hashlib
    import shutil
    import tempfile
    import time

    # content fingerprint: cheap stat walk, no file reads — hash of every
    # packed file's (relpath, mtime_ns, size) so ANY change to ANY file
    # make_archive would pack (not just .py, not just same-second edits)
    # invalidates the cache (ADVICE r7).
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".pyc") or "__pycache__" in root:
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            h.update(
                f"{os.path.relpath(p, pkg_dir)}\0{st.st_mtime_ns}\0"
                f"{st.st_size}\n".encode())
    tag = h.hexdigest()[:16]
    # per-user, 0700 cache dir: on a multi-user host another user's files
    # can neither crash our prune (PermissionError) nor pre-plant a
    # spoofed zip at a predictable path (ADVICE r7).
    try:
        user = getpass.getuser()
    except Exception:
        user = str(os.getuid())
    cache = os.path.join(tempfile.gettempdir(), f"tds_pyfiles_cache_{user}")
    os.makedirs(cache, mode=0o700, exist_ok=True)
    # enforce the per-user claim on a PRE-EXISTING dir too (ADVICE r8):
    # makedirs(exist_ok=True) neither fixes permissions nor checks
    # ownership, so an attacker who pre-created the predictable path
    # world-writable could swap the zip between os.replace and the
    # JVM's addPyFile copy.  Verify owner, force 0700, and fall back to
    # a private mkdtemp (no reuse, but safe) when the dir cannot be
    # claimed.
    try:
        st = os.stat(cache)
        if st.st_uid != os.getuid():
            raise OSError("cache dir owned by another user")
        if (st.st_mode & 0o777) != 0o700:
            os.chmod(cache, 0o700)
    except OSError:
        cache = tempfile.mkdtemp(prefix="tds_pyfiles_")
    zip_path = os.path.join(cache, f"topo_descriptors_spark_{tag}.zip")
    if not os.path.isfile(zip_path):
        now = time.time()
        for old in os.listdir(cache):  # stale fingerprints + dead builds
            # _build_* temp archives from a crashed build are pruned on
            # the same 1-hour threshold (ADVICE r8: they leaked forever)
            if not old.startswith(("topo_descriptors_spark_", "_build_")):
                continue
            p = os.path.join(cache, old)
            try:
                # skip recent zips: a live peer session may be between
                # its os.replace and sc.addPyFile right now
                if now - os.stat(p).st_mtime < 3600:
                    continue
                os.unlink(p)
            except OSError:
                pass  # peer pruned it first, or foreign perms — harmless
        # zip with the package as the archive root so workers import it
        # flat; build under a unique name (pid + random suffix: a
        # recycled pid must not race two builds onto one temp path,
        # ADVICE r8) then rename atomically so concurrent sessions
        # never addPyFile a half-written zip
        import uuid

        tmp = shutil.make_archive(
            os.path.join(cache, f"_build_{os.getpid()}_{uuid.uuid4().hex[:8]}"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        os.replace(tmp, zip_path)
    return zip_path
