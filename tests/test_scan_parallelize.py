"""r9 optimization internals: scan parallelization (sources/io.read_table)
and input-sized state partitions for the streaming gate drains.

A 1-row-group parquet file can feed exactly one non-empty scan task, so
every scan-stage expression serializes on one core (guide §2.5
"unsplittable input").  read_table round-robin repartitions such inputs
to factor x defaultParallelism — results are the same rows, only the
physical layout changes.
"""

from __future__ import annotations

import os

import pandas as pd

from topo_descriptors_spark.config import CFG
from topo_descriptors_spark.sources import io as tio


def _write_single_rowgroup(spark, path: str, n_rows: int) -> None:
    # incompressible payload so the on-disk size clears the
    # scan_repartition_min_bytes floor at realistic row counts
    import numpy as np

    rng = np.random.default_rng(42)
    pdf = pd.DataFrame({
        "k": range(n_rows),
        "v": [rng.bytes(64).hex() for _ in range(n_rows)],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)


def test_small_single_rowgroup_input_is_repartitioned(spark, tmp_path):
    base = str(tmp_path)
    _write_single_rowgroup(spark, os.path.join(base, "t.parquet"), 20_000)
    tio._SCAN_META.clear()
    df = tio.read_table(spark, base, "t")
    target = spark.sparkContext.defaultParallelism
    # slice count = factor x cores, capped by the per-slice row floor
    expected = min(
        CFG.scan_repartition_factor * target,
        20_000 // CFG.scan_repartition_min_rows_per_slice,
    )
    assert df.rdd.getNumPartitions() == expected
    # same rows, only layout changed
    assert df.count() == 20_000
    assert "Exchange RoundRobinPartitioning" in (
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_tiny_dim_is_left_alone(spark, tmp_path):
    base = str(tmp_path)
    _write_single_rowgroup(spark, os.path.join(base, "dim.parquet"), 10)
    tio._SCAN_META.clear()
    df = tio.read_table(spark, base, "dim")
    # below scan_repartition_min_bytes: no exchange added
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_row_floor_skips_small_tables(spark, tmp_path):
    """A table with too few rows for >= min_slices slices of
    >= min_rows_per_slice rows each is left alone even when it clears
    the byte floor (the sf0.1-embeddings sliver regression, r9)."""
    base = str(tmp_path)
    _write_single_rowgroup(spark, os.path.join(base, "t.parquet"), 2_000)
    tio._SCAN_META.clear()
    total, _rg, n_rows = tio._parquet_meta(
        os.path.join(base, "t.parquet"), big_cutoff=10**12)
    assert total >= CFG.scan_repartition_min_bytes  # byte floor cleared
    assert (n_rows // CFG.scan_repartition_min_rows_per_slice
            < CFG.scan_repartition_min_slices)
    df = tio.read_table(spark, base, "t")
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_factor_zero_disables(spark, tmp_path, monkeypatch):
    base = str(tmp_path)
    _write_single_rowgroup(spark, os.path.join(base, "t.parquet"), 20_000)
    tio._SCAN_META.clear()
    monkeypatch.setattr(CFG, "scan_repartition_factor", 0)
    df = tio.read_table(spark, base, "t")
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    tio._SCAN_META.clear()


def test_big_input_short_circuits_footer_reads(tmp_path):
    """Inputs past the cutoff never read footers (driver does no data
    work for a decision that cannot fire) — sentinel row-group count."""
    p = str(tmp_path / "big.parquet")
    with open(p, "wb") as fh:
        fh.write(b"\0" * 4096)
    total, n_rg, n_rows = tio._parquet_meta(p, big_cutoff=1024)
    assert total == 4096 and n_rg == 10**9 and n_rows == 0
    tio._SCAN_META.clear()


def test_footer_memo_tracks_rewrites(tmp_path):
    """A parquet file rewritten at the same path with a different
    row-group count must not be served from the memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    tbl = pa.table({"k": list(range(1000))})
    pq.write_table(tbl, p, row_group_size=1000)
    assert tio._parquet_meta(p, big_cutoff=10**12)[1:] == (1, 1000)
    before = os.stat(p).st_mtime_ns
    pq.write_table(tbl, p, row_group_size=250)
    if os.stat(p).st_mtime_ns == before:  # coarse filesystem clock
        os.utime(p, ns=(before + 10**9, before + 10**9))
    assert tio._parquet_meta(p, big_cutoff=10**12)[1:] == (4, 1000)
    tio._SCAN_META.clear()


def test_gate_state_partitions_scale_with_input(spark, monkeypatch):
    import __spark_entry__ as entry

    monkeypatch.setattr(os.path, "getsize", lambda p: 2 * 2**20)
    assert entry._gate_state_partitions(spark, "/x") == 8
    monkeypatch.setattr(os.path, "getsize", lambda p: 16 * 2**20)
    assert entry._gate_state_partitions(spark, "/x") == max(
        8, spark.sparkContext.defaultParallelism
    )
    # light-state drains (O(1) per-event state work) keep the low
    # partition count until the input is 16x larger
    assert entry._gate_state_partitions(spark, "/x", light_state=True) == 8
    monkeypatch.setattr(os.path, "getsize", lambda p: 256 * 2**20)
    assert entry._gate_state_partitions(spark, "/x", light_state=True) == max(
        8, spark.sparkContext.defaultParallelism
    )

    # unknown size (getsize raises, e.g. a non-local path) fails open;
    # a 64-slot context tells fan-out apart from the 8-partition floor
    from types import SimpleNamespace

    def boom(p):
        raise OSError("no such file")

    monkeypatch.setattr(os.path, "getsize", boom)
    wide = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=64))
    for light in (False, True):
        assert entry._gate_state_partitions(wide, "/x", light_state=light) == 64
