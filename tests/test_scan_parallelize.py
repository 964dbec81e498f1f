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

from topo_descriptors_spark.sources import io as tio


def _write_single_rowgroup(spark, path: str, n_rows: int) -> None:
    # incompressible payload so the on-disk size clears the
    # SCAN_REPARTITION_MIN_BYTES floor at realistic row counts
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
        tio.SCAN_REPARTITION_FACTOR * target,
        20_000 // tio.SCAN_REPARTITION_MIN_ROWS_PER_SLICE,
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
    # below SCAN_REPARTITION_MIN_BYTES: no exchange added
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
    assert total >= tio.SCAN_REPARTITION_MIN_BYTES  # byte floor cleared
    assert (n_rows // tio.SCAN_REPARTITION_MIN_ROWS_PER_SLICE
            < tio.SCAN_REPARTITION_MIN_SLICES)
    df = tio.read_table(spark, base, "t")
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_parallelize_false_disables(spark, tmp_path):
    base = str(tmp_path)
    _write_single_rowgroup(spark, os.path.join(base, "t.parquet"), 20_000)
    tio._SCAN_META.clear()
    df = tio.read_table(spark, base, "t", parallelize=False)
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


def _sparse_file(path, mib: int) -> str:
    """A ``mib``-MiB file that uses no disk: its apparent size is what
    the stat walk sums, and its all-zero footer fails the footer read."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(mib * 2**20)
    return str(path)


def test_gate_state_partitions_scale_with_input(spark, tmp_path):
    small = _sparse_file(tmp_path / "s" / "events.parquet", 2)
    mid = _sparse_file(tmp_path / "m" / "events.parquet", 16)
    big = _sparse_file(tmp_path / "b" / "events.parquet", 256)
    assert tio.state_partitions_for(spark, small) == 8
    assert tio.state_partitions_for(spark, mid) == max(
        8, spark.sparkContext.defaultParallelism
    )
    # light-state drains (O(1) per-event state work) keep the low
    # partition count until the input is 16x larger
    assert tio.state_partitions_for(spark, mid, light_state=True) == 8
    assert tio.state_partitions_for(spark, big, light_state=True) == max(
        8, spark.sparkContext.defaultParallelism
    )

    # unknown size (the path cannot be stat-ed, e.g. a non-local path)
    # fails open; a 64-slot context tells fan-out apart from the
    # 8-partition floor
    from types import SimpleNamespace

    wide = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=64))
    missing = str(tmp_path / "missing" / "events.parquet")
    for light in (False, True):
        assert tio.state_partitions_for(wide, missing, light_state=light) == 64
    tio._SCAN_META.clear()


def test_gate_state_partitions_directory_table(tmp_path):
    """A directory-shaped table is sized by the parquet files inside it,
    not by the directory entry's own few-KiB stat size."""
    from types import SimpleNamespace

    table = tmp_path / "events.parquet"
    _sparse_file(table / "part-0.parquet", 16)
    wide = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=64))
    assert tio.state_partitions_for(wide, str(table)) == 64
    tio._SCAN_META.clear()
