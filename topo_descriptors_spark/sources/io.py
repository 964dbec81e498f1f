"""Table IO — parquet now, Iceberg-ready interface.

The engine's scan/sink layer (SURVEY.md §2.1).  In this sandbox there is
no Iceberg catalog, so tables are parquet directories behind the same
narrow interface the Iceberg implementation would use (`read_table` /
`write_table` with a `format` switch); swapping the format string and a
catalog config is the only change needed on a real cluster.

Scan-side rules encoded here:

* the min-elevation floor filter is applied AT SCAN TIME so Catalyst
  pushes it into the parquet reader (reference helpers.py:31, conf:2);
* cropping for windowed computation must keep halo context: filter to
  crop ∪ halo before computing, exact-crop after (the reference computes
  on the full domain and crops at write — helpers.py:59, topo.py:138-140;
  pruning to the crop alone silently changes boundary results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from topo_descriptors_spark.config import CFG

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# metadata memo for the scan-parallelization decision: (total bytes,
# row groups, rows) per (parquet path, path mtime_ns) — a rewrite at the
# same path changes the mtime and misses the memo.  Footer metadata only
# — never row data — so this is a planning cache, not a result cache.
_SCAN_META: dict[tuple[str, int], tuple[int, int, int]] = {}


def _parquet_meta(path: str, big_cutoff: int) -> tuple[int, int, int]:
    """(total_bytes, total_row_groups, total_rows) of a parquet file or
    directory.

    Inputs larger than ``big_cutoff`` bytes short-circuit with a
    sentinel row-group count of 10**9 WITHOUT reading any footer: a
    big input either already has enough splits or is far too heavy to
    round-robin, and walking thousands of footers is driver-side work
    the decision does not need (guide §5: the driver should do almost
    no data work)."""
    import os

    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        return (0, 0, 0)  # not a local path: no footer stats
    if key in _SCAN_META:
        return _SCAN_META[key]
    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, f) for f in names
                      if f.endswith(".parquet")]
    elif os.path.isfile(path):
        files = [path]
    total = sum(os.path.getsize(f) for f in files)
    if total > big_cutoff:
        _SCAN_META[key] = (total, 10**9, 0)
        return _SCAN_META[key]
    n_rg = 0
    n_rows = 0
    try:
        import pyarrow.parquet as pq

        for f in files:
            md = pq.ParquetFile(f).metadata
            n_rg += md.num_row_groups
            n_rows += md.num_rows
    except Exception:
        # no pyarrow / unreadable footer: assume one split per file
        n_rg = len(files)
    _SCAN_META[key] = (total, max(n_rg, 1) if files else 0, n_rows)
    return _SCAN_META[key]


def _size_bytes(spec: str) -> int:
    """'128m' / '1g' / '65536' -> bytes (the Spark size-string subset
    the engine's own config uses)."""
    spec = str(spec).strip().lower()
    mult = {"k": 1024, "m": 1024**2, "g": 1024**3}.get(spec[-1:], 1)
    return int(float(spec.rstrip("kmg"))) * mult


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fmt: str = "parquet",
    parallelize: bool | None = None,
) -> DataFrame:
    """Scan a table, parallelizing row-group-starved parquet inputs.

    A parquet split only reads row groups whose midpoint falls inside
    it, so a file with R row groups feeds at most R non-empty scan
    tasks no matter what ``maxPartitionBytes`` says.  When R is below
    the core count, every scan-stage expression (tokenize, md5
    shingles, array folds) serializes on R cores — the guide §2.5
    "unsplittable input" case — so such inputs are round-robin
    repartitioned to ``CFG.scan_repartition_factor x
    defaultParallelism`` slices right after the read.  The shuffle
    moves the raw payload once (bounded: the trigger requires the input
    to be smaller than cores x maxPartitionBytes-ish); filters still
    push down to the scan (Catalyst pushes predicates through
    round-robin Repartition).  At production scale row groups far
    outnumber cores and this is a no-op; tiny broadcast-sized dims
    (< CFG.scan_repartition_min_bytes) are also left alone.

    ``parallelize``: ``None`` (auto) additionally requires wide rows
    (>= CFG.scan_repartition_min_row_bytes compressed bytes/row) —
    thin-row tables (numeric event/fact rows) decode fast and usually
    flow straight into a hash exchange (window/as-of/groupBy), where a
    prior round-robin exchange is pure cost (measured r9: events-window
    queries +0.3-1.5 s each, text/embedding queries 5-12x faster).
    ``False`` never repartitions, for callers whose heavy work runs
    after their own exchange.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.format(fmt).load(path)
    factor = int(CFG.scan_repartition_factor)
    if fmt == "parquet" and factor > 0 and parallelize is not False:
        target = spark.sparkContext.defaultParallelism
        big = target * _size_bytes(CFG.max_partition_bytes)
        total_bytes, n_rg, n_rows = _parquet_meta(path, big)
        wide_enough = (
            n_rows > 0
            and total_bytes / n_rows >= int(CFG.scan_repartition_min_row_bytes)
        )
        # row floor: never shred a small table into slivers — each
        # slice must carry >= scan_repartition_min_rows_per_slice rows
        # (per-task Python/Arrow overhead is amortized over the slice),
        # and fewer than scan_repartition_min_slices slices is not
        # enough fan-out to pay for the exchange at all (measured r9:
        # sf0.1 embeddings at factor x cores slivers cost 2-3x).
        n_slices = factor * target
        if n_rows > 0:
            n_slices = min(
                n_slices,
                n_rows // max(int(CFG.scan_repartition_min_rows_per_slice), 1),
            )
        if (total_bytes >= int(CFG.scan_repartition_min_bytes)
                and 0 < n_rg < target and wide_enough
                and n_slices >= max(int(CFG.scan_repartition_min_slices), 1)
                and n_slices > n_rg):
            df = df.repartition(n_slices)
    return df


ZORDER_BITS = 12  # 4096 buckets per dimension — plenty for file-level stats


def zorder_col(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Morton (Z-order) curve value over 2+ numeric columns, pure JVM
    expressions: each column is linearly bucketed into ``2^bits`` bins
    between its min and max (one tiny scalar aggregate, broadcast back),
    then the bucket ids' bits are interleaved.  Sorting by the result
    places rows close in EVERY dimension into the same files, so
    parquet min/max footer stats prune scans filtered on ANY of the
    columns — lexicographic sort only ever prunes the leading one.

    Returns ``(df_with_stats, zcol)``; NULLs in any dimension sort
    first (bucket 0).  Linear binning assumes roughly bounded ranges
    (fine for ids/timestamps/coords); for heavy-tailed columns bucket a
    rank or log transform instead.
    """
    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns; use cluster_by for 1")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_zmin_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_zmax_{c}") for c in cols],
    )
    d = df.crossJoin(F.broadcast(stats))
    n = len(cols)
    buckets = []
    hi = (1 << bits) - 1
    for c in cols:
        span = F.col(f"_zmax_{c}") - F.col(f"_zmin_{c}")
        frac = F.when(
            span > 0, (F.col(c).cast("double") - F.col(f"_zmin_{c}")) / span
        ).otherwise(F.lit(0.0))
        b = F.least(
            F.lit(hi),
            F.greatest(F.lit(0), F.floor(frac * (1 << bits)).cast("long")),
        )
        buckets.append(F.coalesce(b, F.lit(0)))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, b in enumerate(buckets):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * n + i))
    return d, z


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    n_files: int | None = None,
) -> None:
    """Table sink.  ``cluster_by`` range-partitions the data on those
    columns and sorts within each output file, so each file covers a
    narrow, non-overlapping key range — parquet min/max footer stats
    then let later range/equality scans SKIP whole files (the poor
    man's clustering an Iceberg sort-order would give).  ``zorder_by``
    does the same along a Morton curve over MULTIPLE columns (the
    Delta/Iceberg OPTIMIZE ZORDER analog): files stay narrow in every
    listed dimension, so filters on any one of them skip files —
    mutually exclusive with ``cluster_by``.  ``n_files`` bounds the
    file count for either clustered layout."""
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    if zorder_by:
        d, z = zorder_col(df, zorder_by)
        d = d.withColumn("_zval", z)
        if n_files:
            d = d.repartitionByRange(int(n_files), F.col("_zval"))
        else:
            d = d.repartitionByRange(F.col("_zval"))
        df = d.sortWithinPartitions("_zval").drop(
            "_zval", *[f"_zmin_{c}" for c in zorder_by],
            *[f"_zmax_{c}" for c in zorder_by],
        )
    elif cluster_by:
        cols = [F.col(c) for c in cluster_by]
        if n_files:
            df = df.repartitionByRange(int(n_files), *cols)
        else:
            df = df.repartitionByRange(*cols)
        df = df.sortWithinPartitions(*cols)
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def scan_values(
    df: DataFrame, value: str = "value", min_value: float | None = None
) -> DataFrame:
    """Null out values at/below the floor (reference helpers.py:31).

    Public API: the reference's min-elevation floor rule as a scan step.

    Expressed as a column rewrite (value -> NULL) rather than a row
    filter so positions survive for the null-mask replay; the predicate
    inside `when` still prunes parquet row groups via min/max stats when
    used as a filter variant.
    """
    floor = CFG.min_elevation if min_value is None else min_value
    return df.withColumn(
        value, F.when(F.col(value) > F.lit(floor), F.col(value))
    ).withColumn("is_orig_null", F.col(value).isNull())


def crop_with_halo(
    df: DataFrame,
    order: str,
    lo,
    hi,
    halo,
    compute,
) -> DataFrame:
    """Compute-on-crop with correct boundary context.

    Public API: the reference's crop rule (crop only after computing).

    Prunes the scan to [lo-halo, hi+halo] (partition/row-group pruning
    still applies — the predicate is a plain range filter), runs
    ``compute``, then exact-crops to [lo, hi].  This is the ordering rule
    the reference encodes by cropping only at write time
    (reference topo.py:138-140, helpers.py:59).
    """
    pruned = df.where(F.col(order).between(F.lit(lo - halo), F.lit(hi + halo)))
    return compute(pruned).where(F.col(order).between(F.lit(lo), F.lit(hi)))
