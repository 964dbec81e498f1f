"""Training-corpus pipeline operators: deterministic splits, mixture
sampling, and sequence packing.

These are the assembly steps between "clean documents" and "training
batches" in a large-scale tokens pipeline — all deterministic (portable
md5-based hashing, fixed orderings) so every one has an exact DuckDB
oracle at the driver gate.

Scale design (the 100-TB story):

* hash_split / sample_by_source — pure per-row expressions on top of the
  portable hash: no shuffle, no RNG state, stable under re-runs and
  repartitioning (the split of a row depends only on its id), and the
  split is reproducible across engines/languages (md5 is md5).
* pack_sequences_cumsum — one window cumsum per (source): a single
  shuffle on a low-cardinality key, O(1) per row.  Bins can straddle a
  boundary (the standard "pack then split at the boundary" scheme).
* pack_sequences_greedy — exact first-fit-in-order packing (no straddle:
  a new bin starts when the next doc would overflow).  Inherently a
  sequential recurrence, so it runs as an Arrow kernel per (source)
  group — but vectorized over BINS, not rows: each iteration places one
  whole bin via searchsorted on the token cumsum, so the Python loop
  runs O(n_bins) times regardless of document count.  For skewed
  sources, pre-split the source into date/id ranges (packing is local by
  construction).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from topo_descriptors_spark.functions.validate import require_cols, reserve_cols
from topo_descriptors_spark.operators.text import PORTABLE_HASH_SQL

# the portable hash is the first 15 hex chars of md5 -> [0, 16^15) = [0, 2^60)
HASH_SPACE = float(16**15)


def unit_hash_col(id_col: str, salt: str = "") -> Column:
    """Deterministic u in [0, 1) from the row id: portable md5 hash of
    the id's string form (+ optional salt), scaled by 2^60.  The int64 ->
    double conversion and the division round identically in Spark and
    DuckDB (IEEE round-to-nearest), so comparisons against threshold
    literals are cross-engine exact."""
    key = f"concat(cast({id_col} as string), '{salt}')" if salt else (
        f"cast({id_col} as string)"
    )
    h = PORTABLE_HASH_SQL.format(col=key)
    return F.expr(h) / F.lit(HASH_SPACE)


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, float]]:
    """(name, cumulative_upper_bound) pairs in the dict's order,
    normalized to sum 1; the last bound is forced to 1.0 so no row is
    unassigned."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    names = list(weights)
    bounds, acc = [], 0.0
    for name in names:
        acc += float(weights[name]) / total
        bounds.append((name, acc))
    bounds[-1] = (bounds[-1][0], 1.0)
    return bounds


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Assign each row to a named split (train/val/test/...) by its id
    hash — deterministic, shuffle-free, stable under re-runs and
    repartitioning.  ``salt`` derives independent splits from the same
    ids (e.g. per-epoch holdouts)."""
    require_cols(df, "hash_split", **{id_col: "atomic"})
    u = unit_hash_col(id_col, salt)
    expr = None
    for name, bound in split_thresholds(weights):
        cond = u < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return df.withColumn(out, expr)


def stratified_split(
    df: DataFrame,
    weights_by_stratum: dict[str, dict[str, float]],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    out: str = "split",
    default_weights: dict[str, float] | None = None,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic splitting: each stratum gets its OWN
    split proportions (e.g. hold out 20% of web but only 1% of the
    scarce books source), with an independent hash stream per stratum
    (the salt folds the stratum name in) so one stratum's assignment
    never correlates with another's.

    Rows whose stratum has no entry fall back to ``default_weights``
    (NULL split if none given — surfaced, not silently bucketed).

    Scale: identical to :func:`hash_split` — a per-row hash comparison
    against literal thresholds, shuffle-free, stable under re-runs and
    repartitioning.
    """
    require_cols(df, "stratified_split",
                 **{id_col: "atomic", stratum_col: "atomic"})
    if not weights_by_stratum:
        raise ValueError("stratified_split: weights_by_stratum is empty")

    def chain(u, weights):
        e = None
        for name, bound in split_thresholds(weights):
            cond = u < F.lit(bound)
            e = F.when(cond, F.lit(name)) if e is None else e.when(
                cond, F.lit(name)
            )
        return e

    expr = None
    for stratum, w in weights_by_stratum.items():
        branch = chain(unit_hash_col(id_col, f"{salt}:{stratum}"), w)
        cond = F.col(stratum_col) == F.lit(stratum)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    if default_weights is not None:
        expr = expr.otherwise(
            chain(unit_hash_col(id_col, f"{salt}:@default"), default_weights)
        )
    return df.withColumn(out, expr)


def sample_by_source(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    default_rate: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic mixture sampling: keep a row iff its id hash falls
    under its source's rate — the reproducible form of per-source
    up/down-weighting when assembling a training mixture.  Rates > 1
    mean "keep all" here; for true up-sampling (row replication) use
    :func:`resample_by_source`."""
    require_cols(df, "sample_by_source",
                 **{id_col: "atomic", source_col: "string"})
    u = unit_hash_col(id_col, salt)
    rate = None
    for src, r in rates.items():
        cond = F.col(source_col) == F.lit(src)
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(
            cond, F.lit(float(r))
        )
    rate = rate.otherwise(F.lit(float(default_rate))) if rate is not None else F.lit(
        float(default_rate)
    )
    return df.where(u < rate)


def pack_sequences_cumsum(
    df: DataFrame,
    max_tokens: int,
    len_col: str = "n_tok",
    id_col: str = "doc_id",
    partition_col: str = "source",
    out: str = "bin",
) -> DataFrame:
    """Prefix-sum packing: bin = floor(preceding_token_count /
    max_tokens) within each partition, documents in id order.  One
    window cumsum — a doc may straddle a bin boundary (the downstream
    loader splits it), which is what keeps this a single O(1)-per-row
    pass at any scale."""
    require_cols(df, "pack_sequences_cumsum",
                 **{len_col: "numeric", id_col: "atomic"})
    w = Window.partitionBy(partition_col).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = F.coalesce(F.sum(len_col).over(w), F.lit(0))
    return df.withColumn(
        out, F.floor(prev / F.lit(int(max_tokens))).cast("long")
    )


def pack_sequences_greedy(
    df: DataFrame,
    max_tokens: int,
    len_col: str = "n_tok",
    id_col: str = "doc_id",
    partition_col: str = "source",
    out: str = "bin",
) -> DataFrame:
    """Exact first-fit-in-order packing: within each partition (id
    order), a new bin starts when adding the next document would exceed
    ``max_tokens``; a document longer than ``max_tokens`` gets a bin of
    its own.  No document straddles bins.

    Arrow kernel vectorized over bins: each loop iteration places one
    whole bin via ``searchsorted`` on the token cumsum — O(n_bins)
    Python steps per group, never per-row."""
    require_cols(df, "pack_sequences_greedy",
                 **{len_col: "numeric", id_col: "atomic"})
    schema = StructType(
        list(df.schema.fields) + [StructField(out, LongType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        lens = pdf[len_col].to_numpy(dtype=np.int64)
        cs = np.cumsum(lens)
        n = len(lens)
        bins = np.zeros(n, dtype=np.int64)
        start, b, base = 0, 0, 0
        while start < n:
            j = int(np.searchsorted(cs, base + max_tokens, side="right"))
            if j <= start:  # single over-long doc -> its own bin
                j = start + 1
            bins[start:j] = b
            base = int(cs[j - 1])
            start, b = j, b + 1
        res = pdf.copy()
        res[out] = bins
        return res

    return df.groupBy(partition_col).applyInPandas(pack, schema)


def resample_by_source(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    default_rate: float = 1.0,
    salt: str = "resample",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Mixture resampling with UP-sampling: a source at rate r emits
    floor(r) copies of every row plus one more iff the row's id hash
    falls under frac(r) — so rate 2.5 yields 2 or 3 copies per row
    (expected 2.5x), rate 0.25 keeps a quarter.  Deterministic (same
    hash machinery as :func:`sample_by_source`); ``copy_col`` numbers
    the replicas 0..n-1 so downstream shuffles can decorrelate them.
    Per-row expression + explode: no shuffle, no RNG state."""
    require_cols(df, "resample_by_source",
                 **{id_col: "atomic", source_col: "string"})
    u = unit_hash_col(id_col, salt)
    rate = None
    for src, r in rates.items():
        cond = F.col(source_col) == F.lit(src)
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(
            cond, F.lit(float(r))
        )
    rate = rate.otherwise(F.lit(float(default_rate))) if rate is not None else F.lit(
        float(default_rate)
    )
    base = F.floor(rate).cast("long")
    extra = F.when(u < rate - F.floor(rate), F.lit(1)).otherwise(F.lit(0)).cast("long")
    n = (base + extra).cast("long")
    copies = F.when(n > 0, F.sequence(F.lit(0).cast("long"), n - 1)).otherwise(
        F.array().cast("array<long>")
    )
    # inner explode: n == 0 rows disappear (that's the down-sampling)
    return df.withColumn(copy_col, F.explode(copies))


def seeded_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    out: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global shuffle order for training-data serving:
    ``shuffle_pos`` = rank of the seeded portable hash of the id (ties
    broken by id), so the corpus is served in a reproducible pseudo-
    random order that is stable across reruns, repartitioning and
    engine versions — change ``seed`` for a fresh epoch order.

    Gate-sized form uses one global row_number; the 100-TB form is the
    same expression with ``repartitionByRange(_h)`` +
    ``sortWithinPartitions`` and files written in partition order — a
    single range shuffle with per-partition local sorts (Spark's
    standard total-order pattern), never a one-reducer global sort.
    The hash is the portable md5 family, so DuckDB replays the exact
    permutation.
    """
    require_cols(df, "seeded_shuffle", **{id_col: "atomic"})
    if "_h" in df.columns:
        raise ValueError("seeded_shuffle: input already has internal column '_h'")
    h = PORTABLE_HASH_SQL.format(
        col=f"concat('s{int(seed)}_', cast({id_col} as string))"
    )
    return (
        df.withColumn("_h", F.expr(h))
        .withColumn(
            out,
            (
                F.row_number().over(
                    Window.orderBy(F.col("_h"), F.col(id_col))
                ) - 1
            ).cast("long"),
        )
        .drop("_h")
    )


def chunk_sequences(
    df: DataFrame,
    max_len: int,
    overlap: int = 0,
    tokens: str = "tokens",
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
) -> DataFrame:
    """Split over-long token sequences into training-window chunks with
    ``overlap`` carried tokens (the standard sliding-window pre-batching
    step: context windows of ``max_len`` starting every
    ``stride = max_len - overlap`` tokens).

    Chunk i covers tokens ``[i·stride, i·stride + max_len)``; sequences
    that fit (``n ≤ max_len``) yield exactly one chunk, longer ones
    ``ceil((n − overlap) / stride)`` so the last chunk always
    contributes at least one new token (it may be shorter than
    ``max_len``); empty sequences produce no rows.  Token arrays are
    sliced BYTE-EXACTLY (the north-rule token invariant) — no re-pad,
    no re-encode.

    100-TB shape: one generator (posexplode of a tiny int sequence) and
    a per-row ``slice`` — map-only, pipelines with the scan, output
    rows ≈ corpus tokens / stride.  All non-token columns pass through
    on every chunk row.
    """
    require_cols(df, "chunk_sequences",
                 **{id_col: "atomic", tokens: "array_numeric"})
    if overlap >= max_len:
        raise ValueError(
            f"chunk_sequences: overlap={overlap} must be < max_len={max_len}"
        )
    reserve_cols(df, "chunk_sequences", "_nchunks", chunk_col)
    stride = int(max_len) - int(overlap)
    n = F.size(F.col(tokens))
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= int(max_len), F.lit(1))
        .otherwise(F.ceil((n - F.lit(int(overlap))) / F.lit(stride)))
        .cast("int")
    )
    d = df.withColumn("_nchunks", n_chunks)
    d = d.select(
        *[c for c in df.columns if c != tokens],
        F.col(tokens).alias("_toks"),
        # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) — empty
        # sequences must map to an empty array, not a descending one
        F.posexplode(
            F.expr(
                "CASE WHEN _nchunks >= 1 THEN sequence(1, _nchunks)"
                " ELSE array() END"
            )
        ).alias(chunk_col, "_one"),
    )
    start = F.col(chunk_col) * stride  # posexplode pos is 0-based
    chunk = F.slice(F.col("_toks"), start + 1, int(max_len))
    return (
        d.withColumn(tokens, chunk)
        .withColumn("n_tok_chunk", F.size(tokens).cast("long"))
        .drop("_toks", "_one")
    )


def token_budget_mixture(
    df: DataFrame,
    budget_tokens: float,
    n_tok: str = "n_tok",
    source: str = "source",
    id_col: str = "doc_id",
    salt: str = "budget",
) -> DataFrame:
    """Token-budget mixture planning + sampling in one pass: cap every
    source at ``budget_tokens`` total training tokens by down-sampling
    documents at ``rate = min(1, budget / source_total_tokens)`` —
    the "don't let CommonCrawl drown the books" step of corpus mixing,
    but specified in TOKENS (what the training run actually consumes),
    not document counts.

    The keep decision is the engine's deterministic portable-hash
    sampler (re-run/repartition stable, replayable in SQL); expected
    kept tokens per source = rate × total (exact in expectation — the
    hash is uniform on [0,1)).  Output: every doc with its source
    ``rate`` and a ``keep`` flag; filtering is the caller's one-liner.

    100-TB shape: one vocabulary-of-sources aggregation (map-side
    combined, output rows = #sources), broadcast back, then a per-row
    hash compare — no corpus shuffle anywhere.
    """
    require_cols(df, "token_budget_mixture",
                 **{id_col: "atomic", n_tok: "numeric", source: "atomic"})
    reserve_cols(df, "token_budget_mixture", "_tot", "rate", "keep")
    totals = df.groupBy(source).agg(
        F.sum(F.col(n_tok)).cast("double").alias("_tot")
    )
    rates = totals.withColumn(
        "rate",
        F.least(F.lit(1.0), F.lit(float(budget_tokens)) / F.col("_tot")),
    )
    d = df.join(F.broadcast(rates), source)
    kept = unit_hash_col(id_col, salt) < F.col("rate")
    return d.withColumn("keep", kept).drop("_tot")


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "ws",
    priority_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (the
    Efraimidis–Spirakis exponential race): each row gets priority
    ``-ln(u) / w`` with ``u`` its portable unit hash; the k smallest
    priorities are exactly a w-weighted sample without replacement —
    the reproducible version of quality-weighted corpus subsetting.
    Rows with NULL or non-positive weight are excluded (they can never
    be drawn).  Ties (astronomically unlikely on continuous hashes)
    break on id.

    Scale: ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject
    — each partition keeps its own top-k and the driver merges k-sized
    heaps; no full sort, no corpus shuffle, rerun/repartition-stable.
    """
    require_cols(df, "weighted_sample",
                 **{id_col: "atomic", weight_col: "numeric"})
    if k <= 0:
        raise ValueError("weighted_sample: k must be positive")
    pc = priority_col or "_ws_priority"
    if pc in df.columns:
        raise ValueError(f"weighted_sample: column {pc!r} already in input")
    u = unit_hash_col(id_col, salt)
    out = (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn(pc, -F.log(u) / F.col(weight_col).cast("double"))
        .orderBy(F.col(pc).asc(), F.col(id_col).asc())
        .limit(int(k))
    )
    return out if priority_col else out.drop(pc)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_by: str,
    descending: bool = True,
    tiebreak: str | None = None,
    keep_rank: bool = False,
) -> DataFrame:
    """Keep at most ``n`` rows per group, best-first by ``order_by`` —
    the per-domain cap every web corpus applies so one host cannot
    dominate the mixture (and the generic "top-N documents per key"
    primitive).  ``tiebreak`` makes the cutoff deterministic when
    ``order_by`` ties (REQUIRED for reproducible corpora; defaults to
    ``order_by`` alone, which is only deterministic if unique).

    Scale: rank<=n over a window compiles with a ``WindowGroupLimit``
    below the shuffle (Spark 3.5+): every partition pre-prunes to its
    own per-group top-n BEFORE the exchange, so the shuffle carries at
    most n rows per (partition, group) — hot domains with 10^8 pages
    ship n rows per map task, not 10^8.  Pinned in pytest.
    """
    require_cols(df, "cap_per_group",
                 **{group_col: "atomic", order_by: "orderable"})
    if n <= 0:
        raise ValueError("cap_per_group: n must be positive")
    reserve_cols(df, "cap_per_group", "_cap_rank")
    ob = [F.col(order_by).desc() if descending else F.col(order_by).asc()]
    if tiebreak:
        ob.append(F.col(tiebreak).asc())
    w = Window.partitionBy(group_col).orderBy(*ob)
    out = df.withColumn("_cap_rank", F.row_number().over(w)).where(
        F.col("_cap_rank") <= int(n)
    )
    return out if keep_rank else out.drop("_cap_rank")


def temporal_split(
    df: DataFrame,
    entity: str = "entity_id",
    order: str = "ts",
    valid_frac: float = 0.2,
    out: str = "split",
) -> DataFrame:
    """Leakage-safe per-entity temporal split: each entity's LATEST
    ``valid_frac`` of rows (by time order) become ``valid``, the rest
    ``train`` — the only split that respects the as-of/PIT discipline
    (a random row split leaks future state of the same entity into
    training; this one cannot, by construction).

    Implemented with ``percent_rank`` so rows tying on ``order`` land on
    the same side in every engine (SQL-standard rank semantics — no
    tiebreak column needed for determinism of the SPLIT, though ties
    straddling the cut all go to train together).  One window shuffle on
    the entity key; single-row entities rank 0 → train.
    """
    if not (0.0 < valid_frac < 1.0):
        raise ValueError("valid_frac must be in (0, 1)")
    require_cols(df, "temporal_split", **{entity: "atomic"})
    from pyspark.sql import Window as _W

    pr = F.percent_rank().over(_W.partitionBy(entity).orderBy(order))
    return df.withColumn(
        out,
        F.when(pr > F.lit(1.0 - valid_frac), F.lit("valid")).otherwise(
            F.lit("train")
        ),
    )
