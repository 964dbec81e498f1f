"""Point-in-time (as-of) join — the engine's namesake operator (J1).

Semantics: for every query row ``(keys, q_ts)``, attach the state row
``(keys, s_ts <= q_ts)`` with the largest ``s_ts`` — "state visible at or
before me, never ahead".  Zero temporal leakage by construction: the
reduction only ever looks backward in the sort order.  This is the
relational recast of the reference's one-sided directional scan (Sx looks
only at cells strictly behind the target along the azimuth; reference
topo.py:845, 919-923 — the mask stops lines *before* the center).

One reduction, :func:`asof_join`: tag both sides, sort by
``(keys, ts, side)``, propagate the last state struct with
``last(..., ignorenulls=True)`` over an unbounded-preceding frame.  ONE
shuffle of (queries+state), one sort — the same cost as a sort-merge
join, with no range-explosion.  Partition key = join keys.

:func:`asof_join_bucketed` is its skew form, not a second reduction: it
partitions by ``(keys, time_bucket)`` so a hot entity's timeline spreads
over many tasks, computes per-bucket carry-in state on the tiny
per-bucket-last table (|entities|×|buckets| rows), and hands the
carry-in rows plus the state to :func:`asof_join` keyed on
``(keys, bucket)``.  Same rows as the plain form (property-tested, and
checked against DuckDB ``ASOF JOIN`` by the contract's oracle queries);
it is slower unless one entity dominates (crossover in its docstring).

Frame features at the matched state row are the two-pass plan:
``window.multiscale_features`` over the sequence, then :func:`asof_join`.

Considered and rejected: a ``cogroup().applyInPandas(pd.merge_asof)``
strategy — measured 3.7x slower than the union trick at 8M state rows
(the whole state side crosses the JVM->Arrow->Python boundary, and the
cogroup still shuffles both sides), so the JVM-side union sort-merge
wins on every axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from topo_descriptors_spark.functions.cols import axis_seconds
from topo_descriptors_spark.functions.validate import reserve_cols


# "matched_ts" is reserved too: it is the join's OUTPUT column, and a
# query side already carrying it would make _unpack emit two columns of
# that name (Spark allows duplicate names in select) — fail fast instead.
_RESERVED = (
    "_ts", "_side", "_state", "_match", "matched_ts",
    "_back", "_fwd",  # direction="nearest" intermediates
)


def _check_names(queries_df: DataFrame, value_cols: list[str]) -> None:
    clash = set(queries_df.columns) & set(value_cols)
    if clash:
        raise ValueError(
            f"query columns {sorted(clash)} collide with state value columns; "
            "rename one side before the as-of join"
        )
    reserved = set(queries_df.columns) & set(_RESERVED)
    if reserved:
        raise ValueError(f"query columns use reserved names {sorted(reserved)}")


def _prep_sides(
    queries_df: DataFrame,
    state_df: DataFrame,
    on: list[str],
    q_ts: str,
    s_ts: str,
    value_cols: list[str],
):
    q = queries_df.withColumn("_ts", F.col(q_ts)).withColumn("_side", F.lit(1))
    s = state_df.select(
        *on,
        F.col(s_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in value_cols],
    )
    # Pack the state payload into one struct so that a state row whose
    # value column is NULL still "wins" as the most recent match (the
    # struct itself is non-null); last(ignorenulls) then reproduces exact
    # ASOF-join semantics instead of skipping to an older non-null value.
    s = s.withColumn(
        "_state", F.struct(F.col("_ts").alias("matched_ts"), *value_cols)
    ).drop(*value_cols)
    return q.unionByName(s, allowMissingColumns=True)


def _unpack(
    merged: DataFrame,
    queries_df: DataFrame,
    value_cols: list[str],
    q_ts: str,
    tolerance_seconds: float | None,
    direction: str = "backward",
) -> DataFrame:
    out = merged.where(F.col("_side") == 1)
    keep = [F.col(c) for c in queries_df.columns]
    keep.append(F.col("_match.matched_ts").alias("matched_ts"))
    keep.extend(F.col(f"_match.{c}").alias(c) for c in value_cols)
    out = out.select(*keep)
    if tolerance_seconds is not None:
        age = axis_seconds(out, q_ts) - axis_seconds(out, "matched_ts")
        if direction == "forward":
            age = -age
        elif direction == "nearest":
            age = F.abs(age)
        ok = age <= F.lit(float(tolerance_seconds))
        out = out.select(
            *[F.col(c) for c in queries_df.columns],
            F.when(ok, F.col("matched_ts")).alias("matched_ts"),
            *[F.when(ok, F.col(c)).alias(c) for c in value_cols],
        )
    return out


def asof_join(
    queries_df: DataFrame,
    state_df: DataFrame,
    on: list[str] | str,
    q_ts: str = "q_ts",
    s_ts: str = "ts",
    value_cols: list[str] | None = None,
    strict: bool = False,
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join (union + last/first-ignorenulls sort-merge) in three
    directions — the full ``pandas.merge_asof`` surface, JVM-side:

    * ``direction="backward"`` (default): latest state with
      ``s_ts <= q_ts`` (``<`` when ``strict``) — zero temporal leakage,
      the training-feature form.
    * ``direction="forward"``: earliest state with ``s_ts >= q_ts``
      (``>`` when ``strict``) — label/outcome attachment ("next purchase
      after this click"), where looking ahead is the point.
    * ``direction="nearest"``: whichever of the two is closer in time;
      exact ties prefer the backward match (documented, deterministic).
      ``strict`` excludes the equal-timestamp match from both sides
      (ties between a strictly-earlier and strictly-later row at the
      same absolute gap still prefer backward).

    The tie rule at equal timestamps is enforced by the secondary sort
    key: the state row sorts on the visible side of the query row iff
    the join is inclusive.  ``tolerance_seconds`` bounds the match age
    (backward), lead (forward), or absolute gap (nearest).  If the state
    side can hold several rows per (keys, ts), deduplicate it first (the
    frame-edge one would win nondeterministically).

    Physics is direction-independent: ONE shuffle of (queries+state) on
    the join keys, one sort; nearest adds a second window function over
    the SAME sort order (single Window exchange/sort, two frames), not a
    second shuffle.  Sole exception: ``nearest + strict`` needs opposite
    equal-ts secondary sorts for its two frames — one exchange, two
    sorts (see inline comment).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    on = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in state_df.columns if c not in set(on) | {s_ts}]
    _check_names(queries_df, value_cols)

    merged = _prep_sides(queries_df, state_df, on, q_ts, s_ts, value_cols)
    # backward-inclusive: state (0) sorts before query (1) at equal ts so
    # the preceding frame sees it; forward-inclusive mirrors (query first,
    # state inside the following frame); strict flips each.
    back_side = F.col("_side").asc() if not strict else F.col("_side").desc()
    fwd_side = F.col("_side").desc() if not strict else F.col("_side").asc()

    def back_match(m: DataFrame, out: str) -> DataFrame:
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ts").asc(), back_side)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return m.withColumn(out, F.last(F.col("_state"), ignorenulls=True).over(w))

    def fwd_match(m: DataFrame, out: str, side_order=None) -> DataFrame:
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ts").asc(), side_order if side_order is not None else fwd_side)
            .rowsBetween(0, Window.unboundedFollowing)
        )
        return m.withColumn(out, F.first(F.col("_state"), ignorenulls=True).over(w))

    if direction == "backward":
        merged = back_match(merged, "_match")
    elif direction == "forward":
        merged = fwd_match(merged, "_match")
    else:  # nearest
        if not strict:
            # BOTH frames use the backward sort (ts, state-first) so
            # Spark plans ONE exchange + ONE sort with two frames.  The
            # forward frame then misses a state row at exactly q_ts (it
            # sorts before the query row) — harmless: the backward frame
            # holds that row with gap 0, and ties prefer backward, so
            # the nearest result is identical to the two-sort
            # formulation.
            merged = fwd_match(
                back_match(merged, "_back"), "_fwd", side_order=back_side
            )
        else:
            # strict excludes the equal-timestamp match from BOTH
            # sides, and the two exclusions need OPPOSITE secondary
            # sorts (backward-strict: query before equal-ts state, so
            # the preceding frame skips it; forward-strict: state
            # before query, so the following frame skips it).  One sort
            # order cannot express both, so this is the one as-of shape
            # that plans ONE exchange + TWO sorts (still a single
            # shuffle: both windows share the partitioning).
            # back_side/fwd_side are already strict-flipped above.
            merged = fwd_match(back_match(merged, "_back"), "_fwd")
        gap_b = axis_seconds(merged, "_ts") - axis_seconds(merged, "_back.matched_ts")
        gap_f = axis_seconds(merged, "_fwd.matched_ts") - axis_seconds(merged, "_ts")
        merged = merged.withColumn(
            "_match",
            F.when(F.col("_back").isNull(), F.col("_fwd"))
            .when(F.col("_fwd").isNull(), F.col("_back"))
            .when(gap_f < gap_b, F.col("_fwd"))
            .otherwise(F.col("_back")),  # tie → backward
        ).drop("_back", "_fwd")
    return _unpack(
        merged, queries_df, value_cols, q_ts, tolerance_seconds, direction
    )


def asof_join_bucketed(
    queries_df: DataFrame,
    state_df: DataFrame,
    on: list[str] | str,
    q_ts: str = "q_ts",
    s_ts: str = "ts",
    value_cols: list[str] | None = None,
    bucket_seconds: float = 86400.0,
    strict: bool = False,
) -> DataFrame:
    """Skew-proof as-of join partitioned by ``(keys, time_bucket)``.

    Plan:
      1. bucket both sides on ``floor(unix_ts / bucket_seconds)``;
      2. reduce the state side to its last row per (keys, bucket) —
         a map-side-combinable ``max(struct(ts, payload))`` aggregate;
      3. forward-fill those per-bucket lasts across the union of state
         and query buckets (window over the *small* table), one bucket
         late → carry-in state rows at each bucket's start;
      4. run :func:`asof_join` over ``(keys, bucket)`` with the carry-in
         rows added to the state side — bounded partition sizes
         regardless of entity skew, no giant single-entity sort.  A
         carry-in row's ts lies in an earlier bucket, so it sorts before
         every row of its bucket and the tie rule is ``asof_join``'s own.

    Crossover (4 cores, interleaved reps): on ``j_asof_bucketed`` at
    sf0.1 it returns the same rows as :func:`asof_join` but takes 0.81 s
    against 0.35 s; with one hot entity of 12M rows it takes 7.95 s
    against 11.12 s (faster in 4 of 4 reps).  Use it only when one
    entity's timeline would pin a task.
    """
    on = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in state_df.columns if c not in set(on) | {s_ts}]
    for side in (queries_df, state_df):
        reserve_cols(side, "asof_join_bucketed", "_bucket", "_carry")

    def bucketed(df: DataFrame, ts: str) -> DataFrame:
        b = F.floor(axis_seconds(df, ts) / F.lit(float(bucket_seconds)))
        return df.withColumn("_bucket", b)

    q = bucketed(queries_df, q_ts)
    s = bucketed(state_df.select(*on, s_ts, *value_cols), s_ts)

    # (2) last state per (keys, bucket): max over the ts-led struct is the
    # row with the largest ts — partial-aggregated map-side, tiny output.
    last = s.groupBy(*on, "_bucket").agg(
        F.max(F.struct(s_ts, *value_cols)).alias("_carry")
    )

    # (3) carry-in over the bucket domain of BOTH sides.
    domain = (
        last.select(*on, "_bucket")
        .unionByName(q.select(*on, "_bucket"))
        .distinct()
    )
    w_carry = (
        Window.partitionBy(*on)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        domain.join(last, on + ["_bucket"], "left")
        .withColumn("_carry", F.last("_carry", ignorenulls=True).over(w_carry))
        .where(F.col("_carry").isNotNull())
        .select(
            *on, "_bucket",
            *[F.col("_carry")[c].alias(c) for c in (s_ts, *value_cols)],
        )
    )

    # (4) the one as-of reduction, now per (keys, bucket).
    return asof_join(
        q, s.unionByName(carry), on=on + ["_bucket"], q_ts=q_ts, s_ts=s_ts,
        value_cols=value_cols, strict=strict,
    ).drop("_bucket")


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    on: str,
    ts: str = "ts",
    start: str = "start",
    end: str = "end",
    bucket_seconds: float = 86400.0,
    how: str = "inner",
    max_buckets_per_interval: int | None = 1000,
) -> DataFrame:
    """Interval-containment join (J2 as a first-class operator): attach
    to every event row the interval row of the same ``on`` key with
    ``start <= ts <= end`` — event-in-session attribution, validity-
    window lookups, slowly-changing-dimension reads.

    Physical strategy — bucketed equi-join, never a range cross-product:
    both sides map onto a time-bucket grid (width ``bucket_seconds``);
    each interval is replicated into every bucket it overlaps
    (``floor(start/W) .. floor(end/W)`` — bounded by interval length /
    W + 1), events land in exactly one bucket, and the join is a plain
    equi-join on ``(on, _ibucket)`` followed by the exact BETWEEN
    filter.  Catalyst/AQE handle it like any hash join; pick
    ``bucket_seconds`` near the median interval length so replication
    stays O(1) per interval.  Timestamps and numeric axes both work
    (NTZ-safe via axis_seconds).

    ``how="inner"`` drops unmatched events; ``"left"`` keeps them with
    NULL interval columns (one row per matching interval either way —
    overlapping intervals produce multiple rows by SQL semantics).

    **Replication guard.**  One open-ended interval (an ``end`` set to a
    year-9999 sentinel, a corrupt row) would silently explode into
    ~10⁸ bucket replicas and dominate the job.  Any interval spanning
    more than ``max_buckets_per_interval`` buckets RAISES at execution
    time (the engine's guard-and-raise convention — cosine exact,
    LSH/ANN caps, CC budgets); widen ``bucket_seconds``, pre-clamp
    sentinel end dates to the data's horizon, or pass ``None`` to
    disable.  Interval-side column names (other than ``on``) must not
    collide with event columns — the join would otherwise return an
    ambiguous duplicate-named schema, so collisions raise up front.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"interval_join: unsupported how={how!r}")
    for side in (events, intervals):
        reserve_cols(side, "interval_join", "_ebucket", "_ibucket", "_ets", "_is", "_ie")
    clash = (set(events.columns) & set(intervals.columns)) - {on}
    if clash:
        raise ValueError(
            "interval_join: interval columns collide with event columns "
            f"{sorted(clash)} — rename or drop them on one side (the output "
            "keeps all event columns plus all non-key interval columns)"
        )
    W = float(bucket_seconds)
    e = events.withColumn("_ets", axis_seconds(events, ts)).withColumn(
        "_ebucket", F.floor(F.col("_ets") / W).cast("long")
    )
    b0 = F.floor(F.col("_is") / W).cast("long")
    b1 = F.floor(F.col("_ie") / W).cast("long")
    seq = F.sequence(b0, b1)
    if max_buckets_per_interval is not None:
        lim = int(max_buckets_per_interval)
        seq = F.when(b1 - b0 < F.lit(lim), seq).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "interval_join: an interval spans more than "
                        f"max_buckets_per_interval={lim} buckets ("
                    ),
                    (b1 - b0 + 1).cast("string"),
                    F.lit(
                        f") at bucket_seconds={W:g} — open-ended/sentinel "
                        "end date? clamp it, widen bucket_seconds, or pass "
                        "max_buckets_per_interval=None"
                    ),
                )
            ).cast("array<long>")
        )
    i = (
        intervals.withColumn("_is", axis_seconds(intervals, start))
        .withColumn("_ie", axis_seconds(intervals, end))
        .withColumn("_ibucket", F.explode(seq))
    )
    cond = (
        (e[on] == i[on])
        & (e["_ebucket"] == i["_ibucket"])
        & (e["_ets"] >= i["_is"])
        & (e["_ets"] <= i["_ie"])
    )
    joined = e.join(i, cond, how)
    ival_cols = [c for c in intervals.columns if c != on]
    return joined.select(
        *[e[c] for c in events.columns],
        *[i[c] for c in ival_cols],
    )
