"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All are pure JVM-side DataFrame pipelines (array lambdas + joins — no
Python in the hot path) built on the portable md5-based hash so every
one of them can be cross-checked by an exact DuckDB oracle.

Scale design (the 100-TB story):

* exact_dedup — one hash-groupBy; map-side partial aggregation makes the
  shuffle proportional to the number of *distinct* contents.
* MinHash/LSH — signatures are computed per-row (no shuffle); the only
  shuffle is the band-bucket self-join, whose key (band_id, band_key) is
  high-cardinality and therefore well-distributed.  Super-frequent
  band buckets (boilerplate docs) are capped with ``max_bucket`` to
  bound the quadratic pair blowup — the cap is reported, not silent.
* n-gram Jaccard — the shingle-equality join carries a document-
  frequency cap (``max_df``) that drops stop-shingles; without it one
  boilerplate shingle shared by 10^6 docs would create 10^12 join rows.
* SimHash — 32-bit signature per doc; candidate pairs via 8-bit chunk
  banding (pigeonhole: hamming<=3 pairs share at least one of 4 chunks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from topo_descriptors_spark.functions.validate import require_cols
from topo_descriptors_spark.operators.text import (
    HASH_PRIME,
    PORTABLE_HASH_SQL,
    with_shingle_hashes,
    with_words,
)


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content: (content_hash, keep_id = min id,
    dup_count).  Map-side combine keeps the shuffle at |distinct| rows."""
    require_cols(df, "exact_dedup_groups", **{text: "string", id_col: "atomic"})
    return (
        df.groupBy(F.md5(F.col(text).cast("binary")).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Filter to one representative row (min id) per distinct content.
    Window form — one shuffle, no join back."""
    w = Window.partitionBy(F.md5(F.col(text).cast("binary"))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def minhash_params(num_perms: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation parameters (a_i, b_i) over the
    31-bit prime field; a_i != 0."""
    params = []
    for i in range(1, num_perms + 1):
        a = (1 + 2654435761 * i) % HASH_PRIME or 1
        b = (40503 * i + 17) % HASH_PRIME
        params.append((a, b))
    return params


def minhash_signature(
    df: DataFrame,
    text: str = "text",
    num_perms: int = 16,
    shingle_n: int = 3,
    out: str = "minhash",
) -> DataFrame:
    """Adds ``minhash`` (array<bigint>, one min per permutation).

    Shingle hashes are reduced mod the 31-bit prime so the affine
    re-hash (a*h+b) % p stays inside int64 in both Spark and DuckDB.
    Docs with no shingle fall back to the whole-text hash (single-element
    set) so the signature is always defined.

    The hash array is materialized once as a column — the md5 work is
    NOT recomputed per permutation (measured 7x speedup vs inlining).
    """
    d = with_shingle_hashes(df, text, shingle_n, "_mh_hs")
    d = d.withColumn(
        "_mh_hs",
        F.expr(
            f"coalesce(nullif(_mh_hs, array()), "
            f"array({PORTABLE_HASH_SQL.format(col=text)}))"
        ),
    )
    sig_exprs = [
        f"array_min(transform(_mh_hs, h -> ((h % {HASH_PRIME}) * {a} + {b}) % {HASH_PRIME}))"
        for a, b in minhash_params(num_perms)
    ]
    return d.withColumn(out, F.expr("array(" + ", ".join(sig_exprs) + ")")).drop(
        "_mh_hs"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig: str = "minhash",
    bands: int = 4,
    max_bucket: int = 200,
    sig_len: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing at least one LSH
    band.  Buckets larger than ``max_bucket`` docs are dropped to bound
    the per-bucket pair generation."""
    n = sig_len if sig_len is not None else df.select(F.size(sig)).first()[0]
    rows_per_band = n // bands
    band_cols = [
        F.concat_ws(
            "_",
            *[F.col(sig)[i] for i in range(b * rows_per_band, (b + 1) * rows_per_band)],
        ).alias("band_key")
        for b in range(bands)
    ]
    banded = df.select(
        F.col(id_col),
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
    )
    return _bucket_pairs(banded, ["band_id", "band_key"], id_col, max_bucket)


def _bucket_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket: int,
    payload: str | None = None,
) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs (id_a < id_b) of rows sharing a
    bucket ``keys`` value; with ``payload``, each side's ``payload``
    value rides along as ``{payload}_a`` / ``{payload}_b``.  Buckets of
    more than ``max_bucket`` rows are dropped.

    r9: grouped pair generation instead of the bucket self-join — ONE
    groupBy collects each bucket's (distinct by construction) ids, the
    cap filter is size(_ids) <= max_bucket (identical to the old
    count <= max_bucket), and the i<j pairs are generated in-row with
    array lambdas.  Same candidate set, but the counts groupBy + cap
    join + self-join (3 exchanges + a join that re-shuffled the banded
    rows twice) collapse into one exchange; per-bucket work is O(k^2)
    with k <= max_bucket, exactly what the join paid.  Measured 10x
    corpus (LSH candidate stage): 3.9 s -> 2.3 s.
    """
    item, x, y, extra = F.col(id_col), "x", "y", []
    if payload is not None:
        item = F.struct(F.col(id_col).alias("id"), F.col(payload).alias("p"))
        x, y = "x.id", "y.id"
        extra = [f"x.p as {payload}_a", f"y.p as {payload}_b"]
    fields = ", ".join([f"{x} as id_a", f"{y} as id_b", *extra])
    pair_expr = (
        f"flatten(transform(_ids, x -> transform(filter(_ids, y -> {y} > {x}), "
        f"y -> struct({fields}))))"
    )
    grouped = (
        banded.groupBy(*keys)
        .agg(F.collect_list(item).alias("_ids"))
        .where(F.size("_ids") <= max_bucket)
    )
    return (
        grouped.select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.*")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs; optionally verified with the
    exact signature-agreement fraction (est_jaccard) >= threshold."""
    # the signature feeds three plan branches (two join sides + banding);
    # persist it so the md5/shingle work runs once.  At warehouse scale
    # you would instead materialize the signature table to storage first.
    signed = minhash_signature(df, text, num_perms, shingle_n).persist()
    pairs = lsh_candidate_pairs(signed, id_col, bands=bands, sig_len=num_perms)
    sigs = signed.select(F.col(id_col), F.col("minhash"))
    out = (
        pairs.join(sigs.withColumnsRenamed({id_col: "id_a", "minhash": "sig_a"}), "id_a")
        .join(sigs.withColumnsRenamed({id_col: "id_b", "minhash": "sig_b"}), "id_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda eq: eq,
                )
            )
            / F.lit(float(num_perms)),
        )
        .select("id_a", "id_b", "est_jaccard")
    )
    if threshold is not None:
        out = out.where(F.col("est_jaccard") >= F.lit(float(threshold)))
    return out


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, relational)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word shingles for all pairs
    sharing at least one (non-stop) shingle.

    ``max_df`` drops shingles present in more than that many docs before
    the self-join — the stop-shingle cap that keeps the join linear-ish
    at corpus scale.  Exactness caveat: a pair whose every common
    shingle is capped is missed; with threshold >= 0.5 such pairs would
    need most of their content to be boilerplate.

    Partition layout: each document's shingle-hash array is
    hash-partitioned by ``id_col`` ONCE, into ``defaultParallelism``
    partitions, and deduplicated per id right after that exchange
    (``collect_list`` -> ``flatten`` -> ``array_distinct``, null hashes
    dropped; this also merges rows that share an id, null ids
    included, as SQL DISTINCT does).  Exploding that array gives the
    distinct ``(id, sh)`` postings with no row-level aggregate, and
    ``n_sh`` is its size.
    ``sizes``, the stream side of the broadcast ``kept`` self-join and
    the ``(id_a, id_b)`` count all inherit the layout: each ``id_a``'s
    postings sit in one task, so the partial pair count is already
    final and no pair exchange is planned.  An explicit-count
    repartition is also one AQE cannot coalesce; left to AQE, the
    shingle exchange was coalesced by its input bytes to ONE task while
    the self-join after it fans out ~4x (near_dup benchmark, seed 101,
    4 cores: one 0.87 s task of a ~2.4 s job).  When ``kept`` outgrows
    the broadcast threshold the sh-keyed exchanges come back, but the
    id exchange is still not an extra one: it replaces the
    ``(id, sh)`` exchange a row-level ``distinct`` would need.
    Measured worse (4 cores): repartitioning the exploded postings by
    id and running ``distinct`` after the exchange — each of the four
    consumer stages then re-ran a partial + final HashAggregate over
    every posting, no faster than the AQE-sized row-level ``distinct``
    on the 10x corpus;
    ``distinct`` first, then the id repartition — one more shuffle,
    slower again in a 3-round screen; ``n = 32`` (the
    shuffle-partition default) on the near_dup benchmark — 2.13 s and
    2.15 s, no gain over leaving the count to AQE; partitioning by
    ``sh`` instead — the partial pair rows grew
    306k -> 663k (960k with only ``kept`` repartitioned), with no gain.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    docs = (
        with_shingle_hashes(df, text, shingle_n, "_nj_hs")
        .select(F.col(id_col), F.col("_nj_hs"))
        .repartition(n_parts, id_col)
        .groupBy(id_col)
        .agg(F.array_compact(F.array_distinct(F.flatten(
            F.collect_list("_nj_hs")))).alias("_nj_hs"))
    )
    # Plain explode is safe only above the aggregate: the size(...) > 0
    # filter Catalyst infers for it stops there.  Below it, the filter
    # would be pushed into a second full evaluation of the md5 shingle
    # expression (measured 6x slowdown).
    sh = docs.select(F.col(id_col), F.explode(F.col("_nj_hs")).alias("sh"))
    # sizes/freq/kept all hang off `docs` ON PURPOSE: Spark's
    # ReuseExchange dedupes the (scan -> shingle-hash -> id exchange)
    # subplan across its consumers, so the md5 shingle transform is not
    # evaluated per consumer (final AQE plan: 2 md5 evaluations; without
    # reuse, 6).  The second evaluation is the `freq` branch, not a
    # self-join side: `a.id < b.id` infers an isnotnull(id) filter that
    # pushes down into sizes and both kept sides but not through freq's
    # groupBy(sh), so freq's subplan differs and ReuseExchange cannot
    # match it.  Filtering null ids first would merge the branches, but
    # it changes the max_df counts: the DuckDB oracle counts null-id
    # docs in the shingle document frequency (pinned by
    # tests/test_text_dedup.py::
    # test_ngram_jaccard_null_id_counts_toward_max_df).  n_sh is read
    # off the deduplicated array behind the exchange; deriving it from
    # the hash array BEFORE the exchange (size(array_distinct(...)))
    # re-evaluated the transform per join consumer and measured 4x
    # SLOWER at sf0.1 (3.0 s -> 12.0 s, r6 A/B).  Plan-pinned (AQE
    # shows reuse only in the post-execution final plan):
    # tests/test_plans.py::test_ngram_jaccard_reuses_shingle_exchange.
    #
    # r9 NOTE: the grouped-pair-generation rewrite that replaced the
    # bucket self-joins in lsh_candidate_pairs / simhash_pairs was
    # A/B'd here too and REJECTED: posting lists are one per shingle
    # (orders of magnitude more groups than LSH bands have buckets),
    # and the in-row i<j expansion runs through interpreted
    # higher-order functions (transform/filter have no codegen), which
    # measured 2.4 -> 8.3 s at sf0.1 and 6.2 -> 166 s on the 10x
    # corpus.  The codegen'd equi-join IS the fast path at shingle
    # granularity.
    sizes = docs.select(F.col(id_col), F.size("_nj_hs").alias("n_sh"))
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
    kept = sh.join(freq.where(F.col("df_") <= max_df), "sh").select(id_col, "sh")
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, text: str = "text", out: str = "simhash") -> DataFrame:
    """32-bit SimHash over word hashes: bit b is set iff more word hashes
    have bit b set than not.  No shuffle: array lambdas over a
    materialized word-hash column (md5 computed once per word, not once
    per bit)."""
    h = PORTABLE_HASH_SQL.format(col="w")
    d = with_words(df, text, "_sh_w")
    d = d.withColumn("_sh_hs", F.expr(f"transform(_sh_w, w -> {h} % 4294967296)"))
    terms = []
    for b in range(SIMHASH_BITS):
        mask = 1 << b
        # count of words with bit set minus words with bit clear
        terms.append(
            f"(case when aggregate(_sh_hs, 0L, "
            f"(acc, h) -> acc + (case when (h div {mask}) % 2 = 1 then 1 else -1 end)) > 0 "
            f"then {mask}L else 0L end)"
        )
    expr = f"case when size(_sh_w) > 0 then ({' + '.join(terms)}) else 0L end"
    return d.withColumn(out, F.expr(expr)).drop("_sh_w", "_sh_hs")


def simhash_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 500,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= max_hamming.

    Candidates via 8-bit chunk banding: with 4 chunks and hamming<=3, at
    least one chunk is identical (pigeonhole), so banding is lossless for
    the chosen threshold.
    """
    hashed = simhash(df, text)
    chunks = F.array(
        *[
            ((F.col("simhash") / F.lit(1 << (8 * c))).cast("long") % 256).alias(f"c{c}")
            for c in range(4)
        ]
    )
    banded = hashed.select(
        F.col(id_col), F.col("simhash"), F.posexplode(chunks).alias("chunk_id", "chunk")
    )
    return (
        _bucket_pairs(banded, ["chunk_id", "chunk"], id_col, max_bucket, "simhash")
        .withColumn(
            "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: count, per training doc, the DISTINCT
    word n-gram hashes it shares with a benchmark/eval corpus, and flag
    docs with ``>= min_hits`` — the step that keeps test sets out of a
    training corpus (the n-gram-overlap rule used by GPT-3/PaLM-style
    data decontamination).

    Plan: portable-md5 shingle hashes on both sides (the same hash
    family as the MinHash/Jaccard ops, so the DuckDB oracle replays it
    exactly); the benchmark side is deduplicated and BROADCAST — eval
    sets are a few million shingles at most, so the 100-TB corpus side
    never shuffles: explode (linear) → broadcast hash join →
    per-doc count-distinct with map-side partial aggregation.  Returns
    EVERY doc (left join) with ``n_hits`` and ``contaminated``.
    """
    require_cols(docs, "decontaminate", **{id_col: "atomic", text: "string"})
    require_cols(benchmark, "decontaminate(benchmark)", **{text: "string"})
    corpus = (
        with_shingle_hashes(docs.select(id_col, text), text, n, "_sh")
        # explode_outer (not explode): InferFiltersFromGenerate would
        # duplicate the shingle-hash expression into a pre-Generate
        # filter (measured 6x on the jaccard op)
        .select(id_col, F.explode_outer("_sh").alias("h"))
        .where(F.col("h").isNotNull())
    )
    bench_h = (
        with_shingle_hashes(benchmark.select(text), text, n, "_sh")
        .select(F.explode_outer("_sh").alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    hits = (
        corpus.join(F.broadcast(bench_h), "h")
        .groupBy(id_col)
        .agg(F.count_distinct("h").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= F.lit(int(min_hits))).alias(
                "contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# pairs -> duplicate groups (connected components)
# ---------------------------------------------------------------------------

def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    out: str = "component",
    max_iterations: int = 25,
) -> DataFrame:
    """Duplicate groups from near-dup pairs: every node labeled with the
    MIN id reachable through the pair graph (singletons keep their own
    id) — the step that turns candidate pairs into keep/drop decisions.

    Min-label propagation: each iteration joins current labels across
    the (symmetrized) edge set and takes the elementwise min; converges
    in O(graph diameter) iterations — tiny for dedup graphs, whose
    components are near-cliques.  Each iteration is one shuffle join +
    one aggregation; labels are localCheckpoint()ed so lineage stays
    flat.  ``max_iterations`` bounds the diameter it can resolve: a
    duplicate chain longer than the budget RAISES — truncated labels
    silently splitting one component into several is never acceptable
    for dedup keep/drop decisions — so raise ``max_iterations`` for
    such graphs.  Large-star/small-star (Kiveris et al., SoCC'14), whose
    O(log² n) rounds do not grow with the diameter, gave identical
    labels but was slower on the dedup pair graph it would serve
    (MinHash pairs of the sf0.1 even-id docs, 4 cores: 3.10 s against
    2.73 s for this form, median of 10 interleaved rounds), so it is
    not offered.

    Deterministic, so the driver-gate oracle replays it exactly with a
    recursive-CTE transitive closure.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialized once: every iteration joins the edges, and a lazy
    # edge set would re-run the whole upstream pair pipeline (MinHash
    # banding, verification joins) per iteration
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()
    labels = nodes.select(F.col(id_col).alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    labels = labels.localCheckpoint()
    converged = False
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nl"))
        )
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
        )
        # the convergence probe piggybacks on the label-update pass via
        # observe: ONE action per iteration (the eager localCheckpoint
        # materializes the join and fills the observation) instead of a
        # separate compare-join + count
        obs = Observation(f"cc_changed_{it}")
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["a"], "left")
            .withColumn("_new", new_label)
            .observe(
                obs,
                F.sum(
                    (F.col("_new") != F.col("label")).cast("long")
                ).alias("changed"),
            )
            .select("id", F.col("_new").alias("label"))
        )
        updated = updated.localCheckpoint()
        labels = updated
        if int(obs.get["changed"] or 0) == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "connected_components: min-label propagation did not converge "
            f"within max_iterations={max_iterations} (graph diameter exceeds "
            "the iteration budget) — raise max_iterations"
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias(out))


def select_canonical(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    component_col: str = "component",
    order_by: list | None = None,
) -> DataFrame:
    """The dedup pipeline's FINAL step: pick exactly one canonical
    survivor per duplicate cluster, and mark every other member a drop.

    Input: the documents table and a (id, component) labeling (from
    :func:`connected_components`).  Output: every doc with its
    ``component``, the cluster's ``canonical_id``, and ``is_canonical``
    — the caller keeps ``is_canonical`` rows (or maps drops to their
    survivor for provenance).

    Ranking defaults to "longest text wins, ties to lowest id" (the
    usual keep-the-most-complete-copy rule for near-dup clusters; exact
    duplicates tie on length and fall to the id); pass ``order_by`` (a
    list of Columns) to rank by a quality score instead.  The ranking
    MUST end in a unique column or the choice is nondeterministic —
    the default ends in ``id_col`` ascending.

    100-TB shape: one equi-join on the id (components output is one row
    per doc — same key distribution as the corpus, AQE-safe) and one
    window over ``component``.  Cluster sizes are bounded by the pair
    generators' bucket caps upstream, so no component is
    pathologically hot; singletons (most of the corpus) are size-1
    window groups.
    """
    from pyspark.sql import Window

    require_cols(docs, "select_canonical", **{id_col: "atomic"})
    require_cols(components, "select_canonical",
                 **{id_col: "atomic", component_col: "atomic"})
    if order_by is None:
        order_by = [F.length("text").desc(), F.col(id_col).asc()]
    joined = docs.join(components, id_col)
    w = Window.partitionBy(component_col).orderBy(*order_by)
    ranked = joined.withColumn("_cr", F.row_number().over(w))
    canon = F.first(
        F.when(F.col("_cr") == 1, F.col(id_col)), ignorenulls=True
    ).over(
        Window.partitionBy(component_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ranked.withColumn("canonical_id", canon)
        .withColumn("is_canonical", F.col("_cr") == 1)
        .drop("_cr")
    )


def fuzzy_pairs_ed1(
    df: DataFrame,
    col: str,
    id_col: str = "doc_id",
    max_df: int = 100,
    truncate_to: int | None = None,
) -> DataFrame:
    """Character-level near-duplicate pairs at edit distance <= 1 via
    deletion-neighborhood blocking (FastSS): two strings are within one
    edit iff they share a member of {s} ∪ {s minus one char}, so the
    all-pairs problem becomes variant-hash equi-join + exact
    ``levenshtein`` verification on the (tiny) candidate set.  The
    char-level complement to the token-level MinHash/SimHash family —
    catches typo-variant titles/URLs those miss.

    Scale: each row explodes into len+1 variants (use SHORT keys —
    titles, URLs, fixed prefixes; ``truncate_to`` applies an explicit
    prefix cut first), hashed to 8-byte join keys.  ``max_df`` drops
    variant buckets shared by more than that many rows before the
    self-join (the stop-shingle convention, dedup.py:ngram_jaccard) so
    a mega-cluster of identical strings cannot go quadratic silently —
    capped buckets mean those pair lists are truncated, documented not
    hidden.  Output: (id_a, id_b, dist) with id_a < id_b, exact
    distance, duplicates collapsed.
    """
    require_cols(df, "fuzzy_pairs_ed1", **{id_col: "atomic", col: "string"})
    s = F.col(col)
    if truncate_to is not None:
        s = F.substring(s, 1, int(truncate_to))
    base = (
        df.where(F.col(col).isNotNull())
        .select(F.col(id_col).alias("_fid"), s.alias("_fs"))
    )
    # {s} ∪ one-char deletions; CASE guards sequence(1, 0) descending
    variants = (
        "case when length(_fs) >= 1 then "
        "array_union(array(_fs), transform(sequence(1, length(_fs)), "
        "i -> concat(substring(_fs, 1, i - 1), "
        "substring(_fs, i + 1, length(_fs))))) "
        "else array(_fs) end"
    )
    h = PORTABLE_HASH_SQL.format(col="v")
    ex = (
        base.withColumn("_fv", F.expr(variants))
        .select(
            "_fid", "_fs",
            F.explode_outer(F.expr(f"transform(_fv, v -> {h})")).alias("_vh"),
        )
        .where(F.col("_vh").isNotNull())
        .dropDuplicates(["_fid", "_vh"])
    )
    hot = ex.groupBy("_vh").agg(F.count(F.lit(1)).alias("_df")).where(
        F.col("_df") > F.lit(int(max_df))
    )
    ex = ex.join(F.broadcast(hot.select("_vh")), "_vh", "left_anti")
    a = ex.select(
        F.col("_vh"), F.col("_fid").alias("id_a"), F.col("_fs").alias("_sa")
    )
    b = ex.select(
        F.col("_vh"), F.col("_fid").alias("id_b"), F.col("_fs").alias("_sb")
    )
    return (
        a.join(b, "_vh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sa", "_sb")
        .distinct()
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .where(F.col("dist") <= 1)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def token_prefix_groups(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 8,
    vocab: int = 4096,
) -> DataFrame:
    """Duplicate groups keyed on the first ``prefix_len`` tokens of the
    hash-vocab pre-tokenized view — the cheap crawl-dedup pass that
    catches re-hosted articles sharing an identical lead paragraph
    before the expensive MinHash machinery runs.

    One row per distinct prefix: ``(group_id = min doc id, n_docs,
    is_dup)``.  The grouping key is a FIXED-LENGTH int array (at most
    ``prefix_len`` elements), so the shuffle key is bounded regardless
    of document length, map-side combine collapses each partition to
    its distinct prefixes, and — unlike full-text exact dedup — two
    documents differing only in their tail still collide.  Join the
    result back on the prefix for per-doc membership.
    """
    from topo_descriptors_spark.operators.text import tokens_sql

    require_cols(df, "token_prefix_groups", **{id_col: "atomic", text: "string"})
    prefix = F.expr(f"slice({tokens_sql(text, vocab=vocab)}, 1, {int(prefix_len)})")
    return (
        df.select(F.col(id_col), prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.min(id_col).alias("group_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("is_dup", F.col("n_docs") > 1)
    )
