"""Training-corpus pipeline ops: deterministic splits, mixture sampling,
sequence packing (greedy invariants + cumsum monotonicity)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators import pipeline as P


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.RandomState(11)
    n = 600
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "source": [f"s{i % 3}" for i in range(n)],
            "n_tok": rng.randint(1, 400, size=n).astype(np.int64),
        }
    )
    # one pathological over-long document
    pdf.loc[17, "n_tok"] = 5000
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


def test_hash_split_weights_and_stability(docs):
    df, _ = docs
    out = P.hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1},
                       id_col="doc_id").toPandas()
    frac = out["split"].value_counts(normalize=True)
    assert 0.7 < frac["train"] < 0.9
    assert 0.05 < frac["val"] < 0.17
    # stable under repartitioning (assignment depends only on the id)
    again = P.hash_split(df.repartition(7), {"train": 0.8, "val": 0.1,
                                             "test": 0.1}).toPandas()
    merged = out.merge(again, on="doc_id", suffixes=("_a", "_b"))
    assert (merged["split_a"] == merged["split_b"]).all()
    # a different salt derives an (almost surely) different assignment
    salted = P.hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1},
                          salt="epoch1").toPandas()
    m2 = out.merge(salted, on="doc_id", suffixes=("_a", "_b"))
    assert (m2["split_a"] != m2["split_b"]).any()


def test_sample_by_source_rates(docs):
    df, pdf = docs
    out = P.sample_by_source(
        df, {"s0": 0.0, "s1": 1.0}, default_rate=0.5, source_col="source"
    ).toPandas()
    kept = out.groupby("source").size()
    n_per = pdf.groupby("source").size()
    assert "s0" not in kept.index  # rate 0 drops everything
    assert kept["s1"] == n_per["s1"]  # rate 1 keeps everything
    assert 0.3 * n_per["s2"] < kept["s2"] < 0.7 * n_per["s2"]


def test_pack_greedy_invariants(docs):
    df, _ = docs
    max_tokens = 1000
    out = P.pack_sequences_greedy(
        df, max_tokens, len_col="n_tok", partition_col="source"
    ).toPandas()
    for src, g in out.groupby("source"):
        g = g.sort_values("doc_id").reset_index(drop=True)
        # bins are 0-based, contiguous, non-decreasing in id order
        assert g["bin"].iloc[0] == 0
        steps = g["bin"].diff().dropna()
        assert set(steps.unique()) <= {0, 1}
        sums = g.groupby("bin")["n_tok"].agg(["sum", "count"])
        # a bin exceeds max_tokens only if it is a single over-long doc
        bad = sums[(sums["sum"] > max_tokens) & (sums["count"] > 1)]
        assert bad.empty, (src, bad)
        # greedy: a doc never fits in the previous bin (first-fit tightness)
        fills = g.groupby("bin")["n_tok"].sum()
        firsts = g.drop_duplicates("bin", keep="first").set_index("bin")["n_tok"]
        for b in fills.index[1:]:
            assert fills[b - 1] + firsts[b] > max_tokens


def test_pack_cumsum_matches_prefix_sums(docs):
    df, pdf = docs
    out = P.pack_sequences_cumsum(
        df, 1000, len_col="n_tok", partition_col="source"
    ).toPandas()
    for src, g in pdf.groupby("source"):
        g = g.sort_values("doc_id")
        prev = g["n_tok"].cumsum().shift(fill_value=0)
        expect = (prev // 1000).to_numpy()
        got = (
            out[out["source"] == src].sort_values("doc_id")["bin"].to_numpy()
        )
        assert (got == expect).all()


def test_pipeline_plan_shapes(docs):
    """Scale contracts: split/sampling are shuffle-free per-row
    expressions; each packing form costs exactly one exchange + sort."""
    df, _ = docs

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    p = plan(P.hash_split(df, {"a": 0.5, "b": 0.5}))
    assert "Exchange" not in p and "Sort" not in p.replace("sort", "")
    p = plan(P.sample_by_source(df, {"s0": 0.5}))
    assert "Exchange" not in p
    p = plan(P.pack_sequences_cumsum(df, 1000, len_col="n_tok"))
    assert p.count("Exchange") == 1
    p = plan(P.pack_sequences_greedy(df, 1000, len_col="n_tok"))
    assert p.count("Exchange") == 1 and "FlatMapGroupsInPandas" in p


def test_resample_by_source(docs):
    df, pdf = docs
    out = P.resample_by_source(
        df, {"s0": 3.0, "s1": 0.0, "s2": 1.5}, default_rate=1.0
    ).toPandas()
    n_per = pdf.groupby("source").size()
    got = out.groupby("source").size()
    assert got["s0"] == 3 * n_per["s0"]  # integer rate: exact replication
    assert "s1" not in got.index
    assert 1.2 * n_per["s2"] < got["s2"] < 1.8 * n_per["s2"]
    # replicas are numbered 0..n-1
    c = out[out["source"] == "s0"].groupby("doc_id")["copy_idx"].agg(["min", "max", "count"])
    assert (c["min"] == 0).all() and (c["max"] == 2).all() and (c["count"] == 3).all()
    # deterministic
    again = P.resample_by_source(
        df, {"s0": 3.0, "s1": 0.0, "s2": 1.5}, default_rate=1.0
    ).toPandas()
    assert len(again) == len(out)


def test_seeded_shuffle_is_a_stable_permutation(spark):
    import pandas as pd

    from topo_descriptors_spark.operators.pipeline import seeded_shuffle

    pdf = pd.DataFrame({"doc_id": list(range(100))})
    df = spark.createDataFrame(pdf)
    a = seeded_shuffle(df, seed=42).toPandas().sort_values("doc_id")
    # exact permutation of 0..n-1
    assert sorted(a["shuffle_pos"]) == list(range(100))
    # not the identity order (it's a shuffle)
    assert list(a["shuffle_pos"]) != list(range(100))
    # stable across reruns and physical layout
    b = (
        seeded_shuffle(df.repartition(7), seed=42)
        .toPandas()
        .sort_values("doc_id")
    )
    assert list(a["shuffle_pos"]) == list(b["shuffle_pos"])
    # a different seed gives a different epoch order
    c = seeded_shuffle(df, seed=43).toPandas().sort_values("doc_id")
    assert list(a["shuffle_pos"]) != list(c["shuffle_pos"])


def test_chunk_sequences_byte_exact_and_edges(spark):
    """Sliding-window chunking: byte-exact slices vs a numpy replay,
    full token coverage, short docs -> one chunk, empty -> no rows,
    overlap >= max_len raises."""
    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.pipeline import chunk_sequences

    toks = list(range(100, 110))  # n=10
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "tokens": [toks, [7, 8], []],
            "source": ["a", "b", "c"],
        }
    )
    out = (
        chunk_sequences(spark.createDataFrame(pdf), max_len=4, overlap=1)
        .toPandas().sort_values(["doc_id", "chunk_id"])
    )
    d1 = out[out.doc_id == 1]
    # stride 3, n=10 -> ceil(9/3)=3 chunks: [0:4], [3:7], [6:10]
    assert list(d1.chunk_id) == [0, 1, 2]
    got = [list(t) for t in d1.tokens]
    assert got == [toks[0:4], toks[3:7], toks[6:10]]  # byte-exact slices
    assert list(d1.n_tok_chunk) == [4, 4, 4]
    # every input token appears in some chunk (coverage)
    assert set(toks) == {t for ch in got for t in ch}
    # short doc -> exactly one whole chunk
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and list(d2.tokens.iloc[0]) == [7, 8]
    # empty doc -> no rows; passthrough column survives
    assert 3 not in set(out.doc_id)
    assert list(d1.source) == ["a", "a", "a"]
    with pt.raises(ValueError, match="overlap"):
        chunk_sequences(spark.createDataFrame(pdf), max_len=4, overlap=4)


def test_token_budget_mixture_rates_and_determinism(spark):
    """Budget -> per-source rate = min(1, budget/total); keep decisions
    are hash-deterministic (stable under repartition/re-run) and the
    kept-token mass approaches rate x total."""
    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.pipeline import token_budget_mixture

    pdf = pd.DataFrame(
        {
            "doc_id": range(400),
            "source": ["big"] * 300 + ["small"] * 100,
            "n_tok": [100] * 300 + [10] * 100,
        }
    )
    df = spark.createDataFrame(pdf)
    out = token_budget_mixture(df, budget_tokens=3000).toPandas()
    rates = out.groupby("source")["rate"].first()
    assert rates["big"] == pt.approx(3000 / 30000)   # capped
    assert rates["small"] == pt.approx(1.0)          # under budget: keep all
    assert out[out.source == "small"]["keep"].all()
    kept_tokens = out[(out.source == "big") & out.keep]["n_tok"].sum()
    assert kept_tokens == pt.approx(3000, rel=0.5)   # expectation, n=300
    # determinism under repartition
    again = token_budget_mixture(df.repartition(7), budget_tokens=3000).toPandas()
    a = out.sort_values("doc_id")["keep"].to_numpy()
    b = again.sort_values("doc_id")["keep"].to_numpy()
    assert (a == b).all()


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------

def test_weighted_sample_matches_python_race(spark):
    import hashlib
    import math

    from topo_descriptors_spark.operators.pipeline import weighted_sample

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [r["doc_id"] for r in
           weighted_sample(df, k=20, weight_col="w").collect()]

    def u(i):
        h = int(hashlib.md5(f"{i}ws".encode()).hexdigest()[:15], 16)
        return h / float(1 << 60)

    pri = sorted((-math.log(u(i)) / w, i) for i, w in rows)
    assert got == [i for _, i in pri[:20]]


def test_weighted_sample_weight_bias(spark):
    from topo_descriptors_spark.operators.pipeline import weighted_sample

    # two weight classes; the heavy class must dominate the sample
    rows = [(i, 10.0 if i < 500 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [r["doc_id"] for r in
           weighted_sample(df, k=100, weight_col="w").collect()]
    heavy = sum(1 for i in got if i < 500)
    assert heavy > 75  # E[heavy] ~ 91 of 100


def test_weighted_sample_excludes_nonpositive_and_stable(spark):
    from topo_descriptors_spark.operators.pipeline import weighted_sample

    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "doc_id long, w double",
    )
    got = sorted(r["doc_id"] for r in
                 weighted_sample(df, k=10, weight_col="w").collect())
    assert got == [1, 5]
    # repartitioning must not change the selection
    got2 = sorted(r["doc_id"] for r in
                  weighted_sample(df.repartition(5), k=10,
                                  weight_col="w").collect())
    assert got == got2


def test_weighted_sample_topk_plan(spark, sf_dir):
    from topo_descriptors_spark.operators.pipeline import weighted_sample
    from topo_descriptors_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    plan = weighted_sample(docs, k=50, weight_col="n_chars")._jdf\
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a full sort


# ---------------------------------------------------------------------------
# cap_per_group
# ---------------------------------------------------------------------------

def test_cap_per_group_semantics(spark):
    from topo_descriptors_spark.operators.pipeline import cap_per_group

    rows = [(i, "d%d" % (i % 3), float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, domain string, score double")
    got = cap_per_group(df, "domain", 2, "score", tiebreak="doc_id",
                        keep_rank=True).toPandas()
    # exactly 2 per group, and they are the 2 highest scores
    assert (got.groupby("domain").size() == 2).all()
    for d, g in got.groupby("domain"):
        best = sorted((r for r in rows if r[1] == d),
                      key=lambda r: -r[2])[:2]
        assert sorted(g.doc_id) == sorted(r[0] for r in best)
    assert set(got._cap_rank) == {1, 2}


def test_cap_per_group_partial_group_limit_plan(spark, sf_dir):
    from topo_descriptors_spark.operators.pipeline import cap_per_group
    from topo_descriptors_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    plan = cap_per_group(docs, "source", 5, "n_chars", tiebreak="doc_id")\
        ._jdf.queryExecution().executedPlan().toString()
    # the map-side pre-prune must sit BELOW the exchange
    assert "WindowGroupLimit" in plan
    assert plan.index("Partial") > plan.index("Exchange")  # Partial deeper


def test_cap_per_group_validation(spark, sf_dir):
    import pytest as _pt

    from topo_descriptors_spark.operators.pipeline import cap_per_group
    from topo_descriptors_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    with _pt.raises(ValueError, match="positive"):
        cap_per_group(docs, "source", 0, "n_chars")


# ---- temporal split


def test_temporal_split_is_leakage_safe(spark):
    import datetime as dt

    rows = [
        (e, i, dt.datetime(2024, 1, 1 + i)) for e in (1, 2) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "entity_id int, seq int, ts timestamp")
    from topo_descriptors_spark.operators.pipeline import temporal_split

    out = temporal_split(df, valid_frac=0.2).collect()
    for e in (1, 2):
        train_max = max(r.ts for r in out if r.entity_id == e and r.split == "train")
        valid_min = min(r.ts for r in out if r.entity_id == e and r.split == "valid")
        assert train_max < valid_min  # every valid row strictly after train
    # latest 20% of 10 rows → percent_rank > 0.8 → exactly ranks 9,10 → 1 row?
    # percent_rank of row i (0-based) = i/9; > 0.8 → i = 8, 9 → 2 rows
    assert sum(r.split == "valid" for r in out) == 4


def test_temporal_split_single_row_entity(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "entity_id int, ts timestamp"
    )
    from topo_descriptors_spark.operators.pipeline import temporal_split

    assert temporal_split(df).collect()[0].split == "train"


def test_temporal_split_validates_frac(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "entity_id int, ts timestamp"
    )
    from topo_descriptors_spark.operators.pipeline import temporal_split

    with pytest.raises(ValueError):
        temporal_split(df, valid_frac=1.5)
