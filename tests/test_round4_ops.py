"""Round-4 operator batch: BM25, Gopher rules, token bigrams, token-prefix
dedup, heavy hitters, cumulative distinct.  Small crafted fixtures with
hand-computable answers; hash-dependent ops are replayed with a Python
re-implementation of the portable hash."""

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators.dedup import token_prefix_groups
from topo_descriptors_spark.operators.features import heavy_hitters
from topo_descriptors_spark.operators.text import (
    bm25_score,
    gopher_rules,
    token_bigram_topk,
)
from topo_descriptors_spark.operators.window import cumulative_distinct


def _ptok(word: str, vocab: int = 4096) -> int:
    """Python replay of text.tokens_sql's portable hash token."""
    return int(hashlib.md5(word.lower().encode()).hexdigest()[:15], 16) % vocab


# ------------------------------------------------------------------- BM25


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (1, "data model data pipeline"),
        (2, "the model is a model"),
        (3, "nothing relevant here at all"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _bm25_ref(docs, terms, k1=1.2, b=0.75):
    words = {i: t.lower().split() for i, t in docs}
    n = len(words)
    avgdl = sum(len(w) for w in words.values()) / n
    out = {}
    for i, w in words.items():
        s = 0.0
        for t in terms:
            tf = w.count(t)
            df = sum(1 for ww in words.values() if t in ww)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(w) / avgdl))
        out[i] = round(s, 6)
    return out


def test_bm25_matches_reference(spark, tiny_docs):
    rows = [(1, "data model data pipeline"), (2, "the model is a model"),
            (3, "nothing relevant here at all"), (4, "")]
    ref = _bm25_ref(rows, ["data", "model"])
    got = {
        r.doc_id: r.bm25
        for r in bm25_score(tiny_docs, ["data", "model"]).collect()
    }
    for i in ref:
        assert got[i] == pytest.approx(ref[i], abs=1e-6), i
    assert got[4] == 0.0  # empty doc scores zero, not NaN


def test_bm25_validates_terms(tiny_docs):
    with pytest.raises(ValueError):
        bm25_score(tiny_docs, [])
    with pytest.raises(ValueError):
        bm25_score(tiny_docs, ["a", "A"])  # dup after lowercasing


# ------------------------------------------------------------ Gopher rules


def test_gopher_flags(spark):
    good = " ".join(["alpha beta gamma delta epsil"] * 12)  # 60 words, len 5
    short = "too short"
    bullets = "\n".join(f"- item {i} ok" for i in range(10))
    rows = [(1, good), (2, short), (3, bullets), (4, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert out[1].gopher_pass
    assert not out[2].ok_word_count and not out[2].gopher_pass
    assert out[3].bullet_frac == 1.0 and not out[3].ok_bullet_lines
    assert out[4].n_words == 0 and not out[4].gopher_pass
    # empty doc: line rules vacuously true, word rules reject
    assert out[4].ok_bullet_lines and out[4].ok_ellipsis_lines


def test_gopher_ellipsis(spark):
    text = "one line fine\nsecond line trails off...\nthird ends too…"
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    r = gopher_rules(df).collect()[0]
    assert r.ellipsis_frac == pytest.approx(2 / 3, abs=1e-6)
    assert not r.ok_ellipsis_lines


# ----------------------------------------------------------- token bigrams


def test_token_bigram_counts(spark):
    # "a b" appears 3x across docs, "b c" 2x, "c a" 1x
    rows = [(1, "a b c a b"), (2, "a b c")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = token_bigram_topk(df, k=10).collect()
    counts = {(r.tok_a, r.tok_b): r.n for r in out}
    ta, tb, tc = _ptok("a"), _ptok("b"), _ptok("c")
    assert counts[(ta, tb)] == 3
    assert counts[(tb, tc)] == 2
    assert counts[(tc, ta)] == 1
    # top-1 is the most frequent bigram
    assert (out[0].tok_a, out[0].tok_b, out[0].n) == (ta, tb, 3)


def test_token_bigram_short_docs_skipped(spark):
    df = spark.createDataFrame([(1, "solo"), (2, "")], "doc_id int, text string")
    assert token_bigram_topk(df).count() == 0


# ------------------------------------------------------- token prefix dedup


def test_token_prefix_groups(spark):
    shared = "breaking news about the market"
    rows = [
        (1, shared + " with extra tail one"),
        (2, shared + " and a different continuation"),
        (3, "completely different document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = token_prefix_groups(df, prefix_len=5).collect()
    by_gid = {r.group_id: r for r in out}
    assert by_gid[1].n_docs == 2 and by_gid[1].is_dup  # docs 1+2 share prefix
    assert by_gid[3].n_docs == 1 and not by_gid[3].is_dup


def test_token_prefix_shorter_than_prefix_len(spark):
    # docs shorter than prefix_len group on their full token array
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, "tiny")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.group_id: r.n_docs for r in token_prefix_groups(df, prefix_len=8).collect()}
    assert out == {1: 2, 3: 1}


# ------------------------------------------------------------ heavy hitters


def test_heavy_hitters_shares(spark):
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "k string")
    out = heavy_hitters(df, "k", k=2).collect()
    assert [(r.k, r.n, r.rank) for r in out] == [("a", 5, 1), ("b", 3, 2)]
    assert out[0].share == 0.5 and out[0].cum_share == 0.5
    assert out[1].share == 0.3 and out[1].cum_share == 0.8


def test_heavy_hitters_tie_break(spark):
    rows = [("b",)] * 2 + [("a",)] * 2 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    out = heavy_hitters(df, "k", k=3).collect()
    assert [r.k for r in out] == ["a", "b", "c"]  # count desc, then key asc


# ------------------------------------------------------- cumulative distinct


def test_cumulative_distinct_with_ties(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, T(1), "x"), (1, T(2), "y"), (1, T(2), "z"),  # tie at t=2
        (1, T(3), "x"),
        (2, T(1), "x"),
    ]
    df = spark.createDataFrame(rows, "entity_id int, ts timestamp, v string")
    out = cumulative_distinct(df, "v", entity="entity_id", order="ts")
    got = sorted(
        (r.entity_id, r.ts.second, r.v, r.n_distinct) for r in out.collect()
    )
    # peers at t=2 both see the full peer set {x,y,z}
    assert got == [
        (1, 1, "x", 1), (1, 2, "y", 3), (1, 2, "z", 3), (1, 3, "x", 3),
        (2, 1, "x", 1),
    ]


def test_cumulative_distinct_ignores_nulls(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [(1, T(1), None), (1, T(2), "a")]
    df = spark.createDataFrame(rows, "entity_id int, ts timestamp, v string")
    out = {r.ts.second: r.n_distinct for r in
           cumulative_distinct(df, "v", entity="entity_id", order="ts").collect()}
    assert out == {1: 0, 2: 1}


# ------------------------------------------------------------ OHLC resample


def test_ohlc_bars(spark):
    import datetime as dt

    T = lambda h, s: dt.datetime(2024, 1, 1, h, 0, s)
    rows = [
        (1, 1, T(0, 1), 10.0), (2, 1, T(0, 2), 30.0), (3, 1, T(0, 3), 20.0),
        (4, 1, T(1, 0), 5.0),                      # second bucket
        (5, 2, T(0, 5), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id int, entity_id int, ts timestamp, value double"
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    out = {
        (r.entity_id, r.bucket_start): r
        for r in resample_ohlc(df, 3600, tiebreak="event_id").collect()
    }
    b0 = out[(1, 1704067200)]
    assert (b0.open, b0.high, b0.low, b0.close, b0.n) == (10.0, 30.0, 10.0, 20.0, 3)
    assert b0.mean == pytest.approx(20.0)
    assert out[(1, 1704070800)].open == 5.0
    assert out[(2, 1704067200)].n == 1


def test_ohlc_tiebreak_deterministic(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [(2, 1, t, 99.0), (1, 1, t, 11.0)]  # same ts, tie-break on id
    df = spark.createDataFrame(
        rows, "event_id int, entity_id int, ts timestamp, value double"
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    r = resample_ohlc(df, 3600, tiebreak="event_id").collect()[0]
    assert r.open == 11.0 and r.close == 99.0


def test_ohlc_single_exchange(spark):
    """The groupBy must reuse the window's (entity, bucket) hash
    partitioning — exactly one Exchange in the plan."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), 1.0)],
        "event_id int, entity_id int, ts timestamp, value double",
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    plan = (
        resample_ohlc(df, 3600, tiebreak="event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_ohlc_validates(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)],
        "entity_id int, ts timestamp, value double",
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    with pytest.raises(ValueError):
        resample_ohlc(df, 0)


# ------------------------------------------------------------------- CMS


def test_cms_overestimates_only(spark):
    rows = [(i % 37,) for i in range(1000)]
    df = spark.createDataFrame(rows, "k int")
    from topo_descriptors_spark.operators.features import cms_counts

    out = cms_counts(df, "k", depth=4, width=16).collect()  # narrow → collisions
    assert len(out) == 37
    assert all(r.est >= r.n_true for r in out)
    # error bound sanity: with d=4 rows the min cell is rarely far off
    assert sum(r.est == r.n_true for r in out) > 0


def test_cms_wide_sketch_is_exact(spark):
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    from topo_descriptors_spark.operators.features import cms_counts

    out = {r.k: (r.est, r.n_true) for r in
           cms_counts(df, "k", depth=4, width=4096).collect()}
    assert out == {"a": (5, 5), "b": (3, 3), "c": (1, 1)}


# --------------------------------------------------------- temporal split


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


# ------------------------------------------------------ two-table retrieval


def test_cosine_topk_join_matches_bruteforce(spark):
    import numpy as np

    from topo_descriptors_spark.operators.similarity import (
        cosine_topk_join_blocked,
    )

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    qs = df.where("vec_id % 5 = 0")
    corpus = df.where("vec_id % 5 != 0")
    out = cosine_topk_join_blocked(qs, corpus, k=3).collect()
    got = {}
    for r in out:
        got.setdefault(r.id_q, []).append((r.rank, r.id_c))
    # numpy brute force
    qd = {i: np.array(v) for i, v in vecs if i % 5 == 0}
    cd = {i: np.array(v) for i, v in vecs if i % 5 != 0}
    for qi, qv in qd.items():
        sims = sorted(
            ((round(float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))), 9), -ci)
             for ci, cv in cd.items()),
            reverse=True,
        )[:3]
        want = [(-s[1]) for s in sims]
        assert [c for _, c in sorted(got[qi])] == want, qi


# ------------------------------------------------------ stream enrichment


def test_enrich_stream_equals_batch_join(spark, tmp_path):
    import pandas as pd

    from topo_descriptors_spark.streaming.sessions import enrich_stream

    pdf = pd.DataFrame(
        {"event_id": range(20), "user_id": [i % 4 for i in range(20)]}
    )
    src = str(tmp_path / "src"); (tmp_path / "src").mkdir()
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{src}/b1")
    dim = spark.createDataFrame(
        pd.DataFrame({"user_id": [0, 1, 2], "tag": ["a", "b", "c"]})
    )
    schema = spark.read.parquet(f"{src}/b1").schema
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    out = enrich_stream(stream, dim, on="user_id")
    q = (
        out.writeStream.format("memory").queryName("enr_test")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckp")).start()
    )
    q.awaitTermination()
    got = spark.table("enr_test").toPandas().sort_values("event_id").reset_index(drop=True)
    assert len(got) == 20  # left join keeps user 3 (no dim row)
    assert got.loc[got.user_id == 3, "tag"].isna().all()
    assert (got.loc[got.user_id == 1, "tag"] == "b").all()


# ------------------------------------------------------- salted aggregation


def test_salted_agg_equals_plain_groupby_under_skew(spark):
    from topo_descriptors_spark.operators.features import salted_agg

    # one hot key with 90% of the rows
    df = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit("hot")).otherwise(
            (F.col("id") % 7).cast("string")
        ).alias("k"),
        (F.col("id") * 0.5).alias("v"),
    )
    got = {
        r.k: r for r in salted_agg(
            df, "k", {"v": ["count", "sum", "avg", "min", "max"]}, salt_buckets=8
        ).collect()
    }
    want = {
        r.k: r for r in df.groupBy("k").agg(
            F.count("v").alias("v_count"), F.sum("v").alias("v_sum"),
            F.avg("v").alias("v_avg"), F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k].v_count == want[k].v_count
        assert got[k].v_sum == pytest.approx(want[k].v_sum)
        assert got[k].v_avg == pytest.approx(want[k].v_avg)  # not avg-of-avgs
        assert got[k].v_min == want[k].v_min
        assert got[k].v_max == want[k].v_max


def test_salted_agg_count_ignores_nulls(spark):
    from topo_descriptors_spark.operators.features import salted_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0)], "k string, v double"
    )
    got = {r.k: r.v_count for r in
           salted_agg(df, "k", {"v": ["count"]}, salt_buckets=4).collect()}
    assert got == {"a": 1, "b": 1}


def test_salted_agg_validates(spark):
    from topo_descriptors_spark.operators.features import salted_agg

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError, match="unsupported"):
        salted_agg(df, "k", {"v": ["median"]})
    with pytest.raises(ValueError, match="salt_buckets"):
        salted_agg(df, "k", {"v": ["sum"]}, salt_buckets=1)


# ------------------------------------------------------------- plan shapes


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_plan_never_shuffles_corpus(spark, tiny_docs):
    """BM25's only data movement is the one-row stats broadcast: the
    corpus side must not hash-partition at all."""
    plan = _plan_of(bm25_score(tiny_docs, ["data", "model"]))
    assert plan.count("Exchange hashpartitioning") == 0
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_token_bigrams_single_shuffle_and_topk(spark):
    from topo_descriptors_spark.operators.text import token_bigram_topk

    df = spark.createDataFrame([(1, "a b c a b")], "doc_id int, text string")
    plan = _plan_of(token_bigram_topk(df, k=10))
    # one groupBy shuffle; the final top-k is TakeOrdered, never a sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan


def test_heavy_hitters_topk_not_global_sort(spark):
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    plan = _plan_of(heavy_hitters(df, "k", k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # one-row total joins broadcast


def test_gopher_rules_map_only(spark, tiny_docs):
    plan = _plan_of(gopher_rules(tiny_docs))
    assert "Exchange" not in plan  # pure in-row expressions


# ------------------------------------------------- script profile + card


def test_script_profile_detects_scripts(spark):
    from topo_descriptors_spark.operators.text import script_profile

    rows = [
        (1, "hello plain english text"),
        (2, "Привет мир Привет"),
        (3, "漢字テキストです"),
        (4, "mixed Привет hello"),
        (5, "12345 !!! ..."),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in script_profile(df).collect()}
    assert out[1].dominant_script == "latin" and out[1].latin_frac == 1.0
    assert out[2].dominant_script == "cyrillic"
    assert out[3].dominant_script == "cjk"
    assert out[4].dominant_script in ("latin", "cyrillic")
    assert out[4].latin_frac > 0 and out[4].cyrillic_frac > 0
    assert out[5].dominant_script == "und"  # no script chars at all
    assert out[5].latin_frac is None


def test_script_profile_map_only(spark):
    from topo_descriptors_spark.operators.text import script_profile

    df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    plan = script_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dataset_card_numbers(spark):
    from topo_descriptors_spark.operators.text import dataset_card

    rows = [
        (1, "one two three", "web"),
        (2, "one two three", "web"),   # exact dup of 1
        (3, "four five", "books"),
        (4, "", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    r = dataset_card(df).collect()[0]
    assert r.n_docs == 4
    assert r.total_words == 8
    assert r.empty_frac == 0.25
    assert r.dup_frac == 0.25  # 3 distinct contents over 4 docs
    assert r.n_sources == 2


# ------------------------------------------ Arrow/BLAS retrieval join (r5)


def test_cosine_topk_join_blocked_guards(spark):
    from topo_descriptors_spark.operators.similarity import (
        cosine_topk_join_blocked,
    )

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_join_blocked(df, df, max_query_rows=5)
    dup = df.union(df.limit(1))
    with pytest.raises(ValueError, match="distinct"):
        cosine_topk_join_blocked(dup, df)
    # dimension mismatch raises inside the kernel (guard, not truncate)
    q3 = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="dim"):
        cosine_topk_join_blocked(q3, df).collect()


def test_cosine_topk_join_blocked_no_corpus_shuffle(spark):
    """The corpus must reach the scoring kernel without an Exchange:
    the only shuffle in the plan is the final per-query ranking window
    over the k-bounded partials."""
    from topo_descriptors_spark.operators.similarity import (
        cosine_topk_join_blocked,
    )

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id int, embedding array<double>",
    )
    plan = (
        cosine_topk_join_blocked(df.where("vec_id < 3"), df.where("vec_id >= 3"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    assert len(re.findall(r"Exchange", plan)) == 1  # ranking window only
    before_map = plan.split("MapInPandas")[-1]  # children of the kernel
    assert "Exchange" not in before_map
