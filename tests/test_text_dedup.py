"""Text-analysis + dedup operators: correctness on crafted corpora."""

import hashlib
import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators import dedup, text
from topo_descriptors_spark.operators.dedup import token_prefix_groups
from topo_descriptors_spark.operators.text import (
    bm25_score,
    gopher_rules,
    token_bigram_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        ("d00", "the quick brown fox jumps over the lazy dog again and again", "en"),
        ("d01", "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of d00
        ("d02", "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
        ("d03", "der schnelle braune fuchs springt und ist nicht langsam", "de"),
        ("d04", "le chat et le chien est dans les maisons des villes", "fr"),
        ("d05", "completely unrelated content about spark window aggregation", "en"),
        ("d06", "xqz zzz", "und"),
        ("d07", "  the   quick  brown fox jumps over the lazy dog again and again ", "en"),  # ws-variant of d00
    ]
    rows = []
    for i, (did, t, lang) in enumerate(base):
        rows.append((did, t, lang))
    # bulk distinct docs so LSH buckets aren't degenerate
    for i in range(50):
        rows.append((f"x{i:02d}", f"document number {i} talks about topic {i * 7 % 13} "
                                  f"with unique content token{i} and filler words", "en"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    df.cache().count()
    return df


def test_token_count(docs):
    out = {r.doc_id: r.n_tokens for r in text.token_count(docs).collect()}
    assert out["d00"] == 12
    assert out["d07"] == 12  # empty tokens dropped
    assert out["d06"] == 2


def test_lang_id(docs):
    out = {r.doc_id: r.pred_lang for r in text.lang_id(docs).collect()}
    assert out["d00"] == "en"
    assert out["d03"] == "de"
    assert out["d04"] == "fr"
    assert out["d06"] == "und"


def test_quality_score(docs):
    out = {r.doc_id: r for r in text.quality_score(docs).collect()}
    assert 0.0 <= out["d06"].quality <= 0.5
    assert out["d00"].quality >= 0.5
    assert out["d00"].stopword_ratio > 0.1


def test_fingerprint_stability(docs):
    out = {r.doc_id: r.fingerprint for r in text.fingerprint(docs).collect()}
    assert out["d00"] == out["d01"]  # identical docs
    assert out["d00"] == out["d07"]  # whitespace-normalized variant
    assert out["d00"] != out["d05"]
    # short doc fallback is defined
    assert out["d06"] is not None


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs).select("doc_id").toPandas()["doc_id"].tolist()
    assert "d00" in kept and "d01" not in kept
    groups = dedup.exact_dedup_groups(docs).toPandas()
    assert groups["dup_count"].max() == 2
    assert groups["dup_count"].sum() == docs.count()


def test_minhash_signature_shape(docs):
    sig = dedup.minhash_signature(docs, num_perms=16)
    row = sig.where(F.col("doc_id") == "d00").first()
    assert len(row.minhash) == 16
    # identical docs -> identical signatures
    sigs = {r.doc_id: tuple(r.minhash) for r in sig.collect()}
    assert sigs["d00"] == sigs["d01"] == sigs["d07"]
    assert sigs["d00"] != sigs["d05"]


def test_minhash_lsh_finds_near_dups(docs):
    # 1-row bands (bands = num_perms) maximize candidate recall; the
    # est_jaccard threshold then prunes false positives.  d00-d02 share
    # jaccard 7/13 and agree on 8/16 signature slots (deterministic).
    pairs = dedup.minhash_dedup_pairs(docs, bands=16, threshold=0.4).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert ("d00", "d01") in found
    assert ("d00", "d07") in found
    assert ("d00", "d02") in found
    # exact dups agree on every slot
    est = {tuple(sorted((a, b))): j for a, b, j in zip(pairs.id_a, pairs.id_b, pairs.est_jaccard)}
    assert est[("d00", "d01")] == 1.0


def test_ngram_jaccard_exact(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    m = {(a, b): j for a, b, j in zip(pairs.id_a, pairs.id_b, pairs.jaccard)}
    assert m[("d00", "d01")] == 1.0
    assert m[("d00", "d07")] == 1.0
    j02 = m[("d00", "d02")]
    # one word changed out of 12 -> 3 of 10 distinct shingles differ;
    # jaccard = 7 / 13
    assert np.isclose(j02, 7 / 13)
    # unrelated docs absent
    assert ("d00", "d05") not in m


def test_ngram_jaccard_null_id_counts_toward_max_df(spark):
    """A null-id doc is never paired, but it still counts in a shingle's
    document frequency, as in the DuckDB oracle: 100 docs share the
    shingle "alpha beta gamma" (df 100 <= max_df 100, kept), and one
    null-id doc pushes it to 101, so every pair through it is capped."""
    import duckdb

    import __spark_entry__ as entry

    rows = [(i, f"alpha beta gamma u{i}a u{i}b") for i in range(100)]
    rows += [(None, "alpha beta gamma"),
             (100, "foo bar baz qux"), (101, "foo bar baz qux")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in
           dedup.ngram_jaccard_pairs(df, shingle_n=3, threshold=0.12,
                                     max_df=100).collect()}
    sql = entry.oracle_sql()["d_ngram_jaccard"].replace(entry._DOCS_HALF_SQL, "")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"doc_id": pd.array([r[0] for r in rows], dtype="Int64"),
         "text": [r[1] for r in rows]}))
    want = {(int(a), int(b), round(float(j), 6))
            for a, b, j in con.execute(sql).fetchall()}
    assert got == want == {(100, 101, 1.0)}


def test_simhash_near_dups(docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sh["d00"], sh["d01"]) == 0
    assert hamming(sh["d00"], sh["d07"]) == 0
    assert hamming(sh["d00"], sh["d02"]) <= 6
    assert hamming(sh["d00"], sh["d05"]) > 6
    pairs = dedup.simhash_pairs(docs, max_hamming=3).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert ("d00", "d01") in found and ("d00", "d07") in found


def test_simhash_empty_doc(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ["e"], "text": ["   "]}))
    assert dedup.simhash(df).first().simhash == 0


def test_repetition_stats(spark):
    import pandas as pd

    from topo_descriptors_spark.operators.text import repetition_stats

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "a a a a",          # one word repeated
                "a b c d",          # all distinct
                "a b a b",          # repeated bigram "a b"
                "",                  # empty
            ],
        }
    )
    out = (
        repetition_stats(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "dup_word_ratio"] == 0.75
    assert out.loc[0, "top_word_ratio"] == 1.0
    assert out.loc[0, "dup_bigram_ratio"] == pytest.approx(2.0 / 3.0)
    assert out.loc[1, "dup_word_ratio"] == 0.0
    assert out.loc[1, "top_word_ratio"] == 0.25
    assert out.loc[2, "dup_bigram_ratio"] == pytest.approx(1.0 / 3.0)
    assert out.loc[3, "n_words"] == 0
    assert out.loc[3, "dup_word_ratio"] == 0.0


def test_connected_components_chain_and_singletons(spark):
    import pandas as pd

    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2, 3, 4, 5, 6]})
    )
    # chain 0-1-2 (diameter > 1), pair 4-5, singletons 3 and 6
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 4], "id_b": [1, 2, 5]})
    )
    from topo_descriptors_spark.operators.dedup import connected_components

    out = (
        connected_components(nodes, pairs)
        .toPandas()
        .set_index("doc_id")["component"]
        .to_dict()
    )
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}


def test_connected_components_long_chain(spark):
    """A 120-hop duplicate chain: min-label propagation needs
    ~diameter iterations — it must RAISE at an exhausted budget (never
    return silently truncated labels), while a 20-hop chain converges
    within the default budget of 25."""
    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.dedup import connected_components

    def chain(n):
        nodes = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
        )
        return nodes, pairs

    with pt.raises(RuntimeError, match="did not converge.*raise max_iterations"):
        connected_components(*chain(121), max_iterations=10)
    out = connected_components(*chain(21)).toPandas()
    assert len(out) == 21 and (out["component"] == 0).all()


def test_connected_components_shuffled_ids(spark):
    """A permuted-id graph (roots are not the first ids) plus
    self-loop-free determinism: labels equal the per-component min."""
    import pandas as pd

    from topo_descriptors_spark.operators.dedup import connected_components

    # components: {9, 2, 14}, {5, 11}, singleton {7}
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": [9, 2, 14, 5, 11, 7]}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [9, 14, 11], "id_b": [2, 9, 5]})
    )
    out = (
        connected_components(nodes, pairs)
        .toPandas()
        .set_index("doc_id")["component"]
        .to_dict()
    )
    assert out == {9: 2, 2: 2, 14: 2, 5: 5, 11: 5, 7: 7}


def test_redact_pii_counts_and_placeholders(spark):
    import pandas as pd

    from topo_descriptors_spark.operators.text import redact_pii

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "mail me at a.b+x@test.org or c@d.io thanks",
                "call 555-123-4567 or 555 1234 5678",
                "digits in email stay: z9@x.co 123-456-7890",
                "clean text, no pii at all",
            ],
        }
    )
    out = (
        redact_pii(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "n_emails"] == 2 and out.loc[0, "n_phones"] == 0
    assert out.loc[0, "text_redacted"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert out.loc[1, "n_emails"] == 0 and out.loc[1, "n_phones"] == 2
    assert "<PHONE>" in out.loc[1, "text_redacted"]
    # email redacted FIRST, so its local digits never count as a phone
    assert out.loc[2, "n_emails"] == 1 and out.loc[2, "n_phones"] == 1
    assert out.loc[3, "n_emails"] == 0 and out.loc[3, "n_phones"] == 0
    assert out.loc[3, "text_redacted"] == "clean text, no pii at all"


def test_decontaminate_flags_overlap(spark):
    import pandas as pd

    from topo_descriptors_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "a completely different sentence with no overlap here",
                    "quick brown fox jumps again today",  # shares a 3-gram
                ],
            }
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"text": ["quick brown fox jumps over fences"]})
    )
    out = (
        decontaminate(docs, bench, n=3, min_hits=1)
        .toPandas()
        .set_index("doc_id")
    )
    # doc 1 shares "quick brown fox", "brown fox jumps", "fox jumps over"
    assert out.loc[1, "n_hits"] == 3 and bool(out.loc[1, "contaminated"])
    assert out.loc[2, "n_hits"] == 0 and not bool(out.loc[2, "contaminated"])
    assert out.loc[3, "n_hits"] == 2 and bool(out.loc[3, "contaminated"])


def test_vocab_topk_counts_and_ties(spark):
    import pandas as pd

    from topo_descriptors_spark.operators.text import vocab_topk

    docs = spark.createDataFrame(
        pd.DataFrame({"text": ["b a a", "B b c", ""]})
    )
    out = vocab_topk(docs, k=2).toPandas()
    # counts: a=2, b=3 (case-folded), c=1 -> top2 = b(3), a(2)
    assert list(out["word"]) == ["b", "a"]
    assert list(out["n"]) == [3, 2]
    # tie-break: with k=3, c arrives after a (count 1 < 2)
    out3 = vocab_topk(docs, k=3).toPandas()
    assert list(out3["word"]) == ["b", "a", "c"]


def test_unigram_logprob_matches_hand_calc(spark):
    import math

    import pandas as pd

    from topo_descriptors_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a a b", "b c", ""]})
    )
    out = (
        unigram_logprob(docs).toPandas().set_index("doc_id").sort_index()
    )
    # corpus: a=2, b=2, c=1, total=5
    pa, pb, pc = 2 / 5, 2 / 5, 1 / 5
    exp1 = -(math.log(pa) + math.log(pa) + math.log(pb)) / 3
    exp2 = -(math.log(pb) + math.log(pc)) / 2
    assert out.loc[1, "neg_logprob"] == pytest.approx(exp1)
    assert out.loc[2, "neg_logprob"] == pytest.approx(exp2)
    assert out.loc[1, "n_words"] == 3 and out.loc[2, "n_words"] == 2
    # empty doc: no words, NULL score
    assert out.loc[3, "n_words"] == 0 and pd.isna(out.loc[3, "neg_logprob"])
    # rarer tokens -> higher surprise
    assert out.loc[2, "neg_logprob"] > out.loc[1, "neg_logprob"]


def test_dedup_lines_drops_boilerplate_keeps_order(spark):
    import pandas as pd

    from topo_descriptors_spark.operators.text import dedup_lines

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "unique one\nSUBSCRIBE NOW\nunique two",
                    "other content\nSUBSCRIBE NOW",
                    "SUBSCRIBE NOW",  # nothing survives
                ],
            }
        )
    )
    out = (
        dedup_lines(docs).toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[1, "text_dedup"] == "unique one\nunique two"  # order kept
    assert out.loc[1, "n_dropped"] == 1
    assert out.loc[2, "text_dedup"] == "other content"
    assert out.loc[3, "text_dedup"] == "" and out.loc[3, "n_dropped"] == 1


def test_connected_components_random_graphs(spark):
    """Randomized graphs vs a pure-python union-find oracle: min-label
    propagation must produce min-reachable-id labels on every shape
    (cliques, chains, forests, singletons)."""
    import numpy as np
    import pandas as pd

    from topo_descriptors_spark.operators.dedup import connected_components

    rng = np.random.RandomState(17)
    for trial in range(4):
        n = int(rng.randint(5, 40))
        n_edges = int(rng.randint(0, n * 2))
        nodes = list(range(n))
        edges = [
            (int(rng.randint(0, n)), int(rng.randint(0, n)))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        # union-find oracle
        parent = list(range(n))
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        roots = {}
        for v in nodes:
            roots.setdefault(find(v), []).append(v)
        expect = {}
        for members in roots.values():
            m = min(members)
            for v in members:
                expect[v] = m
        ndf = spark.createDataFrame(pd.DataFrame({"doc_id": nodes}))
        pdf = (
            spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
            if edges
            else spark.createDataFrame([], "id_a bigint, id_b bigint")
        )
        got = (
            connected_components(ndf, pdf, max_iterations=50)
            .toPandas().set_index("doc_id")["component"].to_dict()
        )
        assert got == expect, f"trial={trial}"


def test_dedup_lines_null_text_survives_and_passthrough(spark):
    """Every document must come back — a NULL text doc yields NULL
    text_dedup and n_dropped=0 (the round-3 plan silently dropped it via
    a null-unsafe join); non-key input columns pass through."""
    import pandas as pd

    from topo_descriptors_spark.operators.text import dedup_lines

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["dup\nkeep me", "dup", None],
                "source": ["s1", "s2", "s3"],
            }
        )
    )
    out = dedup_lines(docs).toPandas().set_index("doc_id").sort_index()
    assert len(out) == 3  # null-text doc survives
    assert out.loc[1, "text_dedup"] == "keep me"
    assert out.loc[1, "n_dropped"] == 1
    assert out.loc[2, "text_dedup"] == "" and out.loc[2, "n_dropped"] == 1
    assert pd.isna(out.loc[3, "text_dedup"]) and out.loc[3, "n_dropped"] == 0
    assert list(out["source"]) == ["s1", "s2", "s3"]  # passthrough


def test_dedup_lines_corpus_side_never_shuffles(spark):
    """Plan-shape pin for the broadcast stop-line plan (VERDICT r3 #2):
    the corpus side must reach the output with ZERO exchanges — no
    hashpartitioning on the document key (the old reassembly groupBy),
    no join shuffle on the skewed line key; the only exchanges allowed
    are the vocab-sized line-count aggregation and the broadcast of the
    one-row stop set, both on the tiny side of a BroadcastNestedLoop."""
    import pandas as pd

    from topo_descriptors_spark.operators.text import dedup_lines

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a\nb", "a\nc"]})
    )
    plan = dedup_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning(doc_id" not in plan  # no doc-side shuffle
    # the ONLY repartitioning exchange is the line-count agg on _line
    import re

    parts = re.findall(r"hashpartitioning\((\w+)", plan)
    assert set(parts) <= {"_line"}, parts


def test_dedup_lines_stop_set_guard_raises(spark):
    """Boilerplate diversity above max_stop_lines must fail loudly, not
    OOM the driver broadcast (engine guard-and-raise convention)."""
    import pandas as pd
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from topo_descriptors_spark.operators.text import dedup_lines

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["x\ny", "x\ny", "z\nkeep", "z"],
            }
        )
    )
    # three stop lines (x, y, z) > cap of 2 -> raise at execution
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        dedup_lines(docs, max_stop_lines=2).collect()
    assert "max_stop_lines" in str(ei.value)
    # cap not exceeded -> fine
    out = dedup_lines(docs, max_stop_lines=3).toPandas()
    assert len(out) == 4


def test_unigram_logprob_capped_equals_uncapped_when_cap_not_binding(spark):
    """min_count=1 / huge vocab_size must reproduce the exact uncapped
    model (same join semantics, just a bounded broadcast side)."""
    import pandas as pd

    from topo_descriptors_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a a b", "b c", ""]})
    )
    base = (
        unigram_logprob(docs).toPandas()
        .set_index("doc_id").sort_index()
    )
    for kwargs in (
        {"min_count": 1, "broadcast_vocab": True},
        {"vocab_size": 100},
        {"vocab_size": 100, "min_count": 1, "broadcast_vocab": False},
    ):
        got = (
            unigram_logprob(docs, **kwargs).toPandas()
            .set_index("doc_id").sort_index()
        )
        pd.testing.assert_frame_equal(got, base)


def test_unigram_logprob_min_count_floors_rare_words(spark):
    """Capped model: out-of-vocab words score as the smoothing floor
    -ln(smoothing_count / total) with total over ALL words (in-vocab
    probabilities unchanged) — the CCNet-style vocabulary cap."""
    import math

    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a a b", "b c"]})
    )
    # corpus: a=2, b=2, c=1, total=5; min_count=2 drops c -> OOV floor 1/5
    out = (
        unigram_logprob(docs, min_count=2).toPandas()
        .set_index("doc_id").sort_index()
    )
    exp1 = -(2 * math.log(2 / 5) + math.log(2 / 5)) / 3
    exp2 = -(math.log(2 / 5) + math.log(1 / 5)) / 2
    assert out.loc[1, "neg_logprob"] == pt.approx(exp1)
    assert out.loc[2, "neg_logprob"] == pt.approx(exp2)
    # vocab_size=1 keeps only the top word (a by count tie -> word asc);
    # b and c hit the floor
    out2 = (
        unigram_logprob(docs, vocab_size=1, smoothing_count=1.0)
        .toPandas().set_index("doc_id").sort_index()
    )
    exp2b = -(math.log(1 / 5) + math.log(1 / 5)) / 2
    assert out2.loc[2, "neg_logprob"] == pt.approx(exp2b)


def test_tfidf_topk_hand_calc(spark):
    """TF-IDF against hand math: smoothed idf ln((N+1)/(df+1))+1,
    round-before-rank, ties on word ascending."""
    import math

    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["apple apple banana", "banana cherry", ""],
            }
        )
    )
    out = tfidf_topk(docs, k=2).toPandas()
    # N=3; df: apple 1, banana 2, cherry 1
    idf1 = math.log(4 / 2) + 1
    idf2 = math.log(4 / 3) + 1
    d1 = out[out.doc_id == 1].set_index("word")
    assert d1.loc["apple", "tf"] == 2
    assert d1.loc["apple", "score"] == pt.approx(round(2 * idf1, 6))
    assert d1.loc["apple", "rank"] == 1  # 2*idf1 > 1*idf2
    assert d1.loc["banana", "rank"] == 2
    d2 = out[out.doc_id == 2].set_index("word")
    # banana (idf2) vs cherry (idf1): cherry rarer -> higher score
    assert d2.loc["cherry", "rank"] == 1
    assert d2.loc["banana", "score"] == pt.approx(round(idf2, 6))
    # empty doc produces no rows
    assert 3 not in set(out.doc_id)


def test_select_canonical_longest_wins_ties_to_lowest_id(spark):
    """Canonical-survivor selection per duplicate cluster: longest text
    wins, ties break to the lowest id; singletons are their own
    canonical; custom order_by overrides the rule."""
    import pandas as pd

    from topo_descriptors_spark.operators.dedup import select_canonical

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": ["short", "longer text", "longer ____", "solo", "x"],
                "quality": [0.9, 0.1, 0.5, 0.3, 0.2],
            }
        )
    )
    comp = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4, 5], "component": [1, 1, 1, 4, 5]}
        )
    )
    out = (
        select_canonical(docs, comp)
        .toPandas().set_index("doc_id").sort_index()
    )
    # cluster 1: docs 2 and 3 tie on length 11 -> lowest id (2) wins
    assert out.loc[1, "canonical_id"] == 2 and not out.loc[1, "is_canonical"]
    assert out.loc[2, "is_canonical"] and out.loc[2, "canonical_id"] == 2
    assert not out.loc[3, "is_canonical"]
    # singletons canonical themselves
    assert out.loc[4, "is_canonical"] and out.loc[4, "canonical_id"] == 4
    assert out.loc[5, "is_canonical"] and out.loc[5, "canonical_id"] == 5
    # exactly one canonical per cluster
    assert out.groupby("component")["is_canonical"].sum().eq(1).all()
    # quality-based override: doc 1 (q=.9) becomes cluster 1's survivor
    from pyspark.sql import functions as F

    out_q = (
        select_canonical(
            docs, comp,
            order_by=[F.col("quality").desc(), F.col("doc_id").asc()],
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out_q.loc[1, "is_canonical"] and out_q.loc[2, "canonical_id"] == 1


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------

def test_bigram_logprob_hand_calc(spark):
    import math

    import pytest as _pt
    from topo_descriptors_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x"), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["neg_logprob2"]) for r in
           bigram_logprob(df).collect()}
    # corpus bigrams: d1: (a,b),(b,a),(a,b); d2: (a,b)
    # C2(a,b)=3, C2(b,a)=1; C1(a)=3, C1(b)=1; V = |{a,b}| = 2
    p_ab = (3 + 1) / (3 + 2)
    p_ba = (1 + 1) / (1 + 2)
    d1 = -(math.log(p_ab) * 2 + math.log(p_ba)) / 3
    assert got[1][0] == 3
    assert got[1][1] == _pt.approx(d1)
    assert got[2] == (1, _pt.approx(-math.log(p_ab)))
    # <2 words / NULL text -> zero bigrams, NULL score (doc still present)
    assert got[3] == (0, None)
    assert got[4] == (0, None)


def test_bigram_logprob_min_count_floor(spark):
    import math

    import pytest as _pt
    from topo_descriptors_spark.operators.text import bigram_logprob

    # (b,a) occurs once -> dropped by min_count=2 -> scores the floor
    # k/(C1+kV); (a,b) stays in-model with UNCHANGED probability
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["neg_logprob2"] for r in
           bigram_logprob(df, min_count=2).collect()}
    p_ab = (3 + 1) / (3 + 2)
    floor_ba = 1.0 / (1 + 2)  # (0 + k) / (C1(b) + kV)
    d1 = -(math.log(p_ab) * 2 + math.log(floor_ba)) / 3
    assert got[1] == _pt.approx(d1)
    assert got[2] == _pt.approx(-math.log(p_ab))


# ---------------------------------------------------------------------------
# fuzzy_pairs_ed1 (deletion-neighborhood blocking)
# ---------------------------------------------------------------------------

def test_fuzzy_ed1_all_edit_kinds(spark):
    from topo_descriptors_spark.operators.dedup import fuzzy_pairs_ed1

    df = spark.createDataFrame(
        [
            (1, "hello"), (2, "hello"),    # identical (dist 0)
            (3, "hallo"),                  # substitution vs 1/2
            (4, "helo"),                   # deletion vs 1/2 and vs 3? no
            (5, "hello!"),                 # insertion vs 1/2
            (6, "world"),                  # unrelated
            (7, None),                     # null excluded
        ],
        "doc_id long, s string",
    )
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in
           fuzzy_pairs_ed1(df, "s").collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1   # substitution
    assert got[(1, 4)] == 1 and got[(2, 4)] == 1   # deletion
    assert got[(1, 5)] == 1 and got[(2, 5)] == 1   # insertion
    assert not any(6 in p or 7 in p for p in got)
    # blocking admits ED-2 candidates (e.g. halo vs hello via shared
    # variant chains) but the exact verify must reject them
    assert all(d <= 1 for d in got.values())


def test_fuzzy_ed1_exactness_vs_naive(spark):
    """Blocking+verify must equal the naive quadratic ED<=1 join."""
    import itertools

    import numpy as np

    from topo_descriptors_spark.operators.dedup import fuzzy_pairs_ed1

    rng = np.random.RandomState(5)
    alphabet = "abc"
    strs = ["".join(rng.choice(list(alphabet), rng.randint(1, 6)))
            for _ in range(60)]
    df = spark.createDataFrame(list(enumerate(strs)), "doc_id long, s string")
    got = sorted((r["id_a"], r["id_b"]) for r in
                 fuzzy_pairs_ed1(df, "s", max_df=10**6).collect())

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    exp = sorted(
        (i, j) for (i, a), (j, b) in
        itertools.combinations(enumerate(strs), 2) if ed(a, b) <= 1
    )
    assert got == exp


def test_fuzzy_ed1_max_df_caps_megacluster(spark):
    from topo_descriptors_spark.operators.dedup import fuzzy_pairs_ed1

    df = spark.createDataFrame(
        [(i, "same") for i in range(50)] + [(100, "rare"), (101, "rarex")],
        "doc_id long, s string",
    )
    got = [(r["id_a"], r["id_b"]) for r in
           fuzzy_pairs_ed1(df, "s", max_df=10).collect()]
    # the 50-row identical cluster is capped out (would be 1225 pairs);
    # the small pair survives
    assert got == [(100, 101)]


# ------------ BM25, Gopher rules, token bigrams, token-prefix dedup, script
# ------------ profile, dataset card (hash-dependent ops are replayed with a
# ------------ Python re-implementation of the portable hash)


def _ptok(word: str, vocab: int = 4096) -> int:
    """Python replay of text.tokens_sql's portable hash token."""
    return int(hashlib.md5(word.lower().encode()).hexdigest()[:15], 16) % vocab


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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


def test_gopher_rules_map_only(spark, tiny_docs):
    plan = _plan_of(gopher_rules(tiny_docs))
    assert "Exchange" not in plan  # pure in-row expressions


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
