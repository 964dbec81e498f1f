"""Physical-plan quality gates: pushdown, pruning, no pathological joins.

These tests pin the *plans*, not the results — the properties that decide
whether the engine survives a 100x scale-up (SURVEY.md §4).
"""

import re

import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators import window as W
from topo_descriptors_spark.operators.asof import asof_join
from topo_descriptors_spark.sources.io import read_table

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    ev = read_table(spark, SF, "events").where(F.col("user_id") == 7)
    plan = _plan(ev)
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in plan


def test_column_pruning_reaches_parquet(spark):
    ev = read_table(spark, SF, "events").select("user_id", "value")
    plan = _plan(ev)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {"user_id:bigint", "value:double"}


def test_window_filter_not_pushed_through_frame(spark):
    """A post-feature filter on the feature column must NOT prune input
    rows (they are window context); Catalyst keeps it above the Window."""
    ev = read_table(spark, SF, "events")
    out = W.tpi(ev, [9], value="value", entity="user_id", order="ts").where(
        F.col("tpi_9") > 0
    )
    plan = _plan(out)
    # the parquet scan must not contain a value/tpi filter
    scan = plan[plan.index("FileScan") :]
    assert "tpi" not in scan.split("ReadSchema")[0]


def test_asof_is_single_window_single_shuffle(spark):
    ev = read_table(spark, SF, "events")
    q = ev.select("user_id", F.col("ts").alias("q_ts"), "event_id").limit(100)
    s = ev.select("user_id", "ts", "value")
    plan = _plan(asof_join(q, s, on="user_id"))
    assert len(re.findall(r"^[\s+:*-]*Window\b", plan, re.M)) == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_partition_pruning_on_checkpointed_output(spark, tmp_path):
    out = str(tmp_path / "run")
    base = spark.range(100).select(
        (F.col("id") % 4).alias("part"), F.col("id").alias("v")
    )
    base.write.partitionBy("part").parquet(out)
    df = spark.read.parquet(out).where(F.col("part") == 2)
    plan = _plan(df)
    # partition filter applied at scan (PartitionFilters), data filters empty
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "part" in m.group(1)


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must arrive via broadcast — the 100-TB
    corpus side never shuffles for the overlap join."""
    from topo_descriptors_spark.operators.dedup import decontaminate

    docs = read_table(spark, SF, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0)
    plan = _plan(decontaminate(docs, bench, n=5))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_vocab_topk_aggregates_before_sort(spark):
    """Top-k must sort the AGGREGATED vocabulary (partial_count on the
    map side), never the exploded corpus: the plan's sort input is the
    aggregate, and the aggregation has a partial phase."""
    from topo_descriptors_spark.operators.text import vocab_topk

    plan = _plan(vocab_topk(read_table(spark, SF, "documents"), k=10))
    assert "partial_count" in plan  # map-side combine on the explode
    assert "TakeOrderedAndProject" in plan or "Sort" in plan
    assert "CartesianProduct" not in plan


def test_dedup_lines_no_cartesian_single_linecount_join(spark):
    from topo_descriptors_spark.operators.text import dedup_lines

    plan = _plan(dedup_lines(read_table(spark, SF, "documents")))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # line counts combine map-side


def test_ngram_jaccard_reuses_shingle_exchange(spark):
    """The (scan -> md5-shingle -> id exchange) subplan feeds three
    consumers (sizes, freq, kept) plus the pair self-join; the whole
    operator is only linear-ish because ReuseExchange dedupes it so the
    md5 shingle transform is not evaluated per consumer (a measured 4x
    regression if broken — dedup.py r6 A/B).  AQE only materializes
    reuse in the final adaptive plan, so this pin executes the query
    and asserts on the '== Final Plan ==' section: at most 2 plan nodes
    evaluate md5 and at least one ReusedExchange; without reuse every
    consumer re-evaluates the transform (6 md5 nodes, zero
    ReusedExchange).  The transform is counted, not the Generate: the
    explode runs after the exchange, on the per-id deduplicated array,
    once per consumer.  The second md5 node is the `freq` branch: the
    self-join's `a.doc_id < b.doc_id` infers an isnotnull(doc_id)
    filter into sizes and both kept sides, which cannot pass freq's
    groupBy(sh), so ReuseExchange cannot match that branch.  Filtering
    null ids up front would leave 1 md5 node but change the max_df
    counts, which include null-id docs in the DuckDB oracle
    (test_text_dedup.py::
    test_ngram_jaccard_null_id_counts_toward_max_df)."""
    from topo_descriptors_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, SF, "documents")
    df = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.12, max_df=100)
    df.collect()  # AQE: reuse only appears once the plan is final
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    n_md5 = sum("md5(" in line for line in final.splitlines())
    n_reused = final.count("ReusedExchange")
    assert n_md5 <= 2, (
        f"md5 shingle transform evaluated {n_md5}x in the final plan - "
        "the shared-subplan ReuseExchange is broken (4x regression)"
    )
    assert n_reused >= 1, "no ReusedExchange in the final ngram_jaccard plan"


def test_ngram_jaccard_postings_partitioned_by_doc_id_once(
        spark, sf_correct_dir):
    """The shingle-hash arrays are hash-partitioned by doc_id once, into
    defaultParallelism partitions (REPARTITION_BY_NUM, which AQE cannot
    coalesce to one task).  The per-id dedup, sizes, the kept self-join's
    stream side and the pair count inherit it, so the final plan has no
    two-key hashpartitioning(doc_id, doc_id) pair exchange.  Every join
    stays an equi-join on the shingle hash: no nested-loop or cartesian
    join."""
    from topo_descriptors_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, sf_correct_dir, "documents")
    df = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.12, max_df=100)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert not re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L?, doc_id#\d+L?", final)
    by_num = re.findall(
        r"Exchange hashpartitioning\(doc_id#\d+L?, (\d+)\), REPARTITION_BY_NUM",
        final)
    assert by_num and set(by_num) == {str(spark.sparkContext.defaultParallelism)}
    assert "BroadcastHashJoin" in final
    assert "NestedLoopJoin" not in final
    assert "CartesianProduct" not in final
