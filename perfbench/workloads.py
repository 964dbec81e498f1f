"""The benchmark's workloads: inputs, the timed job, the output check and
the layer ladder that the traced run times.

Each workload drives the engine only through its public functions and
runs on the session exactly as ``session.get_spark`` configures it.

A ladder is a list of ``(layer, previous_layer, build)``: ``build``
returns the DataFrame that the layer's public function produces on top
of the previous layer's, so materialising it times the cumulative prefix
and the layer's self time is its span minus the previous span.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import inputs

SEQ_FEATS = ["tpi_9", "std_25", "smooth_1p0", "sx"]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _close(a: np.ndarray, b: np.ndarray, rtol: float, atol: float) -> int:
    """Number of positions where ``a`` and ``b`` differ (NaN equals NaN)."""
    return int((~np.isclose(a, b, rtol=rtol, atol=atol, equal_nan=True)).sum())


class SeqExploded:
    """The north-star plan over seeded ``documents_tok`` docs: parquet scan,
    posexplode, multiscale window features and Sx, then an as-of join onto
    8 query positions per doc.  The packed twin is the output check.  The
    traced run also times the packed twin's ladder and profiles the
    streaming twin of a window feature (``StreamTwin``)."""

    name = "seq_exploded"
    n_docs = 1500
    n_check = 300
    synthetic = True

    def setup(self, spark, in_dir: str, seed: int) -> tuple[int, int]:
        self.in_dir, self.seed = in_dir, seed
        return inputs.write_documents_tok(spark, in_dir, self.n_docs, seed)

    def _tokens(self, spark, tok=None):
        from pyspark.sql import functions as F

        from topo_descriptors_spark.sources.io import read_table

        if tok is None:
            tok = read_table(spark, self.in_dir, "docs_tok")
        return tok.withColumn("doc_key", F.xxhash64("doc_id"))

    @staticmethod
    def _features(tok):
        from pyspark.sql import functions as F

        from topo_descriptors_spark.operators import window as W

        seq = tok.select(
            "doc_key", F.posexplode("tokens").alias("pos", "token")
        ).select("doc_key", "pos", F.col("token").cast("double").alias("value"))
        feats = W.multiscale_features(
            seq, [3, 9, 25], sigmas=[1.0], value="value", entity="doc_key",
            order="pos")
        return W.sx_1d(feats, radius_steps=5, value="value", entity="doc_key",
                       order="pos")

    @staticmethod
    def _pit(tok, feats):
        from pyspark.sql import functions as F

        from topo_descriptors_spark.operators.asof import asof_join

        q = tok.select(
            "doc_key", "n_tok",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("qi"),
        ).select(
            "doc_key",
            F.pmod(F.xxhash64("doc_key", "qi"), F.col("n_tok")).cast("long")
            .alias("q_pos"),
        )
        return asof_join(q, feats.select("doc_key", "pos", *SEQ_FEATS),
                         on="doc_key", q_ts="q_pos", s_ts="pos")

    @staticmethod
    def _packed(tok):
        from topo_descriptors_spark.operators import packed as PK

        q = PK.deterministic_query_positions(tok, 8)
        return PK.packed_features_at(q, [3, 9, 25], sigmas=[1.0],
                                     sx_radius_steps=5, keep_cols=("doc_key",))

    def run_job(self, spark) -> None:
        tok = self._tokens(spark)
        materialize(self._pit(tok, self._features(tok)))

    def check(self, spark) -> list[str]:
        """Exploded output on the first ``n_check`` docs of the written
        input against the packed form on a freshly generated corpus of
        ``n_check`` docs (a prefix of the same seeded corpus)."""
        from pyspark.sql import functions as F

        from topo_descriptors_spark.sources import synthetic

        cut = f"doc_{self.n_check:08d}"
        tok = self._tokens(spark).where(F.col("doc_id") < cut)
        got = self._pit(tok, self._features(tok)).select(
            "doc_key", F.col("q_pos").alias("pos"), *SEQ_FEATS).toPandas()
        fresh = self._tokens(spark, synthetic.documents_tok(
            spark, n_docs=self.n_check, seed=self.seed))
        want = self._packed(fresh).select("doc_key", "pos", *SEQ_FEATS).toPandas()
        if len(got) != len(want) or len(got) != 8 * self.n_check:
            return [f"rows: exploded {len(got)}, packed {len(want)}, "
                    f"expected {8 * self.n_check}"]
        got = got.sort_values(["doc_key", "pos"], kind="stable")
        want = want.sort_values(["doc_key", "pos"], kind="stable")
        bad = [c for c in ["doc_key", "pos"]
               if not np.array_equal(got[c].to_numpy(), want[c].to_numpy())]
        bad += [f"{c}: {n} values differ" for c in SEQ_FEATS
                if (n := _close(got[c].to_numpy(float), want[c].to_numpy(float),
                                1e-9, 1e-9))]
        return bad

    def ladders(self, spark):
        tok = self._tokens(spark)
        # only the columns the as-of join reads, as in the timed job
        feats = self._features(tok).select("doc_key", "pos", *SEQ_FEATS)
        return [
            ("sources.io", None, lambda: tok),
            ("operators.window", "sources.io", lambda: feats),
            ("operators.asof", "operators.window", lambda: self._pit(tok, feats)),
            ("operators.packed", "sources.io", lambda: self._packed(tok)),
        ]

    def trace_extras(self, spark, work: str, recorder) -> tuple[dict, list[str]]:
        """Exact output rows, and the streaming twin's profile and check."""
        tok = self._tokens(spark)
        rows_out = self._pit(tok, self._features(tok)).count()
        in_dir = os.path.join(work, "events")
        os.makedirs(in_dir)
        m, problems = StreamTwin().profile(spark, in_dir, self.seed, recorder)
        return {"operators.asof.rows_out": rows_out, **m}, problems


class NearDup:
    """Exact n-gram Jaccard near-dup pairs (the bench parameters) over a
    seeded, cohort-inflated documents table stored in fewer row groups
    than cores.  Checked against the DuckDB oracle of the declared query
    ``d_ngram_jaccard`` over the whole table."""

    name = "near_dup"
    n_base = 550
    copies = 4
    row_groups = 2
    synthetic = False
    params = {"shingle_n": 3, "threshold": 0.12, "max_df": 100}

    def setup(self, spark, in_dir: str, seed: int) -> tuple[int, int]:
        self.in_dir = in_dir
        return inputs.write_documents(in_dir, self.n_base, self.copies, seed,
                                      self.row_groups)

    def _docs(self, spark):
        from topo_descriptors_spark.sources.io import read_table

        return read_table(spark, self.in_dir, "documents")

    def _pairs(self, spark, **over):
        from topo_descriptors_spark.operators import dedup

        return dedup.ngram_jaccard_pairs(self._docs(spark),
                                         **{**self.params, **over})

    def run_job(self, spark) -> None:
        materialize(self._pairs(spark))

    def check(self, spark) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()["d_ngram_jaccard"].replace(
            entry._DOCS_HALF_SQL, "")
        path = os.path.join(self.in_dir, "documents.parquet")
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            want = {(int(a), int(b), round(float(j), 6))
                    for a, b, j in con.execute(sql).fetchall()}
        finally:
            con.close()
        got = {(int(r.id_a), int(r.id_b), round(float(r.jaccard), 6))
               for r in self._pairs(spark).collect()}
        if not want:
            return ["oracle found no pairs"]
        if got != want:
            return [f"pairs: spark {len(got)}, duckdb {len(want)}, "
                    f"{len(got ^ want)} differ"]
        return []

    def ladders(self, spark):
        from topo_descriptors_spark.operators import text

        docs = self._docs(spark)
        return [
            ("sources.io", None, lambda: docs),
            ("operators.text", "sources.io",
             lambda: text.with_shingle_hashes(docs, "text", 3, "_sh")),
            ("operators.dedup", "operators.text", lambda: self._pairs(spark)),
        ]

    def trace_extras(self, spark, work: str, recorder) -> tuple[dict, list[str]]:
        """Exact postings and pair counts; candidates are the same call
        with ``threshold=0``."""
        from pyspark.sql import functions as F

        from topo_descriptors_spark.operators import text

        sh = text.with_shingle_hashes(self._docs(spark), "text", 3, "_sh")
        postings = sh.select(F.sum(F.size(F.array_distinct("_sh")))).first()[0]
        pairs = self._pairs(spark).count()
        cand = self._pairs(spark, threshold=0.0).count()
        return {
            "operators.text.postings": postings,
            "operators.dedup.pairs": pairs,
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.useful_ratio": pairs / cand if cand else 0.0,
        }, []


class StreamTwin:
    """The streaming twin of a window feature: the declared query
    ``w_decayed_stream`` (per-entity decayed state through
    ``applyInPandasWithState``, drained ``availableNow``) over seeded,
    key-offset-inflated events, checked against the batch
    ``window.decayed_features`` fold it must equal."""

    n_base = 6_250
    n_users = 400
    copies = 4
    drains = 3  # the first is a warm-up
    half_life_s = 86400.0
    lookback = 50
    exact = ("batches", "state_partitions", "state_rows")

    def profile(self, spark, in_dir: str, seed: int, recorder) -> tuple[dict, list[str]]:
        """Drain the stream ``drains`` times; per-drain streaming metrics
        (medians of the timed drains) and the output check's problems."""
        import statistics

        import __spark_entry__ as entry

        from perfbench.tracing import drain_profile

        inputs.write_events(in_dir, self.n_base, self.n_users, self.copies, seed)
        runs = []
        for i in range(self.drains):
            out = entry.queries()["w_decayed_stream"](spark, in_dir)
            if not recorder.wait_terminated(i + 1):
                return {}, ["no termination event from the streaming listener"]
            runs.append(drain_profile(recorder.take()))
        runs = runs[1:]
        m = {f"streaming.{k}": (runs[-1][k] if k in self.exact
                                else statistics.median(r[k] for r in runs))
             for k in runs[-1]}
        return m, self.check(spark, in_dir, out)

    def check(self, spark, in_dir: str, drained) -> list[str]:
        from topo_descriptors_spark.operators import window as W
        from topo_descriptors_spark.sources.io import read_table

        got = drained.toPandas().sort_values("event_id")
        want = W.decayed_features(
            read_table(spark, in_dir, "events"), self.half_life_s,
            entity="user_id", order="ts", lookback_rows=self.lookback,
            tiebreak="event_id",
        ).select("event_id", "decayed_sum", "decayed_count").toPandas()
        want = want.sort_values("event_id")
        if len(got) != len(want) or not np.array_equal(
                got["event_id"].to_numpy(), want["event_id"].to_numpy()):
            return [f"stream rows: stream {len(got)}, batch {len(want)}"]
        # the declared query rounds to 6 decimals
        return [f"stream {c}: {n} values differ"
                for c in ["decayed_sum", "decayed_count"]
                if (n := _close(got[c].to_numpy(float), want[c].to_numpy(float),
                                1e-9, 1.5e-6))]


WORKLOADS = {w.name: w for w in (SeqExploded, NearDup)}
