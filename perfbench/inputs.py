"""Seeded benchmark inputs, generated during set-up and written to parquet.

The same seed always gives the same bytes.  Every generator returns the
row count and the bytes written so each run's artifact records its input
size.  Nothing here is reused between runs: each run writes its own copy
under its own work directory.

* ``documents_tok`` comes from the engine's own ``sources.synthetic``
  generator (a hash of the doc id, so a smaller corpus is a prefix of a
  larger one).
* ``documents`` mirrors the shape of the sf0.1 ``documents`` table (words
  drawn from a 30-word vocabulary, 10-100 words a doc, about 5% exact
  copies of an earlier doc plus a ``dup`` marker), inflated with cohort
  copies the way ``scripts/make_scale_corpus.py`` does it: copy ``c > 0``
  inserts the token ``zq<c>x`` after every second word, so a copy shares
  no shingle with another cohort and the near-dup pair count grows
  linearly with the number of copies.
* ``events`` mirrors the sf0.1 ``events`` table (one month of events with
  microsecond timestamps, five event types, values 0-200), inflated with
  key-offset copies: copy ``c`` shifts ``user_id`` and ``event_id`` and
  keeps the timestamps.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_SHARE = 0.05
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
MONTH_US = 30 * 86400 * 1_000_000
T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def write_documents_tok(spark, out_dir: str, n_docs: int, seed: int) -> tuple[int, int]:
    """``sources.synthetic.documents_tok`` written as ``docs_tok.parquet``."""
    from topo_descriptors_spark.sources import synthetic

    path = os.path.join(out_dir, "docs_tok.parquet")
    synthetic.documents_tok(spark, n_docs=n_docs, seed=seed).write.mode(
        "overwrite").parquet(path)
    return n_docs, dir_bytes(path)


def _base_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, off = [], 0
    for i, k in enumerate(lens):
        texts.append(" ".join(vocab[words[off:off + k]]))
        off += k
        if i > 0 and rng.random() < DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _cohort_copy(text: str, c: int) -> str:
    if c == 0:
        return text
    tok = f"zq{c}x"
    out = []
    for j, w in enumerate(text.split(" ")):
        out.append(w)
        if j % 2 == 1:
            out.append(tok)
    return " ".join(out)


def write_documents(out_dir: str, n_base: int, copies: int, seed: int,
                    row_groups: int) -> tuple[int, int]:
    """``documents.parquet``: ``n_base`` seeded docs times ``copies``
    cohorts, in ``row_groups`` row groups (fewer than the cores, like the
    committed corpus, so ``sources.io.read_table`` fans the scan out)."""
    rng = np.random.default_rng([seed, 1])
    base = _base_texts(rng, n_base)
    langs = rng.choice(["en", "de", "fr", "es", "zh"], size=n_base,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    texts = [_cohort_copy(t, c) for c in range(copies) for t in base]
    n = len(texts)
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.tile(langs, copies).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl, path, row_group_size=-(-n // row_groups))
    return n, dir_bytes(path)


def write_events(out_dir: str, n_base: int, n_users: int, copies: int,
                 seed: int) -> tuple[int, int]:
    """``events.parquet``: ``n_base`` seeded events over ``n_users`` users,
    times ``copies`` key-offset copies, one file ordered by time."""
    rng = np.random.default_rng([seed, 2])
    ts = np.sort(rng.integers(0, MONTH_US, size=n_base)) + T0_US
    user = rng.integers(0, n_users, size=n_base)
    etype = np.array(EVENT_TYPES, dtype=object)[
        rng.integers(0, len(EVENT_TYPES), size=n_base)]
    value = np.round(rng.gamma(2.0, 25.0, size=n_base), 2)
    k = rng.integers(0, 100, size=n_base)
    c = np.repeat(np.arange(copies, dtype=np.int64), n_base)
    order = np.argsort(np.tile(ts, copies), kind="stable")
    tbl = pa.table({
        "event_id": pa.array((np.tile(np.arange(n_base), copies) + c * n_base)[order]),
        "ts": pa.array(np.tile(ts, copies)[order], pa.timestamp("us")),
        "user_id": pa.array((np.tile(user, copies) + c * n_users)[order]),
        "event_type": pa.array(np.tile(etype, copies)[order].tolist(), pa.string()),
        "value": pa.array(np.tile(value, copies)[order]),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in np.tile(k, copies)[order]],
                          pa.string()),
    })
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(tbl, path)
    return len(tbl), dir_bytes(path)
