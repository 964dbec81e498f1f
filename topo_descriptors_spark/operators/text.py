"""Text-analysis operators for training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting and
document fingerprinting over a ``documents(doc_id, text, ...)`` table.
All pure JVM-side expressions (split/regexp/array lambdas) — no Python
UDFs anywhere.

Cross-engine determinism: every hash in the dedup/fingerprint family is
the *portable hash* — the top 15 hex digits (60 bits) of md5 as int64 —
which DuckDB reproduces exactly (``('0x'||substr(md5(s),1,15))::BIGINT``),
so even hash-based operators can get exact SQL oracles.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from topo_descriptors_spark.functions.validate import require_cols, reserve_cols

# portable 60-bit hash: identical in Spark and DuckDB (see module docstring).
# {col} may be any SQL expression evaluating to a string.
PORTABLE_HASH_SQL = "cast(conv(substr(md5(cast({col} as binary)),1,15),16,10) as bigint)"
# modulus for affine re-hash families; 31 bits so (a*h+b) stays in int64
HASH_PRIME = 2_147_483_647


def portable_hash(col: str) -> Column:
    """Portable hash of a column (or SQL expression string)."""
    return F.expr(PORTABLE_HASH_SQL.format(col=col))


def words_sql(text: str = "text") -> str:
    """SQL for whitespace tokenization with empty tokens dropped — matches
    DuckDB ``list_filter(string_split_regex(text,'\\s+'), w -> w <> '')``."""
    return f"filter(split({text}, '\\\\s+'), w -> w != '')"


def words_col(text: str = "text") -> Column:
    return F.expr(words_sql(text))


def shingles_from_words_sql(wcol: str, n: int = 3) -> str:
    """Shingle SQL over an already-materialized words column (cheap
    attribute reference — safe for Catalyst to inline)."""
    parts = ", ".join(f"element_at({wcol}, i + {j + 1})" for j in range(n))
    return (
        f"case when size({wcol}) >= {n} then "
        f"transform(sequence(0, size({wcol}) - {n}), i -> concat_ws(' ', {parts})) "
        f"else array() end"
    )


def with_words(df: DataFrame, text: str = "text", out: str = "_words") -> DataFrame:
    """Materialize the tokenized words array as a column.

    Performance-critical: a words/hash array referenced N times must be a
    real column — Catalyst's CollapseProject re-inlines only cheap or
    single-use expressions, so this single materialization stops the
    md5/split work from being recomputed per consumer (measured 7x on
    the minhash signature).
    """
    require_cols(df, "with_words", **{text: "string"})
    return df.withColumn(out, F.expr(words_sql(text)))


def with_shingle_hashes(
    df: DataFrame, text: str = "text", n: int = 3, out: str = "_shash"
) -> DataFrame:
    """Materialize the array of portable shingle hashes as a column
    (words and shingles are intermediate single-use columns, so Catalyst
    may inline them; the hash array itself stays materialized)."""
    h = PORTABLE_HASH_SQL.format(col="s")
    d = with_words(df, text, "_w_tmp")
    d = d.withColumn("_sh_tmp", F.expr(shingles_from_words_sql("_w_tmp", n)))
    d = d.withColumn(out, F.expr(f"transform(_sh_tmp, s -> {h})"))
    return d.drop("_w_tmp", "_sh_tmp")


def token_count(df: DataFrame, text: str = "text", out: str = "n_tokens") -> DataFrame:
    require_cols(df, "token_count", **{text: "string"})
    return df.withColumn(out, F.size(words_col(text)))


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# the GPT-2-style split shape without the merges table
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_regex(
    df: DataFrame, text: str = "text", out: str = "n_tokens_bpe",
    pattern: str = BPE_ISH_PATTERN,
) -> DataFrame:
    """Regex token counting (BPE-ish pre-tokenization).  The pattern goes
    in as a Column literal, NOT an expr() string — Spark SQL string
    literals eat single backslashes, silently corrupting '\\s'."""
    require_cols(df, "token_count_regex", **{text: "string"})
    return df.withColumn(
        out, F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))
    )


# tiny per-language stopword marker lists for the stopword language
# heuristic; fold order fixes deterministic tie-breaks (first wins).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "nicht", "ist"],
    "fr": ["le", "et", "les", "des", "est"],
    "es": ["el", "de", "los", "que", "es"],
}


def _marker_hits(words: Column, markers: list[str]) -> Column:
    lw = F.transform(words, lambda w: F.lower(w))
    return F.size(F.filter(lw, lambda w: w.isin(*markers)))


def lang_id(df: DataFrame, text: str = "text", out: str = "pred_lang") -> DataFrame:
    """Stopword-count language heuristic; deterministic argmax (a later
    language replaces only on strictly greater score, so ties keep the
    earlier language); 'und' (undetermined) when nothing matches."""
    reserve_cols(df, "lang_id", "_lw")
    d = with_words(df, text, "_lw")
    d = d.withColumn("_lw", F.transform(F.col("_lw"), lambda w: F.lower(w)))
    lw = F.col("_lw")
    scored = None
    for lang, markers in LANG_MARKERS.items():
        hit = F.size(F.filter(lw, lambda w: w.isin(*markers)))
        struct = F.struct(hit.alias("score"), F.lit(lang).alias("lang"))
        scored = (
            struct
            if scored is None
            else F.when(struct["score"] > scored["score"], struct).otherwise(scored)
        )
    return d.withColumn(
        out, F.when(scored["score"] > 0, scored["lang"]).otherwise(F.lit("und"))
    ).drop("_lw")


def quality_score(df: DataFrame, text: str = "text", out: str = "quality") -> DataFrame:
    """Deterministic quality heuristics: token count, mean word length,
    stopword ratio, symbol ratio, and a composite score in [0, 1]
    (Gopher-style pretraining-corpus filter rules)."""
    reserve_cols(df, "quality_score", "_qw", "_nc")
    d = with_words(df, text, "_qw")
    w = F.col("_qw")
    n_tok = F.size(w)
    n_chars = F.length(F.col(text))
    d = d.withColumn("n_tokens", n_tok).withColumn("_nc", n_chars)
    n_tok, n_chars = F.col("n_tokens"), F.col("_nc")
    mean_wlen = F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tok > 0, _marker_hits(w, LANG_MARKERS["en"]) / n_tok
    ).otherwise(F.lit(0.0))
    alnum_chars = F.length(F.regexp_replace(F.col(text), "[^a-zA-Z0-9 ]", ""))
    symbol_ratio = F.when(n_chars > 0, (n_chars - alnum_chars) / n_chars).otherwise(
        F.lit(0.0)
    )
    d = (
        d.withColumn("mean_word_len", mean_wlen)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("symbol_ratio", symbol_ratio)
    )
    score = (
        F.when((F.col("n_tokens") >= 16) & (F.col("n_tokens") <= 4096), 0.25).otherwise(0.0)
        + F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10), 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.25).otherwise(0.0)
        + F.when(F.col("symbol_ratio") <= 0.1, 0.25).otherwise(0.0)
    )
    return d.withColumn(out, score).drop("_qw", "_nc")


def fingerprint(
    df: DataFrame, text: str = "text", shingle_n: int = 3, out: str = "fingerprint"
) -> DataFrame:
    """Document fingerprint: min portable-hash over word shingles (a
    1-permutation MinHash — stable under whitespace renormalization);
    falls back to the whole-text hash for docs shorter than one shingle."""
    d = with_shingle_hashes(df, text, shingle_n, "_fsh")
    return d.withColumn(
        out, F.coalesce(F.array_min(F.col("_fsh")), portable_hash(text))
    ).drop("_fsh")


def repetition_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Gopher-style repetition signals: ``dup_word_ratio`` (1 -
    distinct/total words), ``top_word_ratio`` (most frequent word's share)
    and ``dup_bigram_ratio`` (1 - distinct/total word bigrams).

    All within-row array expressions over ONE materialized words column —
    no shuffle, no joins; the per-row cost is O(words * distinct_words),
    bounded by document length (chunk absurdly long docs upstream).  The
    filter rule (drop when ratios are high) stays with the caller.
    """
    require_cols(df, "repetition_stats", **{text: "string"})
    reserve_cols(df, "repetition_stats", "_rw", "_rb")
    d = with_words(df, text, "_rw")
    w = F.col("_rw")
    n = F.size(w)
    distinct_n = F.size(F.array_distinct(w))
    dup_word = F.when(n > 0, 1.0 - distinct_n / n).otherwise(F.lit(0.0))
    top_freq = F.expr(
        "array_max(transform(array_distinct(_rw), "
        "d -> size(filter(_rw, x -> x = d))))"
    )
    top_word = F.when(n > 0, top_freq / n).otherwise(F.lit(0.0))
    d = d.withColumn("_rb", F.expr(shingles_from_words_sql("_rw", 2)))
    b = F.col("_rb")
    nb = F.size(b)
    dup_bigram = F.when(
        nb > 0, 1.0 - F.size(F.array_distinct(b)) / nb
    ).otherwise(F.lit(0.0))
    return (
        d.withColumn("n_words", n.cast("long"))
        .withColumn("dup_word_ratio", dup_word)
        .withColumn("top_word_ratio", top_word)
        .withColumn("dup_bigram_ratio", dup_bigram)
        .drop("_rw", "_rb")
    )


# PII patterns kept to the regex subset shared by Java (Spark) and RE2
# (DuckDB): character classes, +, {m,n} — no backrefs, no lookaround —
# so the gate oracle replays the exact same redaction
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}[-. ]\d{3,4}[-. ]\d{4}"


def redact_pii(
    df: DataFrame, text: str = "text", out: str = "text_redacted"
) -> DataFrame:
    """PII scrubbing for training corpora: replace emails and phone-like
    number groups with typed placeholder tokens and count what was
    removed — the standard pre-training privacy pass.

    Pure JVM expressions (regexp_extract_all + regexp_replace), one
    linear scan per row, no shuffle — at 100 TB this is a map-only stage
    that pipelines with the scan.  Patterns live in the Java∩RE2 regex
    subset so the DuckDB oracle applies the identical rules.  Emails are
    redacted before phones so digits inside an email never double-count.
    """
    require_cols(df, "redact_pii", **{text: "string"})
    reserve_cols(df, "redact_pii", "_t1")
    n_emails = F.size(F.regexp_extract_all(F.col(text), F.lit(PII_EMAIL), F.lit(0)))
    step1 = F.regexp_replace(F.col(text), PII_EMAIL, "<EMAIL>")
    d = df.withColumn("n_emails", n_emails.cast("long")).withColumn("_t1", step1)
    n_phones = F.size(F.regexp_extract_all(F.col("_t1"), F.lit(PII_PHONE), F.lit(0)))
    return (
        d.withColumn("n_phones", n_phones.cast("long"))
        .withColumn(out, F.regexp_replace(F.col("_t1"), PII_PHONE, "<PHONE>"))
        .drop("_t1")
    )


def vocab_topk(
    df: DataFrame, text: str = "text", k: int = 100,
    out_word: str = "word", out_count: str = "n",
) -> DataFrame:
    """Corpus vocabulary statistics: top-k lowercased whitespace words by
    frequency (ties break on word ascending — fully deterministic).

    100-TB shape: explode is linear and pipelines with the scan; the
    groupBy gets map-side partial aggregation, so the shuffle carries
    one row per (partition, word) — the vocabulary, not the corpus; the
    global top-k sorts only the aggregated vocab table (tiny vs input).
    """
    require_cols(df, "vocab_topk", **{text: "string"})
    w = (
        with_words(df.select(text), text, "_vw")
        .select(F.explode_outer("_vw").alias(out_word))
        .where(F.col(out_word).isNotNull())
        .select(F.lower(F.col(out_word)).alias(out_word))
    )
    counts = w.groupBy(out_word).agg(F.count(F.lit(1)).alias(out_count))
    return counts.orderBy(F.col(out_count).desc(), F.col(out_word).asc()).limit(k)


def unigram_logprob(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    out: str = "neg_logprob",
    broadcast_vocab: bool | str = "auto",
    min_count: int = 1,
    vocab_size: int | None = None,
    smoothing_count: float = 1.0,
) -> DataFrame:
    """Unigram language-model quality proxy (CCNet-style): per doc, the
    mean negative log-probability of its words under the CORPUS unigram
    distribution — high values mark gibberish / rare-token soup, low
    values mark repetitive boilerplate; the cheap stand-in for a
    perplexity filter when no external LM is available.

    Two linear passes over the exploded words: (1) corpus frequencies
    (map-side partial agg; shuffle carries the vocabulary only), (2) a
    words->freq equi-join and a per-doc mean.  Docs with no words
    return NULL.

    **Vocabulary bounding (the 100-TB safety valve).**  The frequency
    table of a web corpus is NOT broadcastable by default: Zipf's head
    is tiny, but the distinct-word tail (typos, hashes, garbage) grows
    with corpus size — 10⁹+ rows at 100 TB — so broadcasting the raw
    vocabulary OOMs the driver.  The model is therefore capped the way
    CCNet caps its LM vocabulary: words below ``min_count`` and/or
    outside the ``vocab_size`` most frequent (ties break on word
    ascending — deterministic) fall OUT of the vocab, and every
    out-of-vocab word scores as a rare-word floor with pseudo-count
    ``smoothing_count`` (``-ln(smoothing_count / total)``, total over
    ALL words, so in-vocab probabilities are unchanged).  ``min_count=1``
    with ``vocab_size=None`` keeps the exact uncapped model.

    ``broadcast_vocab="auto"`` broadcasts ONLY when a cap is set
    (``min_count > 1`` or ``vocab_size``) — a capped vocab is
    driver-bounded by construction; the uncapped model falls back to a
    shuffle join that AQE may still convert.  Pass ``True``/``False``
    to force either side.
    """
    require_cols(df, "unigram_logprob",
                 **{id_col: "atomic", text: "string"})
    capped = int(min_count) > 1 or vocab_size is not None
    if broadcast_vocab == "auto":
        do_broadcast = capped
    else:
        do_broadcast = bool(broadcast_vocab)
    w = (
        with_words(df.select(id_col, text), text, "_uw")
        .select(id_col, F.explode_outer("_uw").alias("_word"))
        .where(F.col("_word").isNotNull())
        .select(id_col, F.lower(F.col("_word")).alias("_word"))
    )
    freq = w.groupBy("_word").agg(F.count(F.lit(1)).alias("_cnt"))
    # total mass over ALL words (before any cap) — capping changes which
    # words hit the OOV floor, never the in-vocab probabilities
    total = freq.agg(F.sum("_cnt").cast("double").alias("_tot"))
    if int(min_count) > 1:
        freq = freq.where(F.col("_cnt") >= F.lit(int(min_count)))
    if vocab_size is not None:
        freq = (
            freq.orderBy(F.col("_cnt").desc(), F.col("_word").asc())
            .limit(int(vocab_size))
        )
    if do_broadcast:
        freq = F.broadcast(freq)
    join_how = "left" if capped else "inner"
    scored = (
        w.join(freq, "_word", join_how)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_lp",
            -F.log(
                F.coalesce(F.col("_cnt"), F.lit(float(smoothing_count)))
                / F.col("_tot")
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.avg("_lp").alias(out), F.count(F.lit(1)).alias("n_words")
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.col(out),
        )
    )


def tfidf_topk(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Top-k TF-IDF terms per document — the standard keyword/topic
    signal for corpus curation (domain tagging, near-topic sampling,
    quality-by-vocabulary filters).

    Model: ``tf`` = term occurrences in the doc (lowercased whitespace
    words); ``idf = ln((N + 1) / (df + 1)) + 1`` (sklearn's smoothed
    idf — never zero, no division by zero on corpus-wide terms);
    ``score = tf · idf`` rounded to ``round_digits`` BEFORE ranking so
    the ranking is reproducible across engines; ties break on word
    ascending.  Docs with no words produce no rows.

    100-TB shape: the (doc, word) tf aggregation is the corpus's
    positional index — inherent to tf-idf and map-side combined; the
    document-frequency table is VOCABULARY-sized (one row per distinct
    word) and joins back to tf on the word key (AQE may broadcast it;
    the join input is the tf table, already ~10× smaller than the
    exploded corpus); N is a one-row broadcast.  The final top-k is a
    per-doc window over k·docs candidate rows, never a global sort.
    """
    require_cols(df, "tfidf_topk", **{id_col: "atomic", text: "string"})
    from pyspark.sql import Window

    w = (
        with_words(df.select(id_col, text), text, "_tw")
        .select(id_col, F.explode_outer("_tw").alias("_word"))
        .where(F.col("_word").isNotNull())
        .select(id_col, F.lower(F.col("_word")).alias("word"))
    )
    tf = w.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1) / (F.col("_df") + 1)) + 1),
                int(round_digits),
            ),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(
                F.col("score").desc(), F.col("word").asc()
            )
        ),
    )
    return ranked.where(F.col("rank") <= int(k)).select(
        id_col, "word", F.col("tf").cast("long").alias("tf"), "score", "rank"
    )


def dedup_lines(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_df: int = 1,
    sep: str = "\n",
    out: str = "text_dedup",
    max_stop_lines: int | None = 10_000_000,
) -> DataFrame:
    """Corpus-level line deduplication (the C4/RefinedWeb boilerplate
    rule): drop every line whose corpus-wide occurrence count exceeds
    ``max_df`` (default 1 — any line appearing in more than one place
    is boilerplate: nav menus, cookie banners, signatures), keeping
    each document's surviving lines in original order.

    **Broadcast stop-line plan — zero corpus-wide shuffles.**  The old
    plan (explode → count-join on ``_line`` → groupBy(doc) reassembly)
    shuffled the whole corpus twice, with the join key skewed on
    exactly the boilerplate being dropped (10⁹ copies of one cookie
    banner on one reducer).  This plan never shuffles a document:

    1. count lines — explode is linear and pipelines with the scan; the
       groupBy gets map-side partial aggregation, so the shuffle
       carries (distinct line, count) pairs — the line VOCABULARY, not
       the corpus;
    2. filter to the STOP set (``count > max_df``) — small by
       construction (only repeated boilerplate survives) — and collapse
       it to a single-row array via ``collect_set``;
    3. broadcast that one row onto every document (BroadcastNestedLoop
       with a 1-row build side = a map stage) and filter each doc's
       split-line array IN PLACE — no reassembly groupBy, docs never
       leave their input partitions, output order is input order.

    Per-row cost is O(lines_per_doc × |stop set|) string compares
    (``array_contains`` is linear); if the stop set is large and lines
    are long, hashing both sides (xxhash64) shrinks compares to 8-byte
    ints at 2⁻⁶⁴ collision risk — not done here to keep the rule
    exactly the naive C4 semantics.  ``max_stop_lines`` is the
    guard-and-raise bound on the broadcast side (engine convention):
    the job fails loudly if boilerplate diversity exceeds it, instead
    of silently OOMing the driver; ``None`` disables.

    Every document survives: NULL ``text`` yields NULL ``text_dedup``
    and ``n_dropped = 0`` (the old plan silently dropped such docs via
    a null-unsafe join); a doc whose every line is boilerplate yields
    ``''``.  All other input columns pass through unchanged.
    """
    require_cols(df, "dedup_lines", **{id_col: "atomic", text: "string"})
    reserve_cols(df, "dedup_lines", "_larr", "_stop", "_stop_n", "_kept")
    arr = F.split(F.col(text), F.lit(sep), -1)
    lines = (
        df.select(F.explode_outer(arr).alias("_line"))
        .where(F.col("_line").isNotNull())
    )
    counts = lines.groupBy("_line").agg(F.count(F.lit(1)).alias("_df"))
    stop = counts.where(F.col("_df") > F.lit(int(max_df)))
    stop_agg = stop.agg(
        F.collect_set("_line").alias("_stop"),
        F.count(F.lit(1)).alias("_stop_n"),
    )
    d = df.withColumn("_larr", arr).crossJoin(F.broadcast(stop_agg))
    if max_stop_lines is not None:
        lim = int(max_stop_lines)
        d = d.withColumn(
            "_stop",
            F.when(F.col("_stop_n") <= F.lit(lim), F.col("_stop")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "dedup_lines: stop-line set exceeds "
                            f"max_stop_lines={lim} ("
                        ),
                        F.col("_stop_n").cast("string"),
                        F.lit(
                            " lines) — boilerplate diversity too high to "
                            "broadcast; raise max_stop_lines or lower max_df"
                        ),
                    )
                ).cast(d.schema["_stop"].dataType)
            ),
        )
    kept = F.filter(
        F.col("_larr"), lambda line: ~F.array_contains(F.col("_stop"), line)
    )
    d = d.withColumn("_kept", kept)
    return (
        d.withColumn(out, F.array_join(F.col("_kept"), sep))
        .withColumn(
            "n_dropped",
            F.coalesce(
                (F.size("_larr") - F.size("_kept")).cast("long"), F.lit(0)
            ),
        )
        .drop("_larr", "_stop", "_stop_n", "_kept")
    )


def bigram_logprob(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    out: str = "neg_logprob2",
    min_count: int = 1,
    smoothing: float = 1.0,
    broadcast_model: bool | str = "auto",
) -> DataFrame:
    """Bigram language-model quality proxy: per doc, the mean negative
    log-probability of each word given its predecessor under the CORPUS
    bigram model with add-k smoothing —

        P(c | p) = (C2(p,c) + k) / (C1(p) + k·V)

    where C2 is the bigram count, C1(p) the count of p as a bigram
    CONTEXT, and V the distinct-successor vocabulary size.  Catches
    word-salad that unigram statistics miss (every word common, no pair
    ever seen together).  Docs with fewer than 2 words return NULL.

    Scale (the unigram_logprob story, one order up): bigram pairing is
    IN-ROW (array index arithmetic — no window, no per-doc sort); the
    shuffles carry the bigram/context vocabularies, never the corpus.
    The bigram table grows faster than the unigram vocab, so the same
    safety valve applies: ``min_count`` drops rare bigrams from the
    model (they score through the smoothing floor; context counts and V
    are NEVER capped, so in-model probabilities are unchanged) and
    ``broadcast_model="auto"`` broadcasts the model tables only when a
    cap bounds them.
    """
    require_cols(df, "bigram_logprob", **{id_col: "atomic", text: "string"})
    capped = int(min_count) > 1
    do_broadcast = capped if broadcast_model == "auto" else bool(broadcast_model)
    k = float(smoothing)

    w = with_words(df.select(id_col, text), text, "_bw")
    # CASE guard: sequence(2, n) DESCENDS for n < 2 (step defaults to
    # -1), which would index element_at out of range under ANSI
    pairs = (
        "case when size(_bw) >= 2 then "
        "transform(sequence(2, size(_bw)), "
        "i -> named_struct('p', lower(element_at(_bw, i - 1)), "
        "'c', lower(element_at(_bw, i)))) "
        "else array() end"
    )
    b = (
        w.withColumn("_bp", F.expr(pairs))
        .select(id_col, F.explode_outer("_bp").alias("_pc"))
        .where(F.col("_pc").isNotNull())
        .select(id_col, F.col("_pc.p").alias("_p"), F.col("_pc.c").alias("_c"))
    )
    c2 = b.groupBy("_p", "_c").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = b.groupBy("_p").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = b.agg(F.count_distinct("_c").cast("double").alias("_v"))
    if capped:
        c2 = c2.where(F.col("_c2") >= F.lit(int(min_count)))
    if do_broadcast:
        c2, c1 = F.broadcast(c2), F.broadcast(c1)
    scored = (
        b.join(c2, ["_p", "_c"], "left")
        .join(c1, "_p", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "_lp",
            -F.log(
                (F.coalesce(F.col("_c2"), F.lit(0.0)) + F.lit(k))
                / (F.coalesce(F.col("_c1"), F.lit(0.0)) + F.lit(k) * F.col("_v"))
            ),
        )
        .groupBy(id_col)
        .agg(
            F.avg("_lp").alias(out),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.col(out),
        )
    )


# ---------------------------------------------------------------------------
# Portable integer tokens (hash-vocab), BM25, Gopher rules, token bigrams
# ---------------------------------------------------------------------------


def tokens_sql(text: str = "text", vocab: int = 4096, lower: bool = True) -> str:
    """SQL for a pre-tokenized ``array<int>`` view of a text column: the
    portable 60-bit hash of each (lowercased) whitespace word, mod a
    fixed vocab — the same hash-vocab family the packed flagship uses,
    so DuckDB replays it bit-for-bit
    (``(('0x'||substr(md5(lower(w)),1,15))::BIGINT % vocab)::INT``)."""
    w = "lower(w)" if lower else "w"
    h = PORTABLE_HASH_SQL.format(col=w)
    return f"transform({words_sql(text)}, w -> cast({h} % {vocab} as int))"


def bm25_score(
    df: DataFrame,
    query_terms: Sequence[str],
    text: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    out: str = "bm25",
    round_digits: int = 6,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed bag of
    query terms — the retrieval-side scorer for corpus curation
    (seed-document mining, topic-targeted sampling, RAG indexing):

    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with the Lucene-style always-positive idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``.

    100-TB shape: the query-term list is a tiny LITERAL, so per-doc term
    frequencies are in-row array-lambda counts — no positional-index
    explode, no shuffle.  Corpus statistics (N, Σdl, per-term df)
    collapse in ONE scalar aggregation to a single row that is
    cross-joined back with an explicit broadcast; the corpus is scanned,
    never shuffled.  Contrast tfidf_topk, which needs the full (doc,
    word) index because its term set is open.
    """
    require_cols(df, "bm25_score", **{id_col: "atomic", text: "string"})
    reserve_cols(df, "bm25_score", "_bw", "_lw", "_dl", "_n", "_avgdl")
    terms = [t.lower() for t in query_terms]
    if not terms or len(set(terms)) != len(terms):
        raise ValueError("query_terms must be non-empty and distinct")
    d = with_words(df, text, "_bw")
    d = d.withColumn("_lw", F.transform("_bw", lambda w: F.lower(w)))
    d = d.withColumn("_dl", F.size("_bw").cast("double"))
    for i, t in enumerate(terms):
        d = d.withColumn(
            f"_tf{i}",
            F.size(F.filter("_lw", lambda w: w == F.lit(t))).cast("double"),
        )
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        (F.sum("_dl") / F.count(F.lit(1))).alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("double")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf, dfq = F.col(f"_tf{i}"), F.col(f"_df{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("_n") - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / denom
    return scored.select(
        *df.columns,
        F.col("_dl").cast("long").alias("n_words"),
        F.round(score, int(round_digits)).alias(out),
    )


# Gopher-style quality rule thresholds (Rae et al. 2021, table A1 — the
# public filter recipe); fractions are rounded before comparison so the
# boolean flags replay identically in SQL.
GOPHER_BULLET_RE = r"^\s*[-*•]"
GOPHER_ELLIPSIS_RE = r"(\.\.\.|…)\s*$"


def gopher_rules(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    round_digits: int = 6,
) -> DataFrame:
    """Gopher/MassiveText document-quality rules — the standard public
    heuristic battery for web-corpus filtering: word-count bounds, mean
    word length bounds, minimum fraction of words containing a letter,
    and caps on bullet-started / ellipsis-ended lines.

    Emits the measured statistics, one boolean per rule, and
    ``gopher_pass`` (the conjunction).  Everything is an in-row array /
    regexp expression over the words and lines of the document — purely
    map-side, no shuffle, no Python; at 100 TB this pipelines with the
    scan and the filter pushes into the next stage for free.
    """
    require_cols(df, "gopher_rules", **{id_col: "atomic", text: "string"})
    reserve_cols(df, "gopher_rules", "_gw", "_lines")
    d = with_words(df, text, "_gw")
    d = d.withColumn("_lines", F.filter(
        F.split(F.col(text), "\n"), lambda ln: F.trim(ln) != ""
    ))
    n_words = F.size("_gw")
    n_lines = F.size("_lines")
    rd = int(round_digits)
    mean_wl = F.when(
        n_words > 0,
        F.round(
            F.aggregate(
                "_gw", F.lit(0.0), lambda acc, w: acc + F.length(w)
            ) / n_words,
            rd,
        ),
    )
    alpha_frac = F.when(
        n_words > 0,
        F.round(
            F.size(F.filter("_gw", lambda w: w.rlike("[A-Za-z]"))) / n_words, rd
        ),
    )
    bullet_frac = F.when(
        n_lines > 0,
        F.round(
            F.size(F.filter("_lines", lambda ln: ln.rlike(GOPHER_BULLET_RE)))
            / n_lines,
            rd,
        ),
    )
    ellipsis_frac = F.when(
        n_lines > 0,
        F.round(
            F.size(F.filter("_lines", lambda ln: ln.rlike(GOPHER_ELLIPSIS_RE)))
            / n_lines,
            rd,
        ),
    )
    d = (
        d.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_wl)
        .withColumn("alpha_frac", alpha_frac)
        .withColumn("bullet_frac", bullet_frac)
        .withColumn("ellipsis_frac", ellipsis_frac)
    )
    ok_words = F.col("n_words").between(min_words, max_words)
    ok_mean = F.coalesce(
        F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len),
        F.lit(False),
    )
    ok_alpha = F.coalesce(F.col("alpha_frac") >= min_alpha_frac, F.lit(False))
    # no lines at all → the line rules pass vacuously (the word rules
    # already reject empty docs)
    ok_bullet = F.coalesce(F.col("bullet_frac") <= max_bullet_frac, F.lit(True))
    ok_ellipsis = F.coalesce(
        F.col("ellipsis_frac") <= max_ellipsis_frac, F.lit(True)
    )
    return d.select(
        *df.columns,
        "n_words", "mean_word_len", "alpha_frac", "bullet_frac", "ellipsis_frac",
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_words"),
        ok_bullet.alias("ok_bullet_lines"),
        ok_ellipsis.alias("ok_ellipsis_lines"),
        (ok_words & ok_mean & ok_alpha & ok_bullet & ok_ellipsis).alias(
            "gopher_pass"
        ),
    )


def token_bigram_topk(
    df: DataFrame,
    text: str = "text",
    vocab: int = 4096,
    k: int = 100,
) -> DataFrame:
    """Corpus-wide top-k token bigrams over the hash-vocab pre-tokenized
    view of the corpus — the token-level co-occurrence table that seeds
    BPE-merge candidates and n-gram LM estimation.

    Plan: the bigram array is built IN-ROW (transform over an index
    sequence — the token array never leaves the row), explode is linear
    and pipelines with the scan, and the groupBy's map-side combine
    means the shuffle carries at most |vocab|² (bounded, corpus-size
    independent) bigram keys.  The final top-k is a
    TakeOrderedAndProject, never a global sort.
    """
    require_cols(df, "token_bigram_topk", **{text: "string"})
    reserve_cols(df, "token_bigram_topk", "_toks", "_bg")
    # materialize the token array ONCE: element_at inside the pair lambda
    # re-evaluates its receiver expression, so an inline tokens_sql would
    # recompute the md5 tokenization per element — O(len²) hashing
    # (measured 40× on the 500-doc gate fixture)
    d = df.select(F.expr(tokens_sql(text, vocab=vocab)).alias("_toks"))
    pairs = F.expr(
        """
        case when size(_toks) >= 2 then
          transform(sequence(1, size(_toks) - 1),
                    i -> struct(element_at(_toks, i) as ta,
                                element_at(_toks, i + 1) as tb))
        else array() end
        """
    )
    return (
        d.select(F.explode(pairs).alias("_bg"))
        .select(F.col("_bg.ta").alias("tok_a"), F.col("_bg.tb").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(int(k))
    )


# Unicode script blocks as explicit codepoint ranges — the Java∩RE2
# portable form (\p{script=...} names differ between engines)
SCRIPT_RANGES = {
    "latin": "A-Za-z",
    "cjk": "一-鿿぀-ヿ가-힯",  # Han+Kana+Hangul
    "cyrillic": "Ѐ-ӿ",
    "arabic": "؀-ۿ",
    "devanagari": "ऀ-ॿ",
}


def script_profile(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Unicode-script composition per document: the fraction of
    script-bearing characters in each major block (Latin, CJK,
    Cyrillic, Arabic, Devanagari) plus the dominant script — the
    language signal that works where stopword lists don't (unsegmented
    CJK, short strings, transliteration detection).

    Map-only in-row regexp counts over explicit codepoint ranges (the
    Java∩RE2-portable form, so DuckDB replays the fractions exactly);
    deterministic argmax (earlier script wins ties).  Characters outside
    every block (digits, punctuation, emoji) are excluded from the
    denominator; a doc with no script characters is 'und'.
    """
    require_cols(df, "script_profile", **{id_col: "atomic", text: "string"})
    # also reserve the OUTPUT names: the final select appends them to
    # *df.columns, so a pre-existing latin_frac would duplicate
    reserve_cols(
        df, "script_profile", "_n_script",
        *[f"_n_{n}" for n in SCRIPT_RANGES],
        *[f"{n}_frac" for n in SCRIPT_RANGES], "dominant_script",
    )
    rd = int(round_digits)
    d = df
    for name, rng in SCRIPT_RANGES.items():
        d = d.withColumn(
            f"_n_{name}",
            F.size(F.regexp_extract_all(F.col(text), F.lit(f"[{rng}]"), F.lit(0))),
        )
    total = sum(F.col(f"_n_{n}") for n in SCRIPT_RANGES)
    d = d.withColumn("_n_script", total)
    fracs = []
    for name in SCRIPT_RANGES:
        d = d.withColumn(
            f"{name}_frac",
            F.when(
                F.col("_n_script") > 0,
                F.round(F.col(f"_n_{name}") / F.col("_n_script"), rd),
            ),
        )
        fracs.append(name)
    # deterministic argmax: fold in declaration order, strict > keeps ties
    best_name, best_n = F.lit("und"), F.lit(0)
    for name in SCRIPT_RANGES:
        cond = F.col(f"_n_{name}") > best_n
        best_name = F.when(cond, F.lit(name)).otherwise(best_name)
        best_n = F.when(cond, F.col(f"_n_{name}")).otherwise(best_n)
    return d.select(
        *df.columns,
        *[f"{n}_frac" for n in fracs],
        best_name.alias("dominant_script"),
    )


def dataset_card(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    source_col: str | None = "source",
    round_digits: int = 6,
) -> DataFrame:
    """One-row corpus summary — the numbers a dataset card reports:
    document count, total/mean whitespace-token counts, empty-doc and
    exact-duplicate fractions, distinct sources.  ONE aggregation pass
    whose per-row inputs are in-row expressions; the duplicate fraction
    rides on count_distinct of the content md5 (exact; swap in the KMV
    sketch at the scale where exact distinct hurts).
    """
    require_cols(df, "dataset_card", **{id_col: "atomic", text: "string"})
    rd = int(round_digits)
    nw = F.size(F.expr(words_sql(text)))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(nw).cast("long").alias("total_words"),
        F.round(F.avg(nw), rd).alias("mean_words"),
        F.round(
            F.avg((F.coalesce(F.length(text), F.lit(0)) == 0).cast("double")), rd
        ).alias("empty_frac"),
        F.round(
            (
                F.lit(1.0)
                - F.count_distinct(F.md5(F.col(text).cast("binary")))
                / F.count(F.lit(1))
            ),
            rd,
        ).alias("dup_frac"),
    ]
    if source_col is not None and source_col in df.columns:
        aggs.append(F.count_distinct(F.col(source_col)).alias("n_sources"))
    return df.agg(*aggs)
