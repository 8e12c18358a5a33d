"""Text-analysis operators for training-data curation.

All formulas are deliberately expressible in ANSI SQL (the DuckDB
oracle reproduces each one exactly): stopword-vote language ID, quality
scoring from length/punctuation/stopword ratios, whitespace + regex
token counting, and an md5-based document fingerprint. JVM-side column
expressions throughout — zero Python in any of these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lbf_spark.operators.dedup import tokens_col

# tiny stopword inventories — enough for a vote, deliberately small so
# the oracle SQL stays readable
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "dans"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con", "para", "del"],
}


def _vote(tokens, words: list[str]):
    quoted = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter(__toks, t -> t in ({quoted})))")


def lang_id(
    df: DataFrame, text_col: str = "text", out: str = "lang_pred"
) -> DataFrame:
    """Stopword-vote language ID. Ties/zero votes → 'und'. The argmax is
    decided by (votes desc, language code asc) — deterministic."""
    df = df.withColumn("__toks", tokens_col(text_col))
    langs = sorted(STOPWORDS)
    pairs = [
        F.struct(
            _vote(F.col("__toks"), STOPWORDS[lang]).alias("votes"),
            F.lit(lang).alias("lang"),
        )
        for lang in langs
    ]
    # array_max on struct = lexicographic (votes, lang); we want max votes
    # with *ascending* lang tiebreak → compare on (votes, reversed-lang)
    best = F.aggregate(
        F.array(*pairs),
        F.struct(F.lit(-1).alias("votes"), F.lit("zzz").alias("lang")),
        lambda acc, x: F.when(
            (x["votes"] > acc["votes"])
            | ((x["votes"] == acc["votes"]) & (x["lang"] < acc["lang"])),
            x,
        ).otherwise(acc),
    )
    return (
        df.withColumn("__best", best)
        .withColumn(
            out,
            F.when(F.col("__best.votes") > 0, F.col("__best.lang")).otherwise(
                F.lit("und")
            ),
        )
        .drop("__toks", "__best")
    )


def token_count(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Two token counts: whitespace split and word-regex split (a cheap
    BPE-proxy: alnum runs count 1 each, so punctuation-heavy text shows
    a regex/ws ratio > 1)."""
    ws = F.size(F.filter(F.split(F.col(text_col), "\\s+"), lambda x: x != ""))
    rx = F.size(tokens_col(text_col))
    return df.withColumn("n_tokens_ws", ws).withColumn("n_tokens_regex", rx)


def quality_score(
    df: DataFrame, text_col: str = "text", out: str = "quality"
) -> DataFrame:
    """Heuristic document quality in [0, 1]:
    0.25·len_ok + 0.25·(1 − punct_ratio·5 clamped) + 0.3·stopword_ratio·3
    clamped + 0.2·word_len_ok. Components:

    - len_ok: 1 if 200 ≤ n_chars ≤ 20000 else n_chars/200 (short) or 0.5 (long)
    - punct_ratio: non-alnum-non-space chars / chars
    - stop_ratio: english stopword tokens / tokens
    - word_len_ok: 1 if 3 ≤ mean token length ≤ 10 else 0.5
    """
    n_chars = F.length(F.col(text_col)).cast("double")
    punct = (
        F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9\\s]", ""))
        / F.greatest(n_chars, F.lit(1.0))
    )
    toks = tokens_col(text_col)
    n_tok = F.size(toks).cast("double")
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    stop_ratio = F.expr(
        f"size(filter(filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t != ''),"
        f" t -> t in ({quoted})))"
    ).cast("double") / F.greatest(n_tok, F.lit(1.0))
    mean_wlen = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_tok, F.lit(1.0))
    len_ok = (
        F.when((n_chars >= 200) & (n_chars <= 20000), 1.0)
        .when(n_chars < 200, n_chars / 200.0)
        .otherwise(0.5)
    )
    wlen_ok = F.when((mean_wlen >= 3) & (mean_wlen <= 10), 1.0).otherwise(0.5)
    score = (
        0.25 * len_ok
        + 0.25 * (1.0 - F.least(punct * 5.0, F.lit(1.0)))
        + 0.3 * F.least(stop_ratio * 3.0, F.lit(1.0))
        + 0.2 * wlen_ok
    )
    return df.withColumn(out, F.round(score, 6))


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "fingerprint", k: int = 4
) -> DataFrame:
    """Winnowing-style fingerprint: the k lexicographically smallest
    md5(token-trigram) digests, joined with '|'. Rolling-hash analog
    that any engine reproduces (md5 + sorts only)."""
    toks = tokens_col(text_col)
    tris = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, 3))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    fp = F.concat_ws("|", F.slice(F.array_sort(F.array_distinct(tris)), 1, k))
    return df.withColumn(out, fp)


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, §A1.1 —
    published filter rules, adapted to this corpus' short docs): word
    count bounds, mean word length bounds, symbol-to-word ratio
    ('#' and '...'), and fraction of words containing an alphabetic
    character. Adds the signal columns + a single `gopher_pass` flag.
    All JVM expressions; exactly reproducible in ANSI SQL."""
    ws_words = F.filter(F.split(F.col(text_col), "\\s+"), lambda x: x != "")
    n_words = F.size(ws_words).cast("double")
    mean_wlen = F.aggregate(
        ws_words, F.lit(0.0), lambda acc, w: acc + F.length(w)
    ) / F.greatest(n_words, F.lit(1.0))
    n_hash = F.size(F.split(F.col(text_col), "#", -1)) - 1
    n_ell = F.size(F.split(F.col(text_col), "\\.\\.\\.", -1)) - 1
    symbol_ratio = (n_hash + n_ell) / F.greatest(n_words, F.lit(1.0))
    alpha_frac = F.size(
        F.filter(ws_words, lambda w: w.rlike("[A-Za-z]"))
    ) / F.greatest(n_words, F.lit(1.0))
    out = (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", F.round(mean_wlen, 6))
        .withColumn("symbol_ratio", F.round(symbol_ratio, 6))
        .withColumn("alpha_word_frac", F.round(alpha_frac, 6))
    )
    gate = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") < max_symbol_ratio)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
    )
    return out.withColumn("gopher_pass", gate)


def vocab_stats(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus-level vocabulary statistics (tokenizer-training /
    corpus-quality signals): per-token total count and document
    frequency, plus rank by count. One partial-aggregating groupBy on
    token — stopword skew is absorbed map-side (each partition emits one
    row per distinct token), the standard word-count shape at any scale.
    Token rank has a total order (count desc, token asc)."""
    from pyspark.sql import Window as _W

    from lbf_spark.operators.dedup import tokens_col as _tok
    from lbf_spark.util import fan_out

    df = fan_out(df)
    counts = (
        df.select(F.explode(_tok(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    # one row per doc ⇒ exploding its DISTINCT tokens counts doc freq
    dfreq = (
        df.select(F.explode(F.array_distinct(_tok(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    out = counts.join(dfreq, "token")
    # global rank: |vocab| rows ≪ corpus (Heaps' law) — the one
    # single-partition window here is over the aggregate, never the data
    w = _W.orderBy(F.desc("n_total"), F.asc("token"))
    return out.withColumn("rank", F.row_number().over(w))


def contamination_flags(
    docs: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    probe_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with a probe (test/benchmark) set — the standard
    pre-training hygiene pass (e.g. GPT-3 §C / Gopher §A2 report 13-gram
    variants; n is a parameter).

    Shape at 100 TB: probe n-grams are DISTINCT and usually small
    (benchmarks are ≪ corpus) — the join is an inverted-index semi-join
    on the shingle, broadcast when the probe side fits. Output: one row
    per doc with the number of distinct overlapping n-grams and a flag.
    """
    from lbf_spark.operators.dedup import shingles_col, tokens_col as _tok
    from lbf_spark.util import fan_out

    docs = fan_out(docs)
    doc_sh = docs.select(
        F.col(id_col), F.explode(shingles_col(_tok(text_col), n)).alias("sh")
    )
    probe_sh = (
        probe.select(F.explode(shingles_col(_tok(probe_text_col), n)).alias("sh"))
        .distinct()
    )
    hits = (
        doc_sh.join(probe_sh, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return docs.select(F.col(id_col)).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


def c4_quality(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 3,
    min_sentences: int = 3,
    bad_words: list[str] | None = None,
) -> DataFrame:
    """C4-style line/page cleaning signals (Raffel et al. 2020 §2.2 —
    published heuristics, no external lists): keep lines that end in a
    terminal punctuation mark, have ≥ ``min_line_words`` whitespace
    words, and don't mention 'javascript'; flag pages containing
    'lorem ipsum' or a curly brace (code), or any caller-supplied
    ``bad_words``; count sentences in the kept text. Adds the signal
    columns + a single ``c4_pass`` flag (pass = enough sentences and no
    page-level flag). All JVM expressions — exactly reproducible in
    ANSI SQL; line splitting is on newline, sentence counting on
    terminal punctuation, both engine-identical."""
    lines = F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x))
    is_kept = (
        lambda x: x.rlike('[.!?"]$')
        & ~F.lower(x).contains("javascript")
        & (
            F.size(F.filter(F.split(x, "\\s+"), lambda w: w != ""))
            >= min_line_words
        )
    )
    kept = F.filter(lines, is_kept)
    clean = F.concat_ws("\n", kept)
    n_sent = F.size(F.split(clean, "[.!?]", -1)) - 1
    lower = F.lower(F.col(text_col))
    has_lorem = lower.contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    import re as _re

    has_bad = F.lit(False)
    for w in bad_words or []:
        # escape regex metacharacters and match case-insensitively (the
        # haystack is lowercased). \b fails for words that start/end in
        # non-word chars ("c++": no boundary between '+' and space), so
        # use explicit non-alnum-or-edge delimiters instead.
        has_bad = has_bad | lower.rlike(
            f"(^|[^a-z0-9]){_re.escape(w.lower())}([^a-z0-9]|$)"
        )
    out = (
        df.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_lines_kept", F.size(kept).cast("long"))
        .withColumn(
            "dup_line_frac",
            F.round(
                F.when(
                    F.size(lines) > 0,
                    1.0 - F.size(F.array_distinct(lines)) / F.size(lines).cast("double"),
                ).otherwise(0.0),
                6,
            ),
        )
        .withColumn("n_sentences", n_sent.cast("long"))
        .withColumn("has_lorem", has_lorem.cast("int"))
        .withColumn("has_brace", has_brace.cast("int"))
        .withColumn("has_bad_word", has_bad.cast("int"))
    )
    gate = (
        (F.col("n_sentences") >= min_sentences)
        & (F.col("has_lorem") == 0)
        & (F.col("has_brace") == 0)
        & (F.col("has_bad_word") == 0)
    )
    return out.withColumn("c4_pass", gate.cast("int"))


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token-window chunking (the standard LLM pre-training
    prep step: long documents → fixed-size training windows with
    ``chunk_size − stride`` tokens of overlap). One output row per
    chunk: ``(id, chunk_id, n_tokens, chunk_hash)`` where ``chunk_hash``
    is md5 of the space-joined chunk — the downstream join key for
    chunk-level dedup. Docs with zero tokens emit zero chunks.

    Shape at 100 TB: a pure row-local explode (no shuffle at all) that
    multiplies rows by ~len/stride; chunk text is hashed *before* any
    exchange so only 32-byte digests ever move."""
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    if stride > chunk_size:
        raise ValueError(
            "stride > chunk_size would silently drop the tokens between "
            "chunk ends and the next start — overlap must be >= 0"
        )
    from lbf_spark.util import fan_out

    df = fan_out(df)
    toks = tokens_col(text_col)
    starts = F.when(
        F.size(toks) > 0,
        F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    out = df.select(
        F.col(id_col), toks.alias("__tk"), F.explode(starts).alias("__start")
    )
    chunk = F.slice(F.col("__tk"), F.col("__start") + 1, chunk_size)
    return out.select(
        id_col,
        F.floor(F.col("__start") / stride).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document (smooth idf:
    ``ln((N+1)/(df+1)) + 1``, sklearn's formulation — a published,
    engine-reproducible formula). Rank is total-ordered on the
    *rounded* score (6 digits) then token asc, so the selection is
    bit-identical across engines (raw doubles differ by ≤1 ulp in ln,
    far inside the rounding margin).

    Shape at 100 TB: tf is a per-(doc, token) partial-aggregating
    groupBy (row-local by doc, skew-free); df is the word-count shape
    (vocab ≪ corpus by Heaps' law, absorbed map-side) — but vocab at
    10¹² docs is still ~10⁸ rows, so the tf⋈df join carries NO
    broadcast hint: AQE broadcasts it only when the built side actually
    fits, else a token-keyed shuffle join (token df counts are
    partial-aggregated, so no skew); N is a broadcast scalar; the final
    window partitions by doc — never global."""
    from pyspark.sql import Window as _W

    from lbf_spark.util import fan_out

    df = fan_out(df)
    toks = tokens_col(text_col)
    flat = df.select(F.col(id_col), F.explode(toks).alias("token"))
    tf = flat.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        flat.distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = _W.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


def bm25_scores(
    df: DataFrame,
    query_tokens: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed query token
    set (Robertson et al., the published probabilistic formula):
    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with ``idf = ln((N − df + 0.5)/(df + 0.5) + 1)``.

    Determinism: double addition is not associative, so per-(doc, token)
    contributions are rounded to 6 digits and summed as DECIMAL(18,6) —
    the doc score is then independent of partial-aggregation order and
    engine. avgdl is assembled as exact-long sum / count in one double
    division (never an incremental mean).

    Shape at 100 TB: the flat explode is pre-filtered to query tokens
    (query ≪ vocab), df and the two corpus scalars broadcast, tf is a
    per-(doc, token) partial agg, and the dl join is doc-keyed."""
    from lbf_spark.util import fan_out

    df = fan_out(df)
    toks = tokens_col(text_col)
    lens = df.select(F.col(id_col), F.size(toks).cast("long").alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    flat = df.select(F.col(id_col), F.explode(toks).alias("token")).filter(
        F.col("token").isin(list(query_tokens))
    )
    tf = flat.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    joined = (
        tf.join(F.broadcast(dfreq), "token")
        .join(lens, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term = (
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * (F.col("dl") / avgdl)))
    )
    return (
        joined.withColumn("__c", F.round(term, 6).cast("decimal(18,6)"))
        .groupBy(id_col)
        .agg(F.sum("__c").cast("double").alias("bm25"))
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    head: int = 10,
    min_df: int = 1,
    max_posting_df: int | None = None,
) -> DataFrame:
    """Inverted-index build: token → document frequency + the first
    ``head`` doc ids of the sorted posting list (the verifiable digest;
    full posting lists at scale stream to the sink, never through one
    reducer).

    Scale guard: ``collect_list`` materializes a token's ENTIRE posting
    set in one aggregation buffer — for a stopword-grade token at
    10¹² docs that is an OOM, the same hot-key blowup the jaccard
    ``max_df`` cap kills. So when ``max_posting_df`` is set, posting
    heads are collected ONLY for tokens whose df is under the cap
    (df comes first from a partial-aggregating count, which IS
    skew-safe); hotter tokens keep their exact df and a null head.
    Set the cap to the corpus df ceiling you can afford to buffer.
    The token filter itself is a LEFT SEMI join with no broadcast
    hint — the under-cap token set is still near-vocab-sized at 10¹²
    docs, so AQE decides broadcast vs shuffle from its actual size."""
    from lbf_spark.util import fan_out

    flat = fan_out(df).select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("token")
    )
    dfreq = flat.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    head_agg = F.concat_ws(
        ",", F.slice(F.array_sort(F.collect_list(id_col)), 1, head)
    ).alias("postings_head")
    if max_posting_df is None:
        heads = flat.groupBy("token").agg(head_agg)
    else:
        collectable = dfreq.filter(F.col("df") <= max_posting_df)
        heads = (
            flat.join(collectable.select("token"), "token", "left_semi")
            .groupBy("token")
            .agg(head_agg)
        )
    return (
        dfreq.join(heads, "token", "left")
        .filter(F.col("df") >= min_df)
        .select("token", "df", "postings_head")
    )


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b only.
EMAIL_RE = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    out: str = "clean_text",
) -> DataFrame:
    """PII redaction pass (web-corpus hygiene): replace email-like and
    phone-like spans with ``<EMAIL>`` / ``<PHONE>`` placeholder tokens
    and report per-row match counts. Row-local JVM regex — no shuffle,
    no Python; the patterns are restricted to the regex subset that
    Java and RE2 interpret identically (no backrefs / lookaround)."""
    col = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return (
        df.withColumn("n_emails", F.regexp_count(col, F.lit(EMAIL_RE)).cast("long"))
        .withColumn("n_phones", F.regexp_count(col, F.lit(PHONE_RE)).cast("long"))
        .withColumn(out, scrubbed)
    )


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Within-document n-gram repetition (the Gopher/C4 repetition
    filter family): ``dup_ngram_frac`` = 1 − distinct/total n-grams and
    ``top_ngram_frac`` = occurrences of the most frequent n-gram /
    total. Token n-grams over the same tokenizer as the dedup shingles;
    rows with < n tokens report 0. JVM explode + aggregate — the heavy
    part is one partial-aggregating groupBy per (doc, ngram), row-local
    by doc_id, skew-free.

    Measured alternative (rejected): a zero-shuffle row-local version
    (run-length ``F.aggregate`` over the sorted gram array) benched 3×
    SLOWER at sf0.1 (14.7 s vs 4.5 s) — higher-order functions with
    struct state evaluate interpreted per element, while explode +
    hash-aggregate stays in whole-stage codegen and its map-side
    partial agg already combines before the (doc, ngram) shuffle."""
    from lbf_spark.operators.dedup import tokens_col as _tok

    # Hash-partition the RAW docs by id (8 MB at bench scale) instead
    # of round-robin fan-out: every downstream aggregation clusters by
    # doc_id (a superset-key rule satisfies both the (doc, ngram) and
    # the per-doc groupBy), so the exploded gram stream — 52 MB at
    # sf1.0, ~n_tokens× the raw bytes at any scale — never crosses an
    # exchange, and the final doc join is co-partitioned off the same
    # shuffle. Shuffle-before-explode (guide §3): strictly fewer bytes
    # than the post-explode exchange this replaces.
    df = df.repartition(F.col(id_col))
    toks = _tok(text_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.col(id_col), F.explode_outer(grams).alias("g"))
    per_gram = g.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    stats = per_gram.groupBy(id_col).agg(
        F.sum(F.when(F.col("g").isNotNull(), F.col("c")).otherwise(0)).alias("_total"),
        F.count(F.when(F.col("g").isNotNull(), F.lit(1))).alias("_distinct"),
        F.max(F.when(F.col("g").isNotNull(), F.col("c")).otherwise(0)).alias("_top"),
    )
    # merge hint: stats is co-partitioned with df off the same shuffle,
    # so the join is exchange-free — but its small size estimate makes
    # the planner broadcast it instead, and the broadcast BUILD is the
    # whole n-gram aggregation: every probe-side task then sits blocked
    # on the build (measured r7: 44 s of zero-CPU task time per q87
    # run). The sort-merge join costs only an in-partition sort.
    return df.join(stats.hint("merge"), id_col, "left").select(
        *df.columns,
        F.round(
            F.when(
                F.col("_total") > 0,
                1.0 - F.col("_distinct") / F.col("_total").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("dup_ngram_frac"),
        F.round(
            F.when(
                F.col("_total") > 0,
                F.col("_top") / F.col("_total").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("top_ngram_frac"),
    )


def char_bigram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """Character-bigram frequency table — the first merge-candidate
    scan of BPE tokenizer training (pair frequencies over the raw
    character stream, whitespace included). Explode is row-local
    (`substr(text, i, 2)` over a sequence — no Python); counting is
    the word-count shape; the final rank is a total order
    (count desc, bigram asc) over the |alphabet|²-sized aggregate."""
    from pyspark.sql import Window as _W

    from lbf_spark.util import fan_out

    # guard: sequence(1, 0) DESCENDS in Spark, so length<2 needs an
    # explicit empty array (the shingles_col gotcha again)
    grams = F.expr(
        f"case when length({text_col}) >= 2"
        f" then transform(sequence(1, length({text_col}) - 1),"
        f"                i -> substr({text_col}, i, 2))"
        f" else cast(array() as array<string>) end"
    )
    counts = (
        fan_out(df)
        .select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = _W.orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("bigram", "n", F.col("rank").cast("int").alias("rank"))
    )


def word_freqs(
    docs: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """Corpus word-frequency table — BPE's training input (the trainer
    never touches raw docs again; at 100 TB the word table is orders
    of magnitude smaller than the corpus and the ONLY full-corpus pass
    is this one groupBy). Plain single-space tokenization to match the
    repo's document fixtures and the DuckDB oracles."""
    from lbf_spark.util import fan_out

    w = (
        fan_out(docs.select(text_col))
        .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return w.filter(F.col("freq") >= int(min_freq))


def _merge_pair_col(toks, a: str, b: str, merged: str):
    """Left-to-right non-overlapping replacement of the adjacent symbol
    pair (a, b) by ``merged`` in a symbol-array column — one JVM
    ``aggregate`` fold, no Python: the accumulator appends each symbol
    unless it forms (a, b) with the accumulator's last element, in
    which case the last element is rewritten to the merged symbol.
    Greedy-left semantics match the reference BPE exactly (in "aaa"
    with pair (a,a) the FIRST two merge; the merged symbol then no
    longer equals `a`, so the third cannot chain)."""
    la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    freq_col: str = "freq",
    eow: str = "</w>",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Distributed byte-pair-encoding training (Sennrich et al. 2016)
    over a word-frequency table: each round counts adjacent symbol
    pairs weighted by word frequency (explode + ONE map-side-combined
    groupBy), picks the argmax under a TOTAL order (count desc, pair
    asc — the determinism rule; ties cannot flip between engines or
    runs), and applies the merge with a JVM array fold (never a
    Python row loop). Returns (merges, final symbol table).

    Scale shape: state per round is the (word, symbols) frame — the
    word VOCABULARY, not the corpus; the argmax is a 1-row TakeOrdered,
    never a global sort; every round ``localCheckpoint``s (the
    dup_clusters lineage rule — 2·n_merges chained folds would
    otherwise stack into one exponential plan tree). The merge list
    itself is driver state by design: n_merges rows of metadata, the
    artifact a tokenizer ships."""
    syms = words.select(
        F.col(word_col).alias("word"),
        F.col(freq_col).cast("long").alias("freq"),
        F.concat(
            F.split(F.col(word_col), ""), F.array(F.lit(eow))
        ).alias("syms"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        pairs = (
            syms.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(
            F.desc("cnt"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top or top[0]["cnt"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        new_syms = syms.withColumn(
            "syms", _merge_pair_col(F.col("syms"), a, b, a + b)
        ).localCheckpoint(eager=True)
        # the superseded round's blocks are dead once the new eager
        # checkpoint materialized — free them (util helper), or
        # n_merges node-sized frames pile up for the session lifetime
        from lbf_spark.util import free_local_checkpoint

        free_local_checkpoint(syms)
        syms = new_syms
    return merges, syms


def train_bpe_reference(
    word_freqs_list: list[tuple[str, int]], n_merges: int, eow: str = "</w>"
) -> list[tuple[str, str]]:
    """Single-process reference BPE trainer (the certificate twin of
    ``train_bpe`` — same total order, same stop rule, pure Python).
    Takes [(word, freq)] and returns the merge sequence."""
    vocab = {tuple(list(w) + [eow]): int(f) for w, f in word_freqs_list}
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        counts: dict = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:
            break
        (a, b), _c = best
        merges.append((a, b))
        new_vocab: dict = {}
        for syms, f in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def augment_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    out_prefix: str = "aug_",
) -> DataFrame:
    """Deterministic caption/text augmentation for contrastive training
    (the text-side twin of images.augment_images): token DROP and
    adjacent-token SWAP at md5-chosen positions — a pure function of
    (id, seed), no RNG, so augmented pairs are reproducible across
    runs, engines and retries (the q139/q145 contrastive stack needs
    augmented views it can re-derive, not sampled ones).

    * ``aug_drop``: remove the token at index h mod n (identity when
      n ≤ 1 — never an empty caption);
    * ``aug_swap``: swap tokens at h mod (n−1) and its right neighbor
      (identity when n ≤ 1).

    Row-local JVM array surgery (split/slice/concat) — zero shuffle,
    zero Python; the oracle mirrors it with DuckDB list slicing."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"aug{int(seed)}:"), F.col(id_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    drop_i = (h % n) + 1  # 1-based
    dropped = F.concat_ws(
        " ",
        F.concat(
            F.slice(toks, 1, drop_i - 1),
            F.slice(toks, drop_i + 1, n - drop_i),
        ),
    )
    swap_i = (h % (n - 1)) + 1  # 1-based, < n
    swapped = F.concat_ws(
        " ",
        F.concat(
            F.slice(toks, 1, swap_i - 1),
            F.array(
                F.element_at(toks, (swap_i + 1).cast("int")),
                F.element_at(toks, swap_i.cast("int")),
            ),
            F.slice(toks, swap_i + 2, n - swap_i - 1),
        ),
    )
    ident = F.col(text_col)
    return df.withColumn(
        out_prefix + "drop", F.when(n <= 1, ident).otherwise(dropped)
    ).withColumn(
        out_prefix + "swap", F.when(n <= 1, ident).otherwise(swapped)
    )


def trigram_backoff_score(
    docs: DataFrame,
    model_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Word-trigram language-model quality score with STUPID BACKOFF
    (Brants et al. 2007 — the web-scale score behind KenLM/CCNet
    perplexity filtering; q109's char-bigram entry is the in-corpus
    toy, this is the held-out production shape): a model corpus
    (``model_docs``; typically the clean reference corpus) supplies
    raw trigram/bigram/unigram counts, and every scored token takes

      S(w | p2 p1) = n3/c2                 if the trigram was seen
                   = α · n2/c1             elif the (p1, w) bigram was
                   = α² · max(n1, 1)/N     else (add-one OOV floor)

    with raw counts and no normalization — exactly stupid backoff
    (scores, not probabilities; at web scale it matches Kneser-Ney
    within noise at a fraction of the cost, per the paper). Docs
    shorter than 3 tokens are dropped (no trigram context exists).

    Determinism: every branch is ONE multiply, one divide, one IEEE ln
    over exact bigint counts — identical expression trees on both
    engines — rounded(6) into a DECIMAL per-doc sum (q75/q109 rule),
    one double division at the end. Tokenization is the repo's plain
    single-space split (word_freqs convention).

    Shape at 100 TB: the count tables are corpus word-count jobs
    (map-side combined groupBys); scoring is one row-local explode
    behind ``fan_out`` plus five equi-joins against count tables keyed
    by the n-gram — the standard distributed LM-scoring topology (AQE
    broadcasts whichever count tables are small; none is forced)."""
    from lbf_spark.util import fan_out

    if model_docs is None:
        model_docs = docs
    a1, a2 = float(alpha), float(alpha) * float(alpha)

    toks = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != ""
    )

    def _grams(src: DataFrame, n: int, names: list[str]) -> DataFrame:
        cols = [
            F.element_at(F.col("__toks"), F.col("i") - F.lit(n - 1 - j))
            .alias(names[j])
            for j in range(n)
        ]
        return (
            fan_out(src.select(F.col(id_col), toks.alias("__toks")))
            .filter(F.size("__toks") >= n)
            .select(
                F.col(id_col),
                F.explode(
                    F.sequence(F.lit(n), F.size("__toks"))
                ).alias("i"),
                F.col("__toks"),
            )
            .select(F.col(id_col), *cols)
        )

    tri_m = _grams(model_docs, 3, ["p2", "p1", "w"])
    bi_m = _grams(model_docs, 2, ["a", "b"])
    uni_m = _grams(model_docs, 1, ["w"])
    ct3 = tri_m.groupBy("p2", "p1", "w").agg(F.count(F.lit(1)).alias("n3"))
    ct2 = bi_m.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n2"))
    ct1 = uni_m.groupBy("w").agg(F.count(F.lit(1)).alias("n1"))
    total = uni_m.agg(F.count(F.lit(1)).alias("nn"))

    g = _grams(docs, 3, ["p2", "p1", "w"])
    den2 = ct2.select(
        F.col("a").alias("p2"), F.col("b").alias("p1"),
        F.col("n2").alias("c2"),
    )
    num2 = ct2.select(
        F.col("a").alias("p1"), F.col("b").alias("w"), "n2"
    )
    den1 = ct1.select(F.col("w").alias("p1"), F.col("n1").alias("c1"))
    joined = (
        g.join(ct3, ["p2", "p1", "w"], "left")
        .join(den2, ["p2", "p1"], "left")
        .join(num2, ["p1", "w"], "left")
        .join(den1, ["p1"], "left")
        .join(ct1, ["w"], "left")
        .crossJoin(F.broadcast(total))
    )
    lp = (
        F.when(
            F.col("n3").isNotNull(),
            F.log((F.lit(1.0) * F.col("n3")) / F.col("c2")),
        )
        .when(
            F.col("n2").isNotNull(),
            F.log((F.lit(a1) * F.col("n2")) / F.col("c1")),
        )
        .otherwise(
            F.log(
                (F.lit(a2) * F.greatest(F.coalesce(F.col("n1"), F.lit(0)), F.lit(1)))
                / F.col("nn")
            )
        )
    )
    return (
        joined.select(F.col(id_col), F.round(lp, 6).cast("decimal(18,6)").alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.round(
                F.sum("__lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("lp_avg"),
        )
    )


def canary_scan(
    docs: DataFrame,
    canaries: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact canary-string scan — the memorization/extraction audit
    (Carlini et al.'s canary methodology): every (doc, canary)
    occurrence where the canary appears verbatim in the text, with the
    1-based position of its FIRST occurrence and the occurrence count.
    Canaries are deliberately-planted GUID-like strings; auditing a
    corpus for them (pre-training) or a model's samples (post) is the
    standard leak check.

    Row-local: the canary list ships as a broadcast array literal and
    each row folds over it with JVM ``instr``/split arithmetic — no
    join, no shuffle, no Python; output is bounded by actual hits.
    At 10^12 docs this is one projection over the scan."""
    if not canaries:
        raise ValueError("canary list is empty")
    # literal replace, never regex: a canary may contain metacharacters
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("canary"),
                F.instr(F.col(text_col), c).alias("first_pos"),
                (
                    (
                        F.length(F.col(text_col))
                        - F.length(
                            F.replace(
                                F.col(text_col), F.lit(c), F.lit("")
                            )
                        )
                    )
                    / F.lit(len(c))
                ).cast("int").alias("n_occ"),
            )
            for c in canaries
        ]
    )
    hit = F.filter(pairs, lambda s: s["first_pos"] > 0)
    return (
        docs.select(F.col(id_col), F.explode(hit).alias("h"))
        .select(
            id_col,
            F.col("h.canary").alias("canary"),
            F.col("h.first_pos").alias("first_pos"),
            F.col("h.n_occ").alias("n_occ"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    reference: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram NOVELTY vs a reference corpus: the fraction
    of a doc's distinct shingles never seen in the reference —
    containment's complement (q196 asks "is this a quote of the
    corpus?", this asks "how much genuinely NEW text does this batch
    bring?"), the freshness score crawl prioritization and
    near-duplicate triage rank by.

    Implementation: the doc's shingle explode left-anti-joins the
    reference's DISTINCT shingle set; novelty = round(n_new /
    n_shingles, 6). Docs with < n tokens have no shingles and emit
    null (nothing to judge). One shuffle on the shingle key; the
    reference side is a distinct projection, so its cost is its
    vocabulary, not its corpus size."""
    from lbf_spark.operators.dedup import shingles_col, tokens_col
    from lbf_spark.util import fan_out

    ref_sh = (
        fan_out(reference.select(text_col))
        .select(
            F.explode(shingles_col(tokens_col(text_col), n)).alias("sh")
        )
        .distinct()
    )
    d = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col),
        shingles_col(tokens_col(text_col), n).alias("__sh"),
    )
    totals = d.select(id_col, F.size("__sh").alias("n_shingles"))
    new_counts = (
        d.select(id_col, F.explode("__sh").alias("sh"))
        .join(ref_sh, "sh", "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    return (
        totals.join(new_counts, id_col, "left")
        .select(
            id_col,
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias(
                "n_new"
            ),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.coalesce(F.col("n_new"), F.lit(0)).cast("double")
                    / F.col("n_shingles"),
                    6,
                ),
            ).alias("novelty"),
        )
    )
