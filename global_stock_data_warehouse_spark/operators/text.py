"""Text-analysis operators for large-scale corpus pipelines.

All hot-path expressions are native Spark SQL functions (codegen'd, no
Python in the loop): tokenization via split, quality ratios via
length/regexp arithmetic, language ID via stopword-hit scoring with
``aggregate`` over token arrays, fingerprinting via md5.

Designed for 100 TB: every operator is a narrow projection over the scan
(no shuffle at all except where grouping is the point), so Catalyst fuses
the whole chain into one WholeStageCodegen stage over the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword-hit
# language heuristic. Deliberately small + deterministic: the point is the
# distributed scoring pattern, not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "los", "de", "y"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "les", "et", "des"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization to a string array; empty tokens dropped.
    NULL text tokenizes as EMPTY text (zero tokens), never as a NULL
    array: size(NULL)=-1 and explode-of-NULL asymmetries previously let
    NULL-text docs crash the n-gram pair join and report n_tokens=-1 —
    one coalesce at the root normalizes every downstream text op, and
    matches the DuckDB oracles (unnest of NULL emits nothing)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(c) > 0, punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(
    col: Column | str,
    stopwords: tuple[str, ...] = LANG_MARKERS["en"],
    toks: Column | None = None,
) -> Column:
    """Fraction of tokens that are in the stopword set. ``toks`` lets a
    caller that already materialized the token array (plans/llm_gold.py)
    reuse it instead of re-splitting the text."""
    toks = tokens(col) if toks is None else toks
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column | str, toks: Column | None = None) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, has some stopwords (i.e. looks like natural language)."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio(c, toks=toks) * 4.0, F.lit(1.0))
    return F.round((len_score + punct_score + stop_score) / 3.0, 4)


def lang_id(col: Column | str, toks: Column | None = None) -> Column:
    """Stopword-hit language classifier: argmax over per-language marker
    hits, 'und' (undetermined) when nothing matches.

    Built as a greatest-of-structs expression: (hits, lang) pairs compared
    lexicographically — ties break toward the alphabetically-last code,
    deterministic. Pure expression; no UDF, no shuffle.
    """
    toks = tokens(col) if toks is None else toks

    def marker_filter(markers: tuple[str, ...]):
        # NB: factory, not a default-arg lambda — a 2-ary lambda would make
        # F.filter pass the element INDEX as the second argument.
        return lambda t: t.isin(*markers)

    scored = [
        F.struct(
            F.size(F.filter(toks, marker_filter(markers))).alias("hits"),
            F.lit(code).alias("lang"),
        )
        for code, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. Portable across engines (md5 is everywhere), which is
    what makes cross-system dedup joins possible."""
    c = F.col(col) if isinstance(col, str) else col
    # NULL text fingerprints as empty text (same contract as tokens()):
    # a NULL md5 key would silently group ALL null docs under the NULL
    # fp in joins/groupBys with engine-dependent NULL-equality semantics
    return F.md5(F.regexp_replace(F.lower(F.trim(F.coalesce(c, F.lit("")))), r"\s+", " "))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — the canonical LLM
    training-data preprocessing step. Pure expressions: one token split,
    one index `sequence`, one `explode`; stride = chunk_tokens - overlap.
    Emits (doc_id, chunk_idx, n_chunk_tokens, chunk_text). Short docs
    produce one chunk; the final partial chunk is kept (training pipelines
    pad it). Narrow map-only plan — no shuffle, scales with the scan."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col, lowercase=False)
    n = F.size(toks)
    # starts: 1, 1+stride, ... while start <= n (1-based slice indexing);
    # a doc with n <= chunk_tokens yields exactly one start.
    last_start = F.when(n > chunk_tokens, ((n - F.lit(overlap) - 1) / stride).cast("long") * stride + 1).otherwise(F.lit(1))
    starts = F.sequence(F.lit(1).cast("long"), last_start.cast("long"), F.lit(stride).cast("long"))
    return (
        _fan(df.select(id_col, text_col))
        .select(F.col(id_col), toks.alias("_toks"), F.posexplode(starts).alias("chunk_idx", "_start"))
        .select(
            id_col,
            "chunk_idx",
            F.slice("_toks", F.col("_start").cast("int"), chunk_tokens).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("_chunk").alias("n_chunk_tokens"),
            F.concat_ws(" ", "_chunk").alias("chunk_text"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash
    every k-token shingle (rolling set), keep the MIN hash of each sliding
    window of ``window`` consecutive shingle hashes, emit the distinct
    selected hashes. Guarantees: any shared run of >= window+k-1 tokens
    between two documents yields at least one shared fingerprint, while
    storing ~2/(window+1) of all shingle hashes. All array expressions;
    each intermediate array is materialized as its own projection so the
    transform lambdas reference a bound column, not a re-evaluated
    subexpression (inlining the split inside the lambda makes codegen
    re-tokenize per element — O(n^2))."""
    stage = _fan(df.select(id_col, text_col)).select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    m = F.size("_toks") - (k - 1)  # number of shingles
    stage = stage.select(
        id_col,
        m.alias("_m"),
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_toks", i, k))),
        ).alias("_sh"),
    )
    n_windows = F.greatest(F.col("_m") - (window - 1), F.lit(1))
    picks = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice("_sh", i, window)),
    )
    fp = F.when(F.col("_m") >= 1, F.array_distinct(picks)).otherwise(
        F.array().cast("array<bigint>")
    )
    return stage.select(F.col(id_col), F.explode(fp).alias("fingerprint"))


def _fan(df: DataFrame) -> DataFrame:
    """Parallelism floor for the CPU-heavy per-row text batteries
    (regex tokenize, per-gram hashing, per-bit/char scans): a single-file
    scan yields one task and serializes the whole battery on one core.
    Structural no-op once the scan yields >= core-count partitions (100 TB
    inputs arrive in thousands of splits) — see skew.fan_scan.  Only
    applied ahead of order-insensitive work: per-row outputs and integer/
    min/max aggregates, never float sums whose partial-agg grouping the
    repartition would change."""
    from global_stock_data_warehouse_spark.operators.skew import fan_scan

    return fan_scan(df)


def text_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """One row per document with the full stats battery. ``tokens_col``
    names a pre-materialized token-array column to reuse for every
    token-derived stat (a multi-stage plan like llm_gold_pipeline
    tokenizes the corpus ONCE and feeds each consumer); the char-level
    stats and the fingerprint still read the raw text. ``passthrough``
    carries extra input columns into the output unchanged — a gate that
    filters on the stats and then needs the text avoids a corpus-wide
    join back onto the source (one exchange instead of two)."""
    toks = F.col(tokens_col) if tokens_col else None
    return _fan(df).select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        char_count(text_col).alias("n_chars_actual"),
        (F.size(toks) if toks is not None else token_count(text_col)).alias(
            "n_tokens"
        ),
        F.round(punct_ratio(text_col), 4).alias("punct_ratio"),
        F.round(stopword_ratio(text_col, toks=toks), 4).alias("stopword_ratio"),
        quality_score(text_col, toks=toks).alias("quality"),
        lang_id(text_col, toks=toks).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def repetition_stats(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition signals per document: total / distinct
    n-gram counts, distinct share, and the share held by the single most
    frequent n-gram (boilerplate and loop-generated text score high).

    Exploded-ngram two-level aggregation: explode -> count per (doc, gram)
    -> one grouped agg per doc. Both shuffles key on doc_id (uniform);
    at corpus scale this beats per-row O(len^2) array self-counting."""
    # tokens bound to a column first — inlining the split inside the
    # transform lambda re-tokenizes per element (O(len^2) codegen)
    staged = _fan(df.select(id_col, text_col)).select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    m = F.size("_toks") - (n - 1)
    grams = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_toks", i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    exploded = staged.select(F.col(id_col), F.explode(grams).alias("g"))
    per_gram = exploded.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    # shares as (a * 1.0) / b — the oracle's exact expression order; a/b
    # promoted-int division can differ in the last ulp before rounding
    return per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.round(F.count(F.lit(1)) * 1.0 / F.sum("c"), 6).alias("distinct_share"),
        F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top_gram_share"),
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_share: float = 0.9,
    max_ellipsis_share: float = 0.3,
    min_alpha_share: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """The published Gopher quality-rule battery (Rae et al. 2021,
    "Scaling Language Models", Table A1) as explicit per-document
    booleans — the standard pretraining-corpus filter, kept as separate
    flags (not a composite score like :func:`quality_score`) so mixture
    designers can read WHICH rule killed a document and tune thresholds
    per source:

    - word count within ``[min_words, max_words]``
    - mean word length within ``[min_mean_word_len, max_mean_word_len]``
    - symbol-to-word ratio (``#`` and ``...`` occurrences per word)
      at most ``max_symbol_ratio``
    - share of non-empty lines starting with a bullet (``- * •``)
      at most ``max_bullet_share``
    - share of non-empty lines ending with an ellipsis (``... …``)
      at most ``max_ellipsis_share``
    - share of words containing at least one alphabetic character
      at least ``min_alpha_share``
    - at least ``min_stopwords`` stopword hits (``LANG_MARKERS['en']``)

    ``passes_gopher`` is the conjunction. All ratios are fixed-point
    rounded (``floor(x*1e6+0.5)/1e6``, the engine-shared idiom) BEFORE
    the threshold comparisons so the booleans are bit-identical across
    engines. NULL text is treated as empty (zero words, all ratios 0.0,
    ``passes_gopher`` false via the word-count rule) — same contract as
    :func:`fingerprint`.

    Pure column expressions over a single scan — no UDF, no shuffle,
    whole-stage-codegen'd; at 100 TB this is a map-only pass.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.trim(txt), r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    sum_word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_set = LANG_MARKERS["en"]
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(*stop_set)))
    n_hash = F.length(txt) - F.length(F.regexp_replace(txt, "#", ""))
    n_ellipsis_sym = (
        F.length(txt) - F.length(F.replace(txt, F.lit("...")))
    ) / F.lit(3)
    lines = F.filter(
        F.split(txt, "\n"), lambda ln: F.trim(ln) != F.lit("")
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.ltrim(ln).startswith("-")
            | F.ltrim(ln).startswith("*")
            | F.ltrim(ln).startswith("•"),
        )
    )
    n_ell_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...")
            | F.rtrim(ln).endswith("…"),
        )
    )

    def _fx(col, scale=1e6):
        # floor(x*scale + 0.5): the HALF_UP-on-both-engines idiom
        return F.floor(col * scale + F.lit(0.5)) / scale

    safe_words = F.greatest(n_words, F.lit(1))
    mean_word_len = F.when(
        n_words > 0, _fx(sum_word_chars * 1.0 / safe_words, 1e4)
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        n_words > 0,
        _fx((n_hash + n_ellipsis_sym) * 1.0 / safe_words),
    ).otherwise(F.lit(0.0))
    alpha_share = F.when(
        n_words > 0, _fx(n_alpha * 1.0 / safe_words)
    ).otherwise(F.lit(0.0))
    safe_lines = F.greatest(n_lines, F.lit(1))
    bullet_share = F.when(
        n_lines > 0, _fx(n_bullet * 1.0 / safe_lines)
    ).otherwise(F.lit(0.0))
    ellipsis_share = F.when(
        n_lines > 0, _fx(n_ell_lines * 1.0 / safe_lines)
    ).otherwise(F.lit(0.0))

    out = _fan(df.select(id_col, text_col)).select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_share.alias("alpha_share"),
        n_stop.cast("long").alias("n_stopwords"),
        bullet_share.alias("bullet_share"),
        ellipsis_share.alias("ellipsis_share"),
    )
    flags = out.select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "flag_word_count"
        ),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("flag_mean_word_len"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("flag_symbol"),
        (F.col("bullet_share") <= max_bullet_share).alias("flag_bullet"),
        (F.col("ellipsis_share") <= max_ellipsis_share).alias("flag_ellipsis"),
        (F.col("alpha_share") >= min_alpha_share).alias("flag_alpha"),
        (F.col("n_stopwords") >= min_stopwords).alias("flag_stopwords"),
    )
    return flags.select(
        "*",
        (
            F.col("flag_word_count")
            & F.col("flag_mean_word_len")
            & F.col("flag_symbol")
            & F.col("flag_bullet")
            & F.col("flag_ellipsis")
            & F.col("flag_alpha")
            & F.col("flag_stopwords")
        ).alias("passes_gopher"),
    )


def lang_confusion(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Declared-vs-detected language confusion matrix: group docs by
    (declared ``lang`` column, stopword-argmax ``lang_id`` prediction)
    and count — the data-quality audit that catches a feed whose `lang`
    tags rotted (the mislabeled cells are exactly where declared !=
    detected). NULL declared tags normalize to 'und', mirroring
    lang_id's own fallback.

    Pure-expression prediction (no UDF) + ONE group-bounded aggregate
    (|langs|^2 cells, ever) with map-side combine; `is_match` is
    derived from the group key, not a second pass.
    """
    declared = F.coalesce(F.col(lang_col), F.lit("und"))
    return (
        _fan(df.select(lang_col, text_col)).groupBy(
            declared.alias("declared"),
            lang_id(text_col).alias("detected"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "is_match", (F.col("declared") == F.col("detected")).cast("int")
        )
    )
