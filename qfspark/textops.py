"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprinting.

Everything here is Spark built-in expressions (whole-stage codegen; no
Python in the hot path) with an exact DuckDB SQL twin so each operator is
oracle-checkable. Cross-engine determinism rules:

* tokenization is ``split(text, ' ')`` (documents.text is space-joined),
* 64-bit integer hashes derive from md5 hex prefixes (identical in both
  engines): ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
  ``('0x'||substr(md5(x),1,15))::BIGINT`` (60 bits, never negative),
* ratios are rounded to 6 decimals before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# fixed stopword sets for the language-ID heuristic (deterministic,
# versioned — order matters for tie-breaking)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "ist", "ein", "nicht"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "est", "pas"),
}

_TOKS = "split({col}, ' ')"


def _sql_quote_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# token stats / quality
# ---------------------------------------------------------------------------

def text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document token/char counts and a simple quality profile:
    n_tokens, n_chars, avg token length, stopword ratio — the standard
    cheap quality signals for webtext filtering."""
    toks = _TOKS.format(col=col)
    stop = _sql_quote_list(LANG_STOPWORDS["en"])
    return df.select(
        "doc_id",
        F.expr(f"size({toks})").alias("n_tokens"),
        F.length(col).alias("n_chars"),
        F.expr(
            f"round(length({col}) / size({toks}), 6)"
        ).alias("avg_token_len"),
        F.expr(
            f"round(size(filter({toks}, t -> t IN ({stop}))) / size({toks}), 6)"
        ).alias("stopword_ratio"),
    )


def duckdb_text_stats_sql(col: str = "text") -> str:
    toks = f"string_split({col}, ' ')"
    stop = _sql_quote_list(LANG_STOPWORDS["en"])
    return f"""
        SELECT doc_id,
               len({toks}) AS n_tokens,
               length({col}) AS n_chars,
               round(length({col}) / len({toks}), 6) AS avg_token_len,
               round(len(list_filter({toks}, t -> t IN ({stop})))
                     / len({toks}), 6) AS stopword_ratio
        FROM documents
    """


def quality_filter(df: DataFrame, col: str = "text",
                   min_tokens: int = 20, max_tokens: int = 100_000,
                   min_stopword_ratio: float = 0.0) -> DataFrame:
    """Keep documents passing the quality gates (the filtering operator a
    training-data pipeline runs before dedup).

    The gates are evaluated INLINE on the row (identical expressions to
    ``text_stats``, rounding included): the previous form joined the
    corpus back to its own ``text_stats`` projection on doc_id, which
    at scale is a full shuffle of the document payload just to attach
    two numbers each row can compute for itself (guide §2.4/§8: decide
    with small values, never move the heavy rows for it — here no rows
    need to move at all). The filter is pure codegen and sits directly
    on the scan. It keeps each passing row once, which differs from the
    joined form in two cases: a passing row with a NULL ``doc_id`` is
    kept (the join dropped it), and ``k`` rows sharing a ``doc_id``
    come out as at most ``k`` rows (the join emitted up to ``k*k``)."""
    toks = _TOKS.format(col=col)
    stop = _sql_quote_list(LANG_STOPWORDS["en"])
    n_tokens = F.expr(f"size({toks})")
    ratio = F.expr(
        f"round(size(filter({toks}, t -> t IN ({stop}))) / size({toks}), 6)")
    return df.where(
        (n_tokens >= min_tokens)
        & (n_tokens <= max_tokens)
        & (ratio >= min_stopword_ratio)
    )


# ---------------------------------------------------------------------------
# language identification (stopword-overlap heuristic)
# ---------------------------------------------------------------------------

def lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Predict language by stopword-set overlap, deterministic tie-break
    by LANG_STOPWORDS declaration order. Returns (doc_id, lang_pred,
    lang_score = matches of the winning set)."""
    toks = _TOKS.format(col=col)
    scores = {
        lang: f"size(filter({toks}, t -> t IN ({_sql_quote_list(words)})))"
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(scores)
    # ordered CASE: first language with maximal score wins
    when = " ".join(
        f"WHEN {scores[lang]} >= greatest({', '.join(scores[o] for o in langs if o != lang)}) THEN '{lang}'"
        for lang in langs[:-1]
    )
    case = f"CASE {when} ELSE '{langs[-1]}' END"
    best = f"greatest({', '.join(scores.values())})"
    return df.select(
        "doc_id",
        F.expr(case).alias("lang_pred"),
        F.expr(best).cast("long").alias("lang_score"),
    )


def duckdb_lang_id_sql(col: str = "text") -> str:
    toks = f"string_split({col}, ' ')"
    scores = {
        lang: f"len(list_filter({toks}, t -> t IN ({_sql_quote_list(words)})))"
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(scores)
    when = " ".join(
        f"WHEN {scores[lang]} >= greatest({', '.join(scores[o] for o in langs if o != lang)}) THEN '{lang}'"
        for lang in langs[:-1]
    )
    case = f"CASE {when} ELSE '{langs[-1]}' END"
    best = f"greatest({', '.join(scores.values())})"
    return f"""
        SELECT doc_id, {case} AS lang_pred, CAST({best} AS BIGINT) AS lang_score
        FROM documents
    """


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

#: Spark SQL fragment: 60-bit integer hash of an arbitrary string expr,
#: identical in DuckDB (see duckdb_hash60).
def spark_hash60(expr: str) -> str:
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def duckdb_hash60(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Document fingerprints: full md5 plus a 60-bit integer fingerprint
    (for joins / sketch insertion)."""
    return df.select(
        "doc_id",
        F.md5(F.col(col)).alias("fp_md5"),
        F.expr(spark_hash60(col)).alias("fp60"),
    )


def duckdb_fingerprint_sql(col: str = "text") -> str:
    return f"""
        SELECT doc_id, md5({col}) AS fp_md5, {duckdb_hash60(col)} AS fp60
        FROM documents
    """


# ---------------------------------------------------------------------------
# BPE-ish token counting
# ---------------------------------------------------------------------------

#: GPT-2-flavored pre-tokenizer pattern, restricted to syntax Java regex
#: (Spark) and RE2 (DuckDB) treat identically (no lookarounds, no \p
#: classes, no backslash escapes — the two engines' SQL string literals
#: disagree about backslashes): contraction suffixes, letter runs, digit
#: runs of <=3 (BPE tokenizers split long numbers), punctuation runs.
BPE_PATTERN = "'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ']+"

#: the same pattern as a SQL single-quoted literal (quotes doubled)
_BPE_SQL = BPE_PATTERN.replace("'", "''")


def token_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """Token counts under both tokenizers a training-data pipeline uses:
    whitespace words (``n_ws_tokens``) and a BPE-ish regex pre-tokenizer
    (``n_bpe_tokens``) — the usual budget estimate for LLM corpus sizing.
    Pure codegen expressions (regexp_extract_all), no Python."""
    return df.select(
        "doc_id",
        F.expr(f"size(split({col}, ' '))").alias("n_ws_tokens"),
        F.expr(
            f"size(regexp_extract_all({col}, '{_BPE_SQL}', 0))"
        ).alias("n_bpe_tokens"),
    )


def duckdb_token_counts_sql(col: str = "text") -> str:
    return f"""
        SELECT doc_id,
               len(string_split({col}, ' ')) AS n_ws_tokens,
               len(regexp_extract_all({col}, '{_BPE_SQL}')) AS n_bpe_tokens
        FROM documents
    """


# ---------------------------------------------------------------------------
# rolling-hash (Rabin-style) window fingerprints
# ---------------------------------------------------------------------------

#: polynomial rolling-hash parameters: base 31, modulus a prime below
#: 2^53 so Horner steps (h*31 + c) never overflow a signed 64-bit int in
#: either engine
ROLL_BASE = 31
ROLL_MOD = 9007199254740881


def _spark_roll_expr(col: str, k: int) -> str:
    win = f"substring({col}, i, {k})"
    horner = (
        f"aggregate(transform(sequence(1, {k}), j -> ascii(substring({win}, j, 1))), "
        f"CAST(0 AS BIGINT), (h, c) -> (h * {ROLL_BASE} + c) % {ROLL_MOD})"
    )
    return (
        f"CASE WHEN length({col}) < {k} THEN array(CAST(0 AS BIGINT)) ELSE "
        f"transform(sequence(1, length({col}) - {k} + 1), i -> {horner}) END"
    )


def rolling_fingerprint(df: DataFrame, col: str = "text",
                        k: int = 8) -> DataFrame:
    """Rabin-style rolling-hash document fingerprint: the polynomial hash
    h(w) = sum c_j * B^(k-1-j) mod M of every k-char window (the exact
    value an O(n) rolling recurrence produces; computed here as
    vectorized per-window Horner folds — O(n*k) work, all codegen, no
    sequential state, so it distributes). Emits the standard summary a
    fingerprint index stores per document: window count, min-hash of the
    windows (winnowing-style representative) and their XOR (order-free
    whole-document digest). Returns
    (doc_id, n_windows, roll_min, roll_xor)."""
    arr = _spark_roll_expr(col, k)
    return df.select(
        "doc_id",
        F.expr(f"size({arr})").alias("n_windows"),
        F.expr(f"array_min({arr})").alias("roll_min"),
        F.expr(
            f"aggregate({arr}, CAST(0 AS BIGINT), (a, x) -> a ^ x)"
        ).alias("roll_xor"),
    )


def duckdb_rolling_fingerprint_sql(col: str = "text", k: int = 8) -> str:
    win = f"{col}[i:i+{k - 1}]"
    horner = (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, {k} + 1), j -> ascii({win}[j:j]))), "
        f"(h, c) -> (h * {ROLL_BASE} + c) % {ROLL_MOD})"
    )
    arr = (
        f"CASE WHEN length({col}) < {k} THEN [0::BIGINT] ELSE "
        f"list_transform(range(1, length({col}) - {k} + 2), i -> {horner}) END"
    )
    return f"""
        SELECT doc_id,
               len({arr}) AS n_windows,
               list_min({arr}) AS roll_min,
               list_reduce(list_prepend(0::BIGINT, {arr}),
                           (a, x) -> xor(a, x)) AS roll_xor
        FROM documents
    """


# ---------------------------------------------------------------------------
# benchmark decontamination (CQF-backed n-gram overlap)
# ---------------------------------------------------------------------------

def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  col: str = "text", k: int = 8, min_overlap: int = 1,
                  config=None) -> DataFrame:
    """(doc_id, overlap_shingles, contaminated) per training document:
    how many of its distinct k-gram shingles appear anywhere in the
    benchmark/eval set, and whether that reaches ``min_overlap`` — the
    standard pre-training decontamination pass (eval n-grams must not
    leak into the training corpus).

    Scale shape — the reason the CQF is the right tool: the benchmark
    is MBs while the corpus is TBs, so its shingle filter builds once
    and BROADCASTS; each training doc then probes the filter map-side
    (no join, no shuffle of the corpus — the only aggregation is the
    per-doc overlap count, map-side partial). False positives inflate
    the overlap count with probability <= 2^-r per probe — vanishing at
    the default remainder width, which is why the DuckDB twin (an exact
    n-gram intersection) reproduces the counts exactly at gate scale."""
    from .build import build_qf
    from .lookup import annotate
    from .shingle import shingle_expr
    from .sizing import QFConfig

    config = config or QFConfig(counter_bits=0, hash_name="xxhash64")
    # no .distinct() before the build: the filter dedups hashes itself
    # (membership is set-semantics and only `_seen` is consumed below),
    # so the global distinct's shuffle bought nothing
    bench_sh = benchmark.select(
        F.explode(F.expr(shingle_expr(col, k))).alias("shingle"))
    qf = build_qf(bench_sh, "shingle", config=config)
    # per-doc dedup INSIDE the row: doc_id was part of the old distinct
    # key, so array_distinct before the explode is equivalent and saves
    # the (doc_id, shingle) shuffle (guide §2.4)
    doc_sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(shingle_expr(col, k)))).alias("shingle"))
    hits = annotate(doc_sh, "shingle", qf, seen_col="_seen")
    overlap = (
        hits.groupBy("doc_id")
        .agg(F.sum(F.when(F.col("_seen"), 1).otherwise(0))
             .cast("long").alias("overlap_shingles"))
    )
    return (
        docs.select("doc_id").distinct()
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("overlap_shingles", F.lit(0)).cast("long")
            .alias("overlap_shingles"),
        )
        .withColumn("contaminated",
                    F.col("overlap_shingles") >= min_overlap)
    )


def duckdb_decontaminate_sql(col: str, k: int, min_overlap: int,
                             docs_source: str,
                             bench_source: str) -> str:
    """Oracle twin of ``decontaminate``: exact distinct n-gram
    intersection counts."""
    from .shingle import duckdb_shingle_sql

    sh = duckdb_shingle_sql(col, k)
    return f"""
        WITH bench_sh AS (
            SELECT DISTINCT unnest({sh}) AS shingle FROM {bench_source}
        ),
        doc_sh AS (
            SELECT DISTINCT doc_id, unnest({sh}) AS shingle
            FROM {docs_source}
        ),
        ov AS (
            SELECT d.doc_id, COUNT(*) AS c
            FROM doc_sh d JOIN bench_sh b USING (shingle)
            GROUP BY 1
        )
        SELECT u.doc_id,
               CAST(COALESCE(ov.c, 0) AS BIGINT) AS overlap_shingles,
               COALESCE(ov.c, 0) >= {min_overlap} AS contaminated
        FROM (SELECT DISTINCT doc_id FROM {docs_source}) u
        LEFT JOIN ov USING (doc_id)
    """


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: redaction patterns, deliberately backslash-free (identical literal
#: text parses the same under Java regex and RE2 — no string-escape
#: divergence between engines); applied in this fixed order
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "phone": "[+]?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}",
}


def scrub_pii(df: DataFrame, col: str = "text", out_col: str | None = None,
              replacement: str = "[PII]") -> DataFrame:
    """Adds ``<col>_scrubbed`` (emails / IPv4 addresses / phone-shaped
    numbers replaced by ``replacement``) and ``n_redactions`` (total
    per-pattern match count on the ORIGINAL text — overlapping patterns
    each count, documented semantics shared with the DuckDB twin).
    Pure codegen: chained regexp_replace + regexp_count."""
    out_col = out_col or f"{col}_scrubbed"
    scrubbed = F.col(col)
    count = F.lit(0)
    for pat in PII_PATTERNS.values():
        count = count + F.expr(f"regexp_count({col}, '{pat}')")
        scrubbed = F.regexp_replace(scrubbed, pat, replacement)
    return (
        df.withColumn(out_col, scrubbed)
        .withColumn("n_redactions", count.cast("int"))
    )


def duckdb_scrub_pii_sql(col: str, source: str,
                         replacement: str = "[PII]") -> str:
    """Oracle twin of ``scrub_pii`` (DuckDB regexp_replace needs the
    'g' flag to match Spark's replace-all semantics)."""
    scrub = col
    for pat in PII_PATTERNS.values():
        scrub = f"regexp_replace({scrub}, '{pat}', '{replacement}', 'g')"
    counts = " + ".join(
        f"len(regexp_extract_all({col}, '{pat}'))"
        for pat in PII_PATTERNS.values())
    return f"""
        SELECT *, {scrub} AS {col}_scrubbed,
               CAST({counts} AS INT) AS n_redactions
        FROM {source}
    """


# ---------------------------------------------------------------------------
# within-document repetition (Gopher-style quality signal)
# ---------------------------------------------------------------------------

def repetition_stats(df: DataFrame, col: str = "text",
                     k: int = 3) -> DataFrame:
    """(doc_id, n_grams, distinct_grams, dup_gram_ratio) per document:
    how internally repetitive the text is — the Gopher-class filter
    signal (docs dominated by repeated n-grams are boilerplate/spam).
    Pure codegen over the shingle array: dup_gram_ratio =
    1 - distinct/total, rounded to 6 decimals (cross-engine float
    rule); empty/short docs score 0."""
    from .shingle import shingle_expr

    sh = shingle_expr(col, k)
    return df.select(
        "doc_id",
        F.expr(f"size({sh})").alias("n_grams"),
        F.expr(f"size(array_distinct({sh}))").alias("distinct_grams"),
    ).select(
        "doc_id", "n_grams", "distinct_grams",
        F.when(F.col("n_grams") > 0,
               F.round(1.0 - F.col("distinct_grams") / F.col("n_grams"), 6))
        .otherwise(F.lit(0.0)).alias("dup_gram_ratio"),
    )


def duckdb_repetition_stats_sql(col: str, k: int, source: str) -> str:
    from .shingle import duckdb_shingle_sql

    sh = duckdb_shingle_sql(col, k)
    return f"""
        WITH g AS (
            SELECT doc_id, len({sh}) AS n_grams,
                   len(list_distinct({sh})) AS distinct_grams
            FROM {source}
        )
        SELECT doc_id, CAST(n_grams AS INT) AS n_grams,
               CAST(distinct_grams AS INT) AS distinct_grams,
               CASE WHEN n_grams > 0
                    THEN round(1.0 - distinct_grams / CAST(n_grams AS DOUBLE), 6)
                    ELSE 0.0 END AS dup_gram_ratio
        FROM g
    """
