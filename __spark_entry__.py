"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs the qfspark pipeline on Spark and has a
DuckDB ``oracle_sql()`` twin producing the same rows. The CQF queries are
oracle-checkable because the filter guarantees zero false negatives and
exact counts (32-bit counters), and at sf<=0.1 scales the false-positive
probability per probe is <= 2^-45 — the exact-SQL answer and the sketch
answer coincide with overwhelming probability.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from qfspark import dedup, multimodal, similarity, sketches, textops, urls
from qfspark.build import build_qf
from qfspark.lookup import annotate, filter_unseen
from qfspark.shingle import duckdb_shingle_sql, shingle_expr
from qfspark.sizing import QFConfig
from qfspark.webpages import (
    DUCKDB_WEB_PAGES_SQL,
    duckdb_crawl_sql,
    synthesize,
    synthesize_crawl,
)

_CFG = dict(counter_bits=32, hash_name="xxhash64")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build a CQF over web_pages.url at sf0.001, probe with
    members + absent urls, return membership/count columns."""
    return _q_url_membership(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_web_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    wp = synthesize(spark, sf_dir)
    return wp.select(
        "url", "text", "lang", F.length("text").alias("text_len")
    )


def _q_url_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    wp = synthesize(spark, sf_dir)
    qf = build_qf(wp, "url", config=QFConfig(**_CFG))
    probes = wp.select("url").union(
        wp.select(F.concat(F.col("url"), F.lit("#absent")).alias("url"))
    )
    return annotate(probes, "url", qf, seen_col="seen", count_col="cnt")


def _q_url_count_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting over a crawl with deterministic re-fetches: urls appear
    1-3 times; the CQF counter must report the exact fetch count.

    Same one-pass shape as ``_q_shingle_count``: the
    ``groupBy(url).count()`` aggregate is both the filter's build input
    (``build_qf_from_counts`` — no Python partial stage) and, cached,
    the probe set (its keys ARE the distinct urls); previously the
    crawl synthesis ran once under the build and again for the
    probe-side ``.distinct()``."""
    from qfspark.build import build_qf_from_counts
    from qfspark.dedup import track_cache

    crawl = synthesize_crawl(spark, sf_dir)
    agg = track_cache(
        crawl.groupBy("url").agg(F.count(F.lit(1)).alias("n")).persist())
    qf = build_qf_from_counts(agg, "url", "n", config=QFConfig(**_CFG))
    return annotate(agg.select("url"), "url", qf,
                    seen_col="seen", count_col="cnt")


def _q_user_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("user")
    )
    qf = build_qf(ev, "user", config=QFConfig(**_CFG))
    users = ev.distinct()
    probes = users.union(
        users.select(F.concat(F.col("user"), F.lit("-absent")).alias("user"))
    )
    return annotate(probes, "user", qf, seen_col="seen", count_col="cnt")


def _q_shingle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass over the exploded shingles instead of two: the
    ``groupBy(shingle).count()`` aggregate (map-side combined) is both
    the filter's build input — ``build_qf_from_counts`` collects
    (hash, count) pairs for the distinct shingles only — and, cached,
    the probe set. The result is identical to building over the raw
    shingle multiset and probing its distinct set (the CQF layout is
    canonical in the (hash -> count) map); previously the explode ran
    once for the build and again for the probe-side distinct."""
    from qfspark.build import build_qf_from_counts
    from qfspark.dedup import track_cache

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = doc.select(
        F.explode(F.expr(shingle_expr("text", 3))).alias("shingle")
    )
    agg = track_cache(
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n")).persist())
    qf = build_qf_from_counts(agg, "shingle", "n", config=QFConfig(**_CFG))
    return annotate(agg.select("shingle"), "shingle", qf,
                    seen_col="seen", count_col="cnt")


def _q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: a filter built over the odd-source half of
    the crawl; the frontier (all urls + fresh candidates) is filtered to
    urls NOT yet seen. The training-data primitive: drop already-crawled
    pages before fetching/processing."""
    wp = synthesize(spark, sf_dir)
    seen_half = wp.where(F.col("url").like("%src1%") | F.col("url").like("%src3%"))
    qf = build_qf(seen_half, "url", config=QFConfig(**_CFG))
    frontier = wp.select("url").union(
        wp.select(F.concat(F.col("url"), F.lit("?new=1")).alias("url"))
    )
    return filter_unseen(frontier, "url", qf)


_SKETCH_QS = [0.1, 0.25, 0.5, 0.75, 0.9]


def _q_media_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked end-to-end: executors encode a
    deterministic two-band 24-bit BMP per doc_id (varying width => row
    stride padding varies), the real decoder extracts dimensions and
    channel sums, and a 1x1 nearest-neighbor resize exposes the top-left
    pixel — which catches any bottom-up/flip or stride bug (aggregate
    features alone are permutation-invariant and would not). DuckDB
    verifies every column against closed-form integer arithmetic on
    doc_id: if the decoder mis-parses anything, the gate goes red."""
    import numpy as np
    import pandas as pd

    docs = _docs(spark, sf_dir).select("doc_id")

    def _gen(batches):
        for pdf in batches:
            ids, payloads = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 4 + (i * 7) % 9, 3 + (i * 5) % 6
                top = (h + 1) // 2
                c1 = ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256)
                c2 = ((i * 41) % 256, (i * 61) % 256, (i * 89) % 256)
                px = np.zeros((h, w, 3), np.uint8)
                px[:top] = c1
                px[top:] = c2
                ids.append(str(i))
                payloads.append(multimodal.encode_bmp(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    bmp = docs.mapInPandas(_gen, "media_id string, payload binary")
    feats = multimodal.extract_media_features(bmp, "media_id", "payload")
    # features[0]=w, [1]=h, [2..4]=channel means; channel sums are exact
    # integers (mean * w * h rounds to the true sum well inside float32
    # error bounds at these sizes)
    full = feats.select(
        "media_id", "kind",
        F.expr("CAST(features[0] AS INT)").alias("width"),
        F.expr("CAST(features[1] AS INT)").alias("height"),
        F.expr("CAST(round(features[2] * features[0] * features[1]) "
               "AS BIGINT)").alias("sum_r"),
        F.expr("CAST(round(features[3] * features[0] * features[1]) "
               "AS BIGINT)").alias("sum_g"),
        F.expr("CAST(round(features[4] * features[0] * features[1]) "
               "AS BIGINT)").alias("sum_b"),
    )
    tiny = multimodal.extract_media_features(
        multimodal.resize_images(bmp, "media_id", "payload", 1, 1),
        "media_id", "payload",
    ).select(
        "media_id",
        F.expr("CAST(round(features[2]) AS INT)").alias("top_left_r"),
        F.expr("CAST(round(features[3]) AS INT)").alias("top_left_g"),
        F.expr("CAST(round(features[4]) AS INT)").alias("top_left_b"),
    )
    return full.join(tiny, "media_id")


DUCKDB_MEDIA_IMAGE_DECODE_SQL = """
    WITH geo AS (
        SELECT CAST(doc_id AS VARCHAR) AS media_id,
               4 + (doc_id * 7) % 9 AS w,
               3 + (doc_id * 5) % 6 AS h,
               (doc_id * 37) % 256 AS r1, (doc_id * 59) % 256 AS g1,
               (doc_id * 83) % 256 AS b1,
               (doc_id * 41) % 256 AS r2, (doc_id * 61) % 256 AS g2,
               (doc_id * 89) % 256 AS b2
        FROM documents
    ),
    bands AS (
        SELECT *, (h + 1) // 2 AS top FROM geo
    )
    SELECT media_id, 'bmp' AS kind,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(w * (top * r1 + (h - top) * r2) AS BIGINT) AS sum_r,
           CAST(w * (top * g1 + (h - top) * g2) AS BIGINT) AS sum_g,
           CAST(w * (top * b1 + (h - top) * b2) AS BIGINT) AS sum_b,
           CAST(r1 AS INT) AS top_left_r,
           CAST(g1 AS INT) AS top_left_g,
           CAST(b1 AS INT) AS top_left_b
    FROM bands
"""


def _q_hll_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-url count with the exact count and the published
    3-sigma bound check alongside: the ESTIMATE itself is the
    oracle-checked quantity (deterministic hash + exact-integer harmonic
    sum; see sketches.py)."""
    wp = synthesize(spark, sf_dir)
    est = sketches.hll_cardinality(wp, "url", p=10)
    exact = wp.agg(F.countDistinct("url").cast("long").alias("exact_distinct"))
    bound = sketches.hll_error_bound(10, sigmas=3.0)
    return (
        est.crossJoin(exact)
        .withColumn(
            "rel_err",
            F.round(F.abs(F.col("estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct"), 4))
        .withColumn("within_bound", F.col("rel_err") <= F.lit(bound))
    )


def _q_countmin_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for every distinct crawled url
    (fetch counts 1-3), with the true count and the never-underestimates
    guarantee as checked columns."""
    crawl = synthesize_crawl(spark, sf_dir)
    cm = sketches.countmin_table(crawl, "url", depth=4, width=1024)
    est = sketches.countmin_query(cm, crawl, "url", depth=4, width=1024)
    true = crawl.groupBy("url").agg(F.count(F.lit(1)).alias("true_cnt"))
    return (
        est.join(true, "url")
        .withColumn("no_underestimate",
                    F.col("cm_count") >= F.col("true_cnt"))
    )


def _q_countmin_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language count-min frequency estimates of document sources:
    an independent counter table per lang (grouped count-min — the
    per-group guarantee rides on the GROUP's total, not the corpus's),
    probed with every (lang, source), true count and the
    never-underestimates guarantee as checked columns."""
    docs = _docs(spark, sf_dir)
    cm = sketches.countmin_table_by(
        docs, "source", ["lang"], depth=3, width=256)
    est = sketches.countmin_query_by(
        cm, docs, "source", ["lang"], depth=3, width=256)
    true = (
        docs.where(F.col("source").isNotNull()
                   & F.col("lang").isNotNull())
        .groupBy(F.col("lang").cast("string").alias("lang"), "source")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    return (
        est.join(true, ["lang", "source"])
        .withColumn("no_underestimate",
                    F.col("cm_count") >= F.col("true_cnt"))
    )


def _q_bloom_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership over the odd-source half of the crawl, probed
    with every url plus absent variants; the no-false-negative guarantee
    is a checked column."""
    wp = synthesize(spark, sf_dir)
    members = wp.where(
        F.col("url").like("%src1%") | F.col("url").like("%src3%"))
    bits = sketches.bloom_bits(members, "url", m_bits=1 << 16, k=4)
    probes = wp.select("url").union(
        wp.select(F.concat(F.col("url"), F.lit("#absent")).alias("url")))
    seen = sketches.bloom_contains(bits, probes, "url",
                                   m_bits=1 << 16, k=4)
    member_urls = members.select("url").distinct().withColumn(
        "is_member", F.lit(True))
    return (
        seen.join(member_urls, "url", "left")
        .select(
            "url", "bloom_seen",
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
        )
        .withColumn("no_false_negative",
                    F.col("bloom_seen") | ~F.col("is_member"))
    )


def _q_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bottom-k sample quantiles of document length next to the exact
    quantiles, both with identical lower-interpolation rank arithmetic —
    every column is a bit-exact oracle-checked quantity."""
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("k"),
        F.length("text").cast("double").alias("v"),
    )
    sk = sketches.bottomk_sketch(base, "k", "v", k=256)
    est = sketches.bottomk_quantiles(sk, _SKETCH_QS)
    qlit = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in _SKETCH_QS)
    exact = (
        base.agg(F.expr("sort_array(collect_list(v))").alias("vals"))
        .select(F.explode(F.expr(f"array({qlit})")).alias("q"), "vals")
        .select(
            "q",
            F.expr("vals[CAST(floor(q * (size(vals) - 1)) AS INT)]")
            .alias("exact_value"),
        )
    )
    return est.join(exact, "q")


def _q_quantile_bounds(kind: str):
    """(grp, q, ok) — one driver row covering BOTH quantile paths of a
    sketch kind: the GLOBAL bound gate (grp = '_all'; tree-merged
    partials) unioned with the per-language GROUPED gate (grp = lang;
    mapInPandas partials + applyInPandas per-group merge). Collapsing
    the global and grouped entries into one row per kind keeps every
    operator family inside the driver's 50-query recording window
    (round-5 verdict task #2). Oracle: constant TRUE per (grp, q)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        base = _docs(spark, sf_dir).select(
            F.length("text").cast("double").alias("v"), "lang")
        glob = sketches.quantile_bound_check(
            base, "v", _SKETCH_QS, kind=kind
        ).select(F.lit("_all").alias("grp"), "q", "ok")
        grouped = sketches.quantile_bound_check_by(
            base, "v", ["lang"], _SKETCH_QS, kind=kind
        ).select(F.col("lang").alias("grp"), "q", "ok")
        return glob.unionByName(grouped)
    return run


#: deterministic PII injection keyed by doc_id % 4 — identical CASE
#: text in both engines (mod/did substituted per dialect)
_PII_CASES = """
    CASE {mod}
      WHEN 1 THEN text || ' contact user' || {did} || '@example.com now'
      WHEN 2 THEN text || ' server 10.1.2.' || {did}
      WHEN 3 THEN text || ' call 555-123-4567 today'
      ELSE text
    END
"""


def _q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    pii = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_PII_CASES.format(
            mod="pmod(doc_id, 4)",
            did="CAST(doc_id AS STRING)")).alias("text"),
    )
    return textops.scrub_pii(pii, "text")


def _q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra over two overlapping crawl subsets (urls whose
    doc id misses a 3-cycle vs hits a 2-cycle): per-set cardinalities,
    register-merged union, and inclusion-exclusion intersection — all
    four estimates deterministic, so each VALUE is oracle-checked."""
    wp = synthesize(spark, sf_dir)
    did = F.expr(
        "CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT)")
    return sketches.hll_set_ops(
        wp.where(did % 3 != 0), wp.where(did % 2 == 0), "url", p=10)


def _q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment estimate over the crawl's url multiset (fetch
    counts 1-3) next to the exact F2 — the estimate is a deterministic
    integer (sign-parity hashes, median of odd depth), so its VALUE is
    oracle-checked."""
    crawl = synthesize_crawl(spark, sf_dir)
    est = sketches.ams_f2_estimate(
        sketches.ams_f2_table(crawl, "url", depth=5, width=16),
        depth=5, width=16)
    exact = (
        crawl.groupBy("url").agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * c")).cast("long").alias("f2_exact"))
    )
    # 4-sigma envelope on the width-mean's sd sqrt(2/width)*F2
    bound = 4.0 * (2.0 / 16) ** 0.5
    return (
        est.crossJoin(exact)
        .withColumn(
            "rel_err",
            F.round(F.abs(F.col("f2_estimate") - F.col("f2_exact"))
                    / F.col("f2_exact"), 6))
        .withColumn("within_bound", F.col("rel_err") <= F.lit(bound))
    )


def _q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-style set algebra over the same two crawl subsets as
    the HLL entry: the Jaccard is estimated directly from the union's
    k smallest hashes, so the intersection error tracks the true
    Jaccard rather than the union size — all five values bit-exact."""
    wp = synthesize(spark, sf_dir)
    did = F.expr(
        "CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT)")
    return sketches.kmv_set_ops(
        wp.where(did % 3 != 0), wp.where(did % 2 == 0), "url", k=128)


#: per-language keep rates for the stratified-sampling entry
_STRAT_RATES = {"en": 0.5, "de": 1.0, "fr": 0.25}


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — the corpus-rebalancing
    op (halve English, keep German whole, quarter French, drop the
    rest): consistent-hash u(doc_id) vs a per-language CASE rate, pure
    codegen, sample value-exact in DuckDB."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("key"), "lang")
    return sketches.rate_sample_by(
        docs, "key", ["lang"], _STRAT_RATES, default_rate=0.1)


def _q_kmv_set_ops_by_lang(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Per-LANGUAGE crawl overlap between two document snapshots
    (doc_id % 3 != 0 vs doc_id % 2 == 0): grouped KMV set algebra —
    each language gets its own theta sketch pair, so per-language
    Jaccard / intersection / A-not-B in one pass per side; all seven
    values per group bit-exact vs DuckDB."""
    docs = _docs(spark, sf_dir).select(
        "lang", F.col("doc_id").cast("string").alias("key"),
        "doc_id")
    return sketches.kmv_set_ops_by(
        docs.where(F.col("doc_id") % 3 != 0),
        docs.where(F.col("doc_id") % 2 == 0),
        "key", ["lang"], k=64)


def _q_hll_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-HOUR distinct-user rollup over the events stream — the batch
    twin of streaming.windowed_distinct_counts (same register shape:
    one grouped-HLL pass keyed by the event-time bucket); estimates
    bit-exact vs DuckDB, exact count + bound as checked columns."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
        F.col("user_id").cast("string").alias("user"))
    est = sketches.hll_cardinality_by(ev, "user", ["hour"], p=10)
    exact = ev.groupBy("hour").agg(
        F.countDistinct("user").cast("long").alias("exact_distinct"))
    bound = sketches.hll_error_bound(10, sigmas=3.0)
    return (
        est.join(exact, "hour")
        .withColumn(
            "rel_err",
            F.round(F.abs(F.col("estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct"), 4))
        .withColumn("within_bound", F.col("rel_err") <= F.lit(bound))
    )


def _q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup), global AND grouped in
    one entry (round-6 consolidation — frees a driver slot while both
    operators keep a driver row): grp='_all' rows are the weight-
    sensitive 128-document sample by byte size; per-language rows are
    the grouped 32-per-language sample. Samples and unbiased subset-
    sum estimates (est_weight = max(w, tau)) are deterministic
    (hash-derived priorities), so the oracle reproduces them
    value-exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = sketches.priority_sample(docs, "doc_id", "n_chars", k=128)
    global_rows = sketches.priority_estimates(sk, k=128).select(
        F.lit("_all").alias("lang"), "key", "w", "est_weight")
    sk_by = sketches.priority_sample_by(docs, "doc_id", "n_chars",
                                        ["lang"], k=32)
    by_rows = sketches.priority_estimates_by(sk_by, ["lang"], k=32)
    return global_rows.unionByName(by_rows)


def _sessionize_oracle() -> str:
    from qfspark.sessions import duckdb_sessionize_sql

    return duckdb_sessionize_sql("ts", "user_id", 30, "events")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-minute gap):
    native session_window aggregation — map-side partial session
    merging, one shuffle keyed by user — vs the classic
    gaps-and-islands oracle, value-exact per (user, session) row.
    Timestamps are formatted as microsecond wall-clock strings —
    TIMESTAMP_NTZ has no instant, so this is timezone-free on both
    engines (date_format vs strftime, verified character-identical)."""
    from qfspark.sessions import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize(ev, "ts", "user_id", "30 minutes")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return s.select(
        "key",
        F.date_format("session_start", fmt).alias("session_start_s"),
        F.date_format("session_end", fmt).alias("session_end_s"),
        "n_events",
    )


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent users over the events stream: every true
    heavy hitter (count > n/(k+1)) must be present with its undercount
    guarantee intact; the oracle recomputes the heavy set exactly and
    expects constant TRUE (sketches.mg_bound_check)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketches.mg_bound_check(ev, "user_id", k=128)


def _q_heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Misra-Gries: per-LANGUAGE heavy-hitter domains over the
    duplicated crawl (sketches.mg_summary_by — one pass, <= k+1 rows per
    group per partition). Every domain whose per-lang fetch count
    exceeds n_lang/(k+1) must be present in that language's summary with
    its guarantee intact; the oracle recomputes each group's heavy set
    exactly and expects constant TRUE."""
    crawl = synthesize_crawl(spark, sf_dir).withColumn(
        "dom", F.regexp_extract("url", "https://([^.]+)", 1))
    return sketches.mg_bound_check_by(crawl, "dom", "lang", k=12)


#: deterministic "messy crawl" URL variants keyed by doc_id % 5 — the
#: canonicalization fixtures (upper-cased host, default port, fragment,
#: unsorted query params); identical CASE text in both engines.
_MESSY_URL_CASES = """
    CASE {mod}
      WHEN 1 THEN 'HTTPS://' || upper(source)
                  || '.EXAMPLE.COM:443/doc/' || {did}
      WHEN 2 THEN 'https://' || source
                  || '.example.com/doc/' || {did} || '#frag'
      WHEN 3 THEN 'https://' || source
                  || '.example.com/doc/' || {did} || '?b=2&a=1'
      WHEN 4 THEN 'https://' || source
                  || '.example.com:443/doc/' || {did} || '?a=1&b=2#x'
      ELSE 'https://' || source || '.example.com/doc/' || {did}
    END
"""


def _q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministic messy crawl variants:
    the normalized url, host, registered domain, path and sorted query
    are all oracle-checked values (qfspark.urls)."""
    messy = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_MESSY_URL_CASES.format(
            mod="pmod(doc_id, 5)",
            did="CAST(doc_id AS STRING)")).alias("url"),
    )
    return urls.url_normalize(messy, "url")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # CQF sketch queries (the engine core)
        "web_pages_synth": _q_web_pages,
        "cqf_url_membership": _q_url_membership,
        "cqf_url_count_dup": _q_url_count_dup,
        "cqf_user_count": _q_user_count,
        "cqf_shingle_count": _q_shingle_count,
        "cqf_crawl_frontier": _q_crawl_frontier,
        # training-data pipeline operators
        "text_stats": lambda s, d: textops.text_stats(_docs(s, d)),
        "lang_id": lambda s, d: textops.lang_id(_docs(s, d)),
        "fingerprint": lambda s, d: textops.fingerprint(_docs(s, d)),
        "token_counts": lambda s, d: textops.token_counts(_docs(s, d)),
        "rolling_fingerprint": lambda s, d: textops.rolling_fingerprint(
            _docs(s, d)
        ),
        "exact_dedup": lambda s, d: dedup.exact_dedup(_docs(s, d)),
        # signature returned as a joined string so the array hashes
        # identically regardless of the comparator's list representation
        "minhash_signatures": lambda s, d: dedup.minhash_signatures(
            _docs(s, d), num_hashes=16
        ).select("doc_id", F.array_join("sig", ",").alias("sig")),
        "minhash_lsh_pairs": lambda s, d: dedup.minhash_lsh_pairs(
            _docs(s, d), threshold=0.2
        ),
        "ngram_jaccard": lambda s, d: dedup.ngram_jaccard(_docs(s, d), None).where(
            "jaccard >= 0.05"
        ),
        "simhash": lambda s, d: dedup.simhash(_docs(s, d)),
        "simhash_pairs": lambda s, d: dedup.simhash_pairs(_docs(s, d), max_hamming=2),
        "embedding_near_dup": lambda s, d: dedup.embedding_near_dup(
            _emb(s, d), threshold=0.35
        ),
        # composed cleaning pipeline: quality -> exact dedup -> near-dup
        "clean_corpus": lambda s, d: dedup.clean_corpus(
            _docs(s, d), near_dup_jaccard=0.3
        ),
        "quality_filter": lambda s, d: textops.quality_filter(
            _docs(s, d), min_tokens=30
        ).select("doc_id", "lang", "source"),
        # media feature extraction over synthesized html binaries:
        # Pandas-UDF plumbing with the deterministic stand-in featurizer;
        # projected metadata (id, byte length, kind) is oracle-checked
        "media_features": lambda s, d: multimodal.extract_media_features(
            synthesize(s, d), "url", "html"
        ).select("media_id", "n_bytes", "kind"),
        # REAL image decode (pure-stdlib BMP decoder + nearest-neighbor
        # resize), verified against closed-form arithmetic
        "media_image_decode": _q_media_image_decode,
        # (cosine_pairs is subsumed by cosine_topk — both drive
        # similarity's brute-force cosine kernel; dropped from the
        # entry list to fit the driver's 50-query recording window,
        # still pytest-covered in tests/test_ann.py)
        "cosine_topk": lambda s, d: similarity.cosine_topk(_emb(s, d), k=5),
        # approximate ANN, fully oracle-checked: the hyperplanes are
        # md5-derived and the fold order fixed, so DuckDB reproduces the
        # exact candidate sets (duckdb_lsh_cosine_topk_sql) AND the
        # measured recall value (duckdb_lsh_ann_recall_sql)
        "lsh_cosine_topk": lambda s, d: similarity.lsh_cosine_topk(
            _emb(s, d), k=5, planes=6, tables=4
        ),
        "lsh_ann_recall": lambda s, d: similarity.ann_recall_df(
            similarity.cosine_topk(_emb(s, d), k=5),
            similarity.lsh_cosine_topk(_emb(s, d), k=5, planes=6, tables=4),
            k=5,
        ),
        # IVF ANN: deterministic coarse quantizer (hash-ordered bottom-k
        # centroids), cell-equality candidate join; like the LSH path,
        # the approximate result AND its recall are oracle-checked
        "ivf_topk": lambda s, d: similarity.ivf_topk(
            _emb(s, d), k=5, n_centroids=16, n_probe=2
        ),
        "ivf_ann_recall": lambda s, d: similarity.ann_recall_df(
            similarity.cosine_topk(_emb(s, d), k=5),
            similarity.ivf_topk(_emb(s, d), k=5, n_centroids=16, n_probe=2),
            k=5,
        ),
        # mergeable sketch library (north-rule family beyond the CQF):
        # HLL / count-min / Bloom / bottom-k estimates are deterministic
        # (md5-derived hashes, integer registers) so the ESTIMATES are
        # oracle-checked; t-digest / KLL are Python kernels gated on
        # their published error bound (ok==TRUE oracle, like ANN recall)
        "hll_url_cardinality": _q_hll_url,
        "countmin_url_freq": _q_countmin_url,
        # per-language count-min (grouped counter tables, one pass)
        "countmin_by_lang": _q_countmin_by_lang,
        "bloom_url_membership": _q_bloom_url,
        "bottomk_quantiles": _q_bottomk_quantiles,
        # each kind's row covers the global gate ('_all') AND the
        # per-language grouped gate in one union (see _q_quantile_bounds)
        "tdigest_quantile_bounds": _q_quantile_bounds("tdigest"),
        "kll_quantile_bounds": _q_quantile_bounds("kll"),
        "hll_url_set_ops": _q_hll_set_ops,
        "kmv_url_set_ops": _q_kmv_set_ops,
        # per-language snapshot overlap (grouped theta sketches)
        "kmv_set_ops_by_lang": _q_kmv_set_ops_by_lang,
        # deterministic stratified corpus rebalancing
        "stratified_sample": _q_stratified_sample,
        # event-time-bucketed distinct rollup via the grouped-HLL pass
        # (hll_cardinality_by — the same operator hll_by_lang drove;
        # that near-duplicate entry was dropped for the 50-query
        # window, the 720-group hourly rollup is the stronger probe):
        # the batch twin of streaming.windowed_distinct_counts
        "hll_by_hour": _q_hll_by_hour,
        # per-language doc-length quantiles from a grouped bottom-k
        # sample (deterministic sample -> estimates bit-exact)
        "quantiles_by_lang": lambda s, d: sketches.bottomk_quantiles_by(
            sketches.bottomk_sketch_by(
                _docs(s, d).select(
                    F.col("doc_id").cast("string").alias("k"),
                    F.length("text").cast("double").alias("v"),
                    "lang"),
                "k", "v", ["lang"], k=128),
            ["lang"], _SKETCH_QS),
        # weight-sensitive document sampling with unbiased subset sums
        # (global '_all' rows + per-language rows in one entry)
        "priority_sample": _q_priority_sample,
        # gap-based event-time sessionization (native session_window)
        "sessionize": _q_sessionize,
        "heavy_hitters": _q_heavy_hitters,
        # grouped Misra-Gries: per-language heavy-hitter domains over
        # the duplicated crawl in ONE pass (mg_summary_by)
        "heavy_hitters_by_lang": _q_heavy_hitters_by_lang,
        "url_normalize": _q_url_normalize,
        "ams_f2": _q_ams_f2,
        # cluster-aware near-dup: pairs -> connected components (min-id
        # label propagation with pointer jumping; DuckDB twin is a
        # recursive CTE over the identical pair list)
        "near_dup_clusters": lambda s, d: dedup.connected_components(
            dedup.minhash_lsh_pairs(_docs(s, d), threshold=0.2)
        ),
        # eval-set decontamination: CQF over the benchmark's 5-gram
        # shingles (broadcast), per-doc overlap counts map-side; the
        # benchmark here is the doc_id % 29 slice of the corpus itself,
        # so contamination is guaranteed non-trivial
        "decontaminate": lambda s, d: textops.decontaminate(
            _docs(s, d),
            _docs(s, d).where("pmod(doc_id, 29) = 0"),
            k=5, min_overlap=2,
        ),
        # PII scrubbing over deterministically-injected emails / IPs /
        # phone numbers; scrubbed text AND redaction counts are
        # value-exact oracle-checked
        "scrub_pii": _q_scrub_pii,
        # Gopher-style within-document repetition signal
        "repetition_stats": lambda s, d: textops.repetition_stats(
            _docs(s, d), k=3),
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL over the same parquet views)
# ---------------------------------------------------------------------------

def _quantile_bounds_oracle() -> str:
    """Oracle twin of ``_q_quantile_bounds``: TRUE per (grp, q) for the
    global '_all' row-set unioned with every non-null language."""
    glob = sketches.duckdb_quantile_bound_sql(_SKETCH_QS)
    grouped = sketches.duckdb_quantile_bound_by_sql(
        ["lang"], _SKETCH_QS,
        "(SELECT lang, CAST(length(text) AS DOUBLE) AS v "
        "FROM documents)", "v")
    return (
        f"SELECT '_all' AS grp, q, ok FROM ({glob}) "
        f"UNION ALL SELECT lang AS grp, q, ok FROM ({grouped})"
    )


def oracle_sql() -> dict[str, str]:
    wp = DUCKDB_WEB_PAGES_SQL.strip().rstrip(";")
    shingle_list = duckdb_shingle_sql("text", 3)
    return {
        "web_pages_synth": f"""
            SELECT url, text, lang, length(text) AS text_len
            FROM ({wp})
        """,
        "cqf_url_membership": f"""
            WITH wp AS ({wp}),
            probes AS (
                SELECT url FROM wp
                UNION ALL
                SELECT url || '#absent' AS url FROM wp
            ),
            exact AS (SELECT url, COUNT(*) AS n FROM wp GROUP BY url)
            SELECT p.url AS url,
                   (e.n IS NOT NULL) AS seen,
                   COALESCE(e.n, 0) AS cnt
            FROM probes p LEFT JOIN exact e ON p.url = e.url
        """,
        "cqf_url_count_dup": f"""
            WITH crawl AS ({duckdb_crawl_sql()})
            SELECT url, TRUE AS seen, COUNT(*) AS cnt
            FROM crawl GROUP BY url
        """,
        "cqf_crawl_frontier": f"""
            WITH wp AS ({wp}),
            seen AS (
                SELECT url FROM wp
                WHERE url LIKE '%src1%' OR url LIKE '%src3%'
            ),
            frontier AS (
                SELECT url FROM wp
                UNION ALL
                SELECT url || '?new=1' AS url FROM wp
            )
            SELECT f.url FROM frontier f
            WHERE f.url NOT IN (SELECT url FROM seen)
        """,
        "cqf_user_count": """
            WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS "user" FROM events),
            users AS (SELECT DISTINCT "user" FROM ev),
            probes AS (
                SELECT "user" FROM users
                UNION ALL
                SELECT "user" || '-absent' AS "user" FROM users
            ),
            exact AS (SELECT "user", COUNT(*) AS n FROM ev GROUP BY "user")
            SELECT p."user" AS "user",
                   (e.n IS NOT NULL) AS seen,
                   COALESCE(e.n, 0) AS cnt
            FROM probes p LEFT JOIN exact e ON p."user" = e."user"
        """,
        "cqf_shingle_count": f"""
            WITH sh AS (
                SELECT unnest({shingle_list}) AS shingle FROM documents
            ),
            exact AS (SELECT shingle, COUNT(*) AS n FROM sh GROUP BY shingle)
            SELECT shingle, TRUE AS seen, n AS cnt FROM exact
        """,
        "text_stats": textops.duckdb_text_stats_sql(),
        "lang_id": textops.duckdb_lang_id_sql(),
        "fingerprint": textops.duckdb_fingerprint_sql(),
        "token_counts": textops.duckdb_token_counts_sql(),
        "rolling_fingerprint": textops.duckdb_rolling_fingerprint_sql(),
        "exact_dedup": dedup.DUCKDB_EXACT_DEDUP_SQL,
        "minhash_signatures": (
            "SELECT doc_id, array_to_string(sig, ',') AS sig FROM ("
            + dedup.duckdb_minhash_sql(num_hashes=16)
            + ")"
        ),
        "minhash_lsh_pairs": dedup.duckdb_minhash_lsh_pairs_sql(threshold=0.2),
        "ngram_jaccard": dedup.duckdb_ngram_jaccard_sql(min_jaccard=0.05),
        "simhash": dedup.duckdb_simhash_sql(),
        "simhash_pairs": dedup.duckdb_simhash_pairs_sql(max_hamming=2),
        "embedding_near_dup": dedup.duckdb_embedding_near_dup_sql(threshold=0.35),
        "media_features": f"""
            SELECT url AS media_id, octet_length(html) AS n_bytes,
                   'image' AS kind
            FROM ({wp})
        """,
        "clean_corpus": dedup.duckdb_clean_corpus_sql(near_dup_jaccard=0.3),
        "quality_filter": f"""
            WITH stats AS ({textops.duckdb_text_stats_sql()})
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN stats s ON d.doc_id = s.doc_id
            WHERE s.n_tokens >= 30 AND s.n_tokens <= 100000
              AND s.stopword_ratio >= 0.0
        """,
        "cosine_topk": similarity.duckdb_cosine_topk_sql(k=5),
        "lsh_cosine_topk": similarity.duckdb_lsh_cosine_topk_sql(
            k=5, planes=6, tables=4),
        "lsh_ann_recall": similarity.duckdb_lsh_ann_recall_sql(
            k=5, planes=6, tables=4),
        "media_image_decode": DUCKDB_MEDIA_IMAGE_DECODE_SQL,
        "ivf_topk": similarity.duckdb_ivf_topk_sql(
            k=5, n_centroids=16, n_probe=2),
        "ivf_ann_recall": similarity.duckdb_ivf_ann_recall_sql(
            k=5, n_centroids=16, n_probe=2),
        "hll_url_cardinality": f"""
            WITH wp AS ({wp}),
            hll AS ({sketches.duckdb_hll_sql("url", 10, "wp")}),
            exact AS (
                SELECT CAST(COUNT(DISTINCT url) AS BIGINT)
                       AS exact_distinct FROM wp
            )
            SELECT h.m, h.nonempty_buckets, h.zero_buckets, h.sum_scaled,
                   h.estimate, e.exact_distinct,
                   round(abs(h.estimate - e.exact_distinct)
                         / e.exact_distinct, 4) AS rel_err,
                   round(abs(h.estimate - e.exact_distinct)
                         / e.exact_distinct, 4)
                       <= {sketches.hll_error_bound(10, 3.0)!r}
                       AS within_bound
            FROM hll h, exact e
        """,
        "countmin_url_freq": f"""
            WITH crawl AS ({duckdb_crawl_sql()}),
            cmq AS ({sketches.duckdb_countmin_sql(
                "url", 4, 1024, "crawl")}),
            truec AS (
                SELECT url, COUNT(*) AS true_cnt FROM crawl GROUP BY url
            )
            SELECT c.url, c.cm_count, t.true_cnt,
                   c.cm_count >= t.true_cnt AS no_underestimate
            FROM cmq c JOIN truec t USING (url)
        """,
        "countmin_by_lang": f"""
            WITH cmq AS ({sketches.duckdb_countmin_by_sql(
                "source", ["lang"], 3, 256, "documents")}),
            truec AS (
                SELECT CAST(lang AS VARCHAR) AS lang, source,
                       COUNT(*) AS true_cnt
                FROM documents
                WHERE source IS NOT NULL AND lang IS NOT NULL
                GROUP BY ALL
            )
            SELECT c.lang, c.source, c.cm_count, t.true_cnt,
                   c.cm_count >= t.true_cnt AS no_underestimate
            FROM cmq c JOIN truec t USING (lang, source)
        """,
        "bloom_url_membership": f"""
            WITH wp AS ({wp}),
            members AS (
                SELECT url FROM wp
                WHERE url LIKE '%src1%' OR url LIKE '%src3%'
            ),
            probes AS (
                SELECT url FROM wp
                UNION ALL
                SELECT url || '#absent' AS url FROM wp
            ),
            seen AS ({sketches.duckdb_bloom_sql(
                "url", 1 << 16, 4, "members", "probes")}),
            member_urls AS (SELECT DISTINCT url FROM members)
            SELECT s.url, s.bloom_seen,
                   (m.url IS NOT NULL) AS is_member,
                   s.bloom_seen OR (m.url IS NULL) AS no_false_negative
            FROM seen s LEFT JOIN member_urls m USING (url)
        """,
        "bottomk_quantiles": f"""
            WITH base AS (
                SELECT CAST(doc_id AS VARCHAR) AS k,
                       CAST(length(text) AS DOUBLE) AS v
                FROM documents
            ),
            est AS ({sketches.duckdb_bottomk_quantiles_sql(
                "k", "v", 256, _SKETCH_QS, "base")}),
            allv AS (SELECT list_sort(list(v)) AS vals FROM base),
            exact AS (
                SELECT q, vals[CAST(floor(q * (len(vals) - 1)) AS INT) + 1]
                           AS exact_value
                FROM allv, unnest([{", ".join(
                    f"CAST({q!r} AS DOUBLE)" for q in _SKETCH_QS)}]) AS t(q)
            )
            SELECT e.q, e.est_value, x.exact_value
            FROM est e JOIN exact x USING (q)
        """,
        "tdigest_quantile_bounds": _quantile_bounds_oracle(),
        "kll_quantile_bounds": _quantile_bounds_oracle(),
        "hll_by_hour": f"""
            WITH ev AS (
                SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
                       CAST(user_id AS VARCHAR) AS user
                FROM events
            ),
            est AS ({sketches.duckdb_hll_by_sql("user", ["hour"], 10,
                                                "ev")}),
            exact AS (
                SELECT hour, CAST(COUNT(DISTINCT user) AS BIGINT)
                       AS exact_distinct
                FROM ev GROUP BY hour
            )
            SELECT e.hour, e.nonempty_buckets, e.zero_buckets,
                   e.sum_scaled, e.estimate, x.exact_distinct,
                   round(abs(e.estimate - x.exact_distinct)
                         / x.exact_distinct, 4) AS rel_err,
                   round(abs(e.estimate - x.exact_distinct)
                         / x.exact_distinct, 4)
                       <= {sketches.hll_error_bound(10, 3.0)!r}
                       AS within_bound
            FROM est e JOIN exact x USING (hour)
        """,
        "quantiles_by_lang": sketches.duckdb_bottomk_quantiles_by_sql(
            "k", "v", ["lang"], 128, _SKETCH_QS,
            "(SELECT CAST(doc_id AS VARCHAR) AS k, "
            "CAST(length(text) AS DOUBLE) AS v, lang FROM documents)"),
        "stratified_sample": sketches.duckdb_rate_sample_by_sql(
            "key", ["lang"], _STRAT_RATES, 0.1,
            "(SELECT CAST(doc_id AS VARCHAR) AS key, lang "
            "FROM documents)", select="key, lang"),
        "kmv_set_ops_by_lang": sketches.duckdb_kmv_set_ops_by_sql(
            "key", ["lang"], 64,
            "(SELECT lang, CAST(doc_id AS VARCHAR) AS key "
            "FROM documents WHERE doc_id % 3 != 0)",
            "(SELECT lang, CAST(doc_id AS VARCHAR) AS key "
            "FROM documents WHERE doc_id % 2 = 0)"),
        "kmv_url_set_ops": f"""
            WITH wp AS ({wp}),
            res AS ({sketches.duckdb_kmv_set_ops_sql(
                "url", 128,
                "(SELECT url FROM wp WHERE CAST(regexp_extract(url, "
                "'([0-9]+)$', 1) AS BIGINT) % 3 != 0)",
                "(SELECT url FROM wp WHERE CAST(regexp_extract(url, "
                "'([0-9]+)$', 1) AS BIGINT) % 2 = 0)")})
            SELECT * FROM res
        """,
        "hll_url_set_ops": f"""
            WITH wp AS ({wp})
            {sketches.duckdb_hll_set_ops_sql(
                "url", 10,
                "(SELECT url FROM wp WHERE CAST(regexp_extract(url, "
                "'([0-9]+)$', 1) AS BIGINT) % 3 != 0)",
                "(SELECT url FROM wp WHERE CAST(regexp_extract(url, "
                "'([0-9]+)$', 1) AS BIGINT) % 2 = 0)")}
        """,
        "priority_sample": f"""
            SELECT '_all' AS lang, * FROM (
                {sketches.duckdb_priority_sample_sql(
                    "doc_id", "n_chars", 128, "documents")})
            UNION ALL
            SELECT * FROM (
                {sketches.duckdb_priority_sample_by_sql(
                    "doc_id", "n_chars", ["lang"], 32, "documents")})
        """,
        "sessionize": f"""
            SELECT key,
                   strftime(session_start, '%Y-%m-%d %H:%M:%S.%f')
                       AS session_start_s,
                   strftime(session_end, '%Y-%m-%d %H:%M:%S.%f')
                       AS session_end_s,
                   n_events
            FROM ({_sessionize_oracle()})
        """,
        "heavy_hitters":
            sketches.duckdb_mg_heavy_sql("user_id", 128, "events"),
        "heavy_hitters_by_lang": sketches.duckdb_mg_heavy_by_sql(
            "dom", "lang", 12,
            "(SELECT lang, regexp_extract(url, 'https://([^.]+)', 1)"
            f" AS dom FROM ({duckdb_crawl_sql()}) AS c) AS s"),
        "near_dup_clusters": dedup.duckdb_connected_components_sql(
            f"({dedup.duckdb_minhash_lsh_pairs_sql(threshold=0.2)})"),
        "decontaminate": textops.duckdb_decontaminate_sql(
            "text", 5, 2, "documents",
            "(SELECT * FROM documents WHERE doc_id % 29 = 0)"),
        "repetition_stats": textops.duckdb_repetition_stats_sql(
            "text", 3, "documents"),
        "scrub_pii": textops.duckdb_scrub_pii_sql(
            "text",
            f"""(SELECT doc_id,
                        {_PII_CASES.format(
                            mod="doc_id % 4",
                            did="CAST(doc_id AS VARCHAR)")} AS text
                 FROM documents)"""),
        "ams_f2": f"""
            WITH crawl AS ({duckdb_crawl_sql()}),
            est AS ({sketches.duckdb_ams_f2_sql("url", 5, 16, "crawl")}),
            exact AS (
                SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact
                FROM (SELECT COUNT(*) AS c FROM crawl GROUP BY url)
            )
            SELECT e.f2_estimate, x.f2_exact,
                   round(abs(e.f2_estimate - x.f2_exact)
                         / x.f2_exact, 6) AS rel_err,
                   round(abs(e.f2_estimate - x.f2_exact)
                         / x.f2_exact, 6) <= {4.0 * (2.0 / 16) ** 0.5!r}
                       AS within_bound
            FROM est e, exact x
        """,
        "url_normalize": f"""
            WITH messy AS (
                SELECT doc_id,
                       {_MESSY_URL_CASES.format(
                           mod="doc_id % 5",
                           did="CAST(doc_id AS VARCHAR)")} AS url
                FROM documents
            )
            SELECT * FROM (
                {urls.duckdb_url_normalize_sql("url", "messy")}
            ) t
        """,
    }
