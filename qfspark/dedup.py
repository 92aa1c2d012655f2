"""Deduplication operators for training-data pipelines.

* exact dedup        — md5 content hash, keep the smallest doc_id
* minhash + LSH      — shingle -> minhash signature -> banded LSH bucket
                       join -> candidate pairs -> exact-Jaccard verify
* n-gram Jaccard     — exact pairwise Jaccard over shared shingles
* simhash            — 60-bit sign-aggregated token-hash fingerprint with
                       Hamming-style near-dup pairing (banded over
                       distinct fingerprints)

Scale shape: every operator is shuffle-bounded by its group key (content
hash / shingle / LSH bucket), never by a cross join; candidate generation
is always index-style (join on an equality key), so the 10^12-document
version distributes exactly like these small-scale plans. All expressions
are Spark built-ins (JVM codegen, no Python) and every operator has a
DuckDB SQL twin built from the same md5-derived 60-bit hashes
(textops.spark_hash60 / duckdb_hash60), so results are oracle-checkable
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .shingle import duckdb_shingle_sql, shingle_expr
from .textops import duckdb_hash60, spark_hash60

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per identical content hash.
    The canonical first pass of any dedup pipeline: a single groupBy on
    the content hash (uniform key -> no skew)."""
    return (
        df.select("doc_id", F.md5(F.col(col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DUCKDB_EXACT_DEDUP_SQL = """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# minhash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, col: str = "text", k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, sig: array<bigint>[num_hashes]) minhash signature over
    word k-gram shingles. Hash family i is the md5-derived 60-bit hash of
    ``i || ':' || shingle``. Documents with fewer than k tokens have no
    shingles and are omitted (no signature is defined for them)."""
    sh = f"sh_{col}"
    h = spark_hash60(f"concat(i, ':', s)")
    # array_distinct up front: min over the distinct shingle set equals
    # min over the multiset, and every duplicate dropped here saves
    # num_hashes md5 evaluations in the transforms below.
    # The few-tokens filter tests the TOKEN COUNT, not the emptiness of
    # the shingle array it implies (size(shingles) > 0 <=> size(split)
    # >= k by shingle_expr's guard): a filter phrased on the shingle
    # array makes Catalyst materialize the whole
    # split+transform+array_join+array_distinct chain once in the
    # Filter and AGAIN in the signature projection — per-row shingling
    # paid twice, and still paid once under a count() that prunes sig.
    return (
        df.where(F.expr(f"size(split({col}, ' ')) >= {k}"))
        .select(
            "doc_id",
            F.array_distinct(F.expr(shingle_expr(col, k))).alias(sh))
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, {num_hashes - 1}), "
                f"i -> array_min(transform({sh}, s -> {h})))"
            ).alias("sig"),
        )
    )


def duckdb_minhash_sql(col: str = "text", k: int = 3, num_hashes: int = 16) -> str:
    shl = duckdb_shingle_sql(col, k)
    h = duckdb_hash60("(i || ':' || s)")
    return f"""
        SELECT doc_id,
               list_transform(range(0, {num_hashes}),
                              i -> list_min(list_transform(sh, s -> {h}))) AS sig
        FROM (SELECT doc_id, {shl} AS sh FROM documents)
        WHERE len(sh) > 0
    """


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over minhash
    signatures, verified with exact shingle Jaccard.

    Pipeline: signature -> split into ``bands`` bands of
    ``num_hashes/bands`` rows -> bucket key = (band index, band values)
    -> self-join within buckets (equality join on the bucket key — the
    only shuffle) -> exact Jaccard >= threshold verify. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The candidate pair list is persisted inside the Jaccard verifier
    (see ``ngram_jaccard``): the verifier consumes it three times, and
    without the persist Spark would re-run the banded self-join —
    including the minhash signatures it embeds — once per consumer,
    tripling the most expensive stage.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, col, k, num_hashes)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, "
                f"array_join(slice(sig, b * {rows_per_band} + 1, {rows_per_band}), '_') AS key))"
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    jac = ngram_jaccard(df, cand, col, k)
    return jac.where(F.col("jaccard") >= threshold)


def duckdb_minhash_lsh_pairs_sql(
    col: str = "text", k: int = 3, num_hashes: int = 16, bands: int = 4,
    threshold: float = 0.5,
) -> str:
    rows_per_band = num_hashes // bands
    return f"""
        WITH sigs AS ({duckdb_minhash_sql(col, k, num_hashes)}),
        banded AS (
            SELECT doc_id, b AS band,
                   array_to_string(sig[b * {rows_per_band} + 1 : (b + 1) * {rows_per_band}], '_') AS key
            FROM sigs, unnest(range(0, {bands})) AS t(b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b USING (band, key)
            WHERE a.doc_id < b.doc_id
        ),
        sh AS (
            SELECT doc_id, unnest({duckdb_shingle_sql(col, k)}) AS shingle
            FROM documents
        ),
        dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS common
            FROM dsh x JOIN dsh y USING (shingle)
            WHERE x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               round(i.common / (sa.n + sb.n - i.common), 6) AS jaccard
        FROM cand c
        JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE round(i.common / (sa.n + sb.n - i.common), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------

#: registry of operator-internal pair caches. Strong references on
#: purpose: a DataFrame.persist() lives in the JVM CacheManager until
#: an explicit unpersist (the Python wrapper being GC'd does NOT free
#: it), so the registry is the cache's lifetime record, not a leak —
#: each entry is a thin plan wrapper, and ``release_pair_caches``
#: unpersists and clears them. BOUNDED: past ``_PAIR_CACHE_CAP``
#: entries, the oldest cache is auto-unpersisted (FIFO — the oldest
#: is the least likely to still be consumed), so a long-lived session
#: unaware of ``release_pair_caches()`` cannot accumulate
#: MEMORY_AND_DISK blocks without bound.
_PAIR_CACHES: list = []
_PAIR_CACHE_CAP = 16


def set_pair_cache_cap(cap: int) -> int:
    """Resize the pair-cache registry bound. Batch callers holding
    more than ``_PAIR_CACHE_CAP`` (default 16) unconsumed
    ``ngram_jaccard``/LSH results at once should raise the cap so FIFO
    eviction cannot unpersist a cache whose result DataFrame has not
    been consumed yet (not a correctness issue — unpersist keeps the
    plan valid — but forcing recompute of an expensive LSH lineage is
    a perf cliff). Returns the previous cap; shrinking evicts oldest
    entries immediately."""
    global _PAIR_CACHE_CAP
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    prev, _PAIR_CACHE_CAP = _PAIR_CACHE_CAP, int(cap)
    while len(_PAIR_CACHES) > _PAIR_CACHE_CAP:
        old = _PAIR_CACHES.pop(0)
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    return prev


def track_cache(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame in the pair-cache registry and
    return it. Past the cap the oldest registered cache is unpersisted
    (FIFO); ``release_pair_caches`` unpersists them all."""
    _PAIR_CACHES.append(df)
    set_pair_cache_cap(_PAIR_CACHE_CAP)  # evicts past the cap
    return df


def release_pair_caches() -> int:
    """Unpersist every candidate-pair cache created by
    ``ngram_jaccard``/``minhash_lsh_pairs`` since the last release —
    deterministic lifetime for long-lived sessions (streaming
    foreachBatch, benchmark loops), where per-call caches would
    otherwise accumulate in the block manager until session end.
    Always safe: an unpersisted cache recomputes from lineage. Returns
    the number of caches released."""
    n = 0
    for df in _PAIR_CACHES:
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass
    _PAIR_CACHES.clear()
    return n


def _distinct_shingles(df: DataFrame, col: str, k: int) -> DataFrame:
    # dedup INSIDE the row (array_distinct before the explode): the
    # distinct key included doc_id, so the old explode + .distinct()
    # paid a full shuffle of every (doc_id, shingle) pair for a purely
    # per-document dedup (guide §2.4: remove shuffles outright)
    return df.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(shingle_expr(col, k)))).alias("shingle"),
    )


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame | None, col: str = "text", k: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct k-gram shingle sets for the
    given candidate pairs (doc_a, doc_b), or for every pair sharing at
    least one shingle when ``pairs`` is None.

    Candidate mode is PAIR-KEYED: each pair's left shingle set joins the
    right side on (doc_b, shingle), so the intermediate is bounded by
    |pairs| x shingles-per-doc — a boilerplate trigram shared by a
    million documents costs nothing extra. (A shingle-keyed self-join
    over candidate *members* — the round-1 shape — still explodes
    quadratically on such hot shingles, because the join key ignores
    which pairs are actually under test.)

    Generator mode (``pairs=None``) is necessarily shingle-keyed — that
    IS the candidate generator. ``max_shingle_df`` optionally drops
    shingles whose document frequency exceeds the cap before the
    self-join (the standard skew control for web-scale boilerplate;
    intersections then undercount by the dropped shingles, which is the
    documented approximation every production near-dup pipeline makes —
    leave None for the exact oracle semantics).

    Candidate mode persists the deduped pair list in a bounded FIFO
    registry (``_PAIR_CACHE_CAP``, default 16): callers holding many
    unconsumed results at once should raise it via
    ``set_pair_cache_cap`` (eviction is safe but forces recompute);
    long-lived sessions release deterministically with
    ``release_pair_caches()``."""
    if pairs is not None:
        from pyspark import StorageLevel

        # dedupe the pair list (duplicate candidate pairs would inflate
        # the intersection count: 2x|A∩B| for a doubled pair), and prune
        # the corpus to candidate MEMBERS before the shingle explode —
        # the shingle set is consumed by three joins below, and pruning
        # ahead of the explode bounds every recompute by the candidate
        # membership instead of the corpus (no full-corpus cache needed).
        # Persist the deduped list: it is consumed three times (both
        # member sides + the pair-keyed join spine), and when it arrives
        # from an LSH candidate generator the lineage behind it is the
        # most expensive stage of the whole pipeline — unpersisted, Spark
        # recomputes that lineage per consumer. The cache is two longs
        # per pair, MEMORY_AND_DISK, LRU-evicted. Lifetime: tracked in
        # the module-level ``_PAIR_CACHES`` registry (a persist lives
        # in the JVM CacheManager until an explicit unpersist — the
        # Python wrapper being GC'd does NOT free it); the registry
        # auto-unpersists the oldest entries past ``_PAIR_CACHE_CAP``,
        # and long-lived sessions (streaming foreachBatch, benchmark
        # loops) can call ``release_pair_caches()`` between calls for
        # deterministic release (safe at any point — a cache is a
        # hint, unpersist never invalidates the plan).
        pairs = track_cache(
            pairs.select("doc_a", "doc_b").distinct()
            .persist(StorageLevel.MEMORY_AND_DISK))
        members = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        df = df.join(members, "doc_id")
    dsh = _distinct_shingles(df, col, k)
    sizes = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if pairs is not None:
        # pair-keyed verification: explode each pair through doc_a's
        # shingles, then probe (doc_b, shingle) — never keyed on the
        # bare shingle
        a_sh = pairs.join(
            dsh.withColumnRenamed("doc_id", "doc_a"), "doc_a"
        ).select("doc_a", "doc_b", "shingle")
        inter = (
            a_sh.join(dsh.withColumnRenamed("doc_id", "doc_b"),
                      ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        join_src = dsh
        if max_shingle_df is not None:
            rare = (dsh.groupBy("shingle")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .where(F.col("df") <= max_shingle_df)
                    .select("shingle"))
            join_src = dsh.join(rare, "shingle")
        inter = (
            join_src.alias("x")
            .join(join_src.alias("y"), "shingle")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .groupBy(
                F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("common"))
        )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def duckdb_ngram_jaccard_sql(col: str = "text", k: int = 3,
                             min_jaccard: float = 0.0) -> str:
    return f"""
        WITH sh AS (
            SELECT doc_id, unnest({duckdb_shingle_sql(col, k)}) AS shingle
            FROM documents
        ),
        dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS common
            FROM dsh x JOIN dsh y USING (shingle)
            WHERE x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
        )
        SELECT i.doc_a, i.doc_b,
               round(i.common / (sa.n + sb.n - i.common), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE round(i.common / (sa.n + sb.n - i.common), 6) >= {min_jaccard}
    """


# ---------------------------------------------------------------------------
# composed cleaning pipeline
# ---------------------------------------------------------------------------

def clean_corpus(
    df: DataFrame,
    col: str = "text",
    min_tokens: int = 20,
    k: int = 3,
    near_dup_jaccard: float = 0.6,
    cluster: bool = False,
) -> DataFrame:
    """The composed training-data cleaning pass: quality gate -> exact
    dedup (keep min doc_id per content hash) -> near-dup removal.
    Returns the surviving (doc_id) rows.

    ``cluster=False`` (default, the oracle-checked mode) drops the
    higher doc_id of every pair — a chain a-b, b-c removes b AND c.
    ``cluster=True`` resolves pairs into connected components first and
    keeps exactly one doc (the min id) per cluster — the
    transitive-closure policy production near-dup removal wants
    (``connected_components``/``dedup_clusters``).

    Each stage is the scale-shaped operator defined above; the
    composition is what a Common-Crawl-style corpus actually runs before
    training."""
    from .textops import quality_filter

    quality = quality_filter(df, col, min_tokens=min_tokens).select("doc_id", col)
    keep_exact = (
        exact_dedup(quality, col)
        .select(F.col("keep_doc_id").alias("doc_id"))
    )
    survivors = quality.join(keep_exact, "doc_id")
    pairs = minhash_lsh_pairs(survivors, col, k=k,
                              threshold=near_dup_jaccard)
    if cluster:
        return dedup_clusters(survivors, pairs)
    near = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        survivors.join(near, "doc_id", "left_anti").select("doc_id")
    )


def duckdb_clean_corpus_sql(
    col: str = "text", min_tokens: int = 20, k: int = 3,
    near_dup_jaccard: float = 0.6,
) -> str:
    toks = f"string_split({col}, ' ')"
    pairs = duckdb_minhash_lsh_pairs_sql(col, k, threshold=near_dup_jaccard)
    # the pairs CTE reads from `documents`; rebase it onto the quality-
    # filtered + exact-deduped survivor set
    pairs = pairs.replace("FROM documents", "FROM survivors")
    return f"""
        WITH quality AS (
            SELECT doc_id, {col} FROM documents
            WHERE len({toks}) >= {min_tokens} AND len({toks}) <= 100000
        ),
        keep_exact AS (
            SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5({col})
        ),
        survivors AS (
            SELECT q.doc_id, q.{col} FROM quality q
            JOIN keep_exact e ON q.doc_id = e.doc_id
        ),
        near AS (
            SELECT DISTINCT doc_b AS doc_id FROM ({pairs})
        )
        SELECT s.doc_id FROM survivors s
        WHERE s.doc_id NOT IN (SELECT doc_id FROM near)
    """


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    threshold: float = 0.95,
    method: str = "auto",
    tables: int | None = None,
    planes: int | None = None,
    dim: int = 64,
    approx_count: int | None = None,
) -> DataFrame:
    """Near-duplicate groups by embedding cosine similarity: pairs with
    cosine >= threshold collapse to (dup id -> keep id = min id of the
    pair). Returns (doc_id, keep_doc_id) for every duplicate member.

    ``method='lsh'`` — the scale path: candidate pairs share a
    sign-bucket in >= 1 of ``tables`` hash tables (equality join, shuffle
    bounded by bucket population) and are verified with the exact cosine.
    At threshold t, a true pair is missed with probability
    (1 - p^planes)^tables where p = 1 - acos(t)/pi >= 0.9 for t >= 0.95 —
    with 16 tables the miss rate is negligible (<1e-5 per pair at
    t=0.95), which is why the exact brute-force DuckDB oracle still
    matches at gate scale. ``planes=None`` scales the bucket count with
    corpus size (similarity.planes_for).

    ``method='exact'``: the brute-force all-pairs verify — the oracle
    baseline, O(n^2).

    ``method='auto'`` (default) picks the correct physical strategy for
    the predicate: LSH for threshold >= 0.8 (its collision probability
    p = 1 - acos(t)/pi ~ 0.8+ makes candidate recall cheap), exact below
    it — for weak-similarity thresholds sign-LSH needs so many tables
    that the candidate join EXCEEDS the brute-force cost (at t=0.35,
    p ~ 0.61: ~60 tables for 1e-4 miss ~ 3.75 n^2 candidate pairs), so
    falling back is the faster AND the complete plan.

    With ``planes=None``/default ``tables``, both are DERIVED from the
    threshold so the per-pair miss rate at the boundary stays <= ~1e-4:
    planes is capped at floor(ln 0.25 / ln p) (keeping p^planes >= 0.25)
    and tables = ceil(ln 1e-4 / ln(1 - p^planes)) — a corpus-scaled
    plane count alone would quietly push the boundary miss rate past 50%
    at t=0.8 (p^14 ~ 0.04 with 1M vectors)."""
    from .similarity import (_dot, approx_row_count, cosine_pairs,
                             lsh_bucketed, planes_for)

    if method == "auto":
        method = "lsh" if threshold >= 0.8 else "exact"
    if method == "exact":
        pairs = cosine_pairs(emb_df, id_col, col, threshold)
    elif method == "lsh":
        import math

        p = 1.0 - math.acos(min(threshold, 1.0)) / math.pi
        planes_cap = max(2, int(math.log(0.25) / math.log(p)))
        if planes is None:
            # corpus size from plan stats / parquet footers, not a scan
            # (similarity.approx_row_count); log2 granularity makes the
            # estimate equivalent to the exact count
            n_est = (approx_count if approx_count is not None
                     else approx_row_count(emb_df))
            planes = min(planes_for(n_est), planes_cap)
        if tables is None:
            miss_per_table = 1.0 - p ** planes
            tables = (1 if miss_per_table <= 0 else
                      min(64, math.ceil(math.log(1e-4)
                                        / math.log(miss_per_table))))
        # candidates carry ids only through the (t, bucket) shuffle (see
        # lsh_bucketed); embeddings re-attach to the deduped candidate
        # pairs via two id-keyed joins for the exact-cosine verify
        buckets = lsh_bucketed(emb_df, id_col, col, planes, dim, tables)
        cand = (
            buckets.alias("a")
            .join(buckets.alias("b"), ["t", "bucket"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        base = emb_df.select(F.col(id_col).alias("id"), F.col(col).alias("emb"))
        cos = (
            f"{_dot('a_emb', 'b_emb')} / "
            f"(sqrt({_dot('a_emb', 'a_emb')}) * sqrt({_dot('b_emb', 'b_emb')}))"
        )
        pairs = (
            cand
            .join(base.select(F.col("id").alias("id_a"),
                              F.col("emb").alias("a_emb")), "id_a")
            .join(base.select(F.col("id").alias("id_b"),
                              F.col("emb").alias("b_emb")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.expr(f"round({cos}, 6)").alias("cos"),
            )
            .where(F.col("cos") >= threshold)
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    return (
        pairs.groupBy(F.col("id_b").alias("doc_id"))
        .agg(F.min("id_a").alias("keep_doc_id"))
    )


def duckdb_embedding_near_dup_sql(
    id_col: str = "vec_id", col: str = "embedding", threshold: float = 0.95
) -> str:
    from .similarity import duckdb_cosine_pairs_sql

    return f"""
        WITH pairs AS ({duckdb_cosine_pairs_sql(id_col, col, threshold)})
        SELECT id_b AS doc_id, MIN(id_a) AS keep_doc_id
        FROM pairs GROUP BY id_b
    """


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

# Full width of the md5-derived hash60 (textops.spark_hash60). A narrower
# fingerprint (round-2 used 32) is a scale defect: with 4 pigeonhole bands
# the band key space collapses to 2^8 = 256 buckets and the candidate
# self-join degrades to Theta(n^2/256). At 60 bits the same 4 bands carry
# 15 bits each (32,768 keys) — candidate volume drops ~128x and keeps
# dropping as corpora grow because near-collisions of independent 15-bit
# band values are genuinely rare.
SIMHASH_BITS = 60


def simhash(df: DataFrame, col: str = "text") -> DataFrame:
    """60-bit simhash: each distinct token votes +-1 on every bit of its
    60-bit hash; the fingerprint sets the bits with positive vote sums.
    One explode + one groupBy(doc_id) — shuffle bounded by doc count."""
    # per-document token dedup happens INSIDE the row (array_distinct
    # before the explode) — the old explode + .distinct() paid a full
    # shuffle of every (doc_id, token) pair just to dedup within each
    # document; this form leaves the vote aggregation's exchange as the
    # only shuffle (guide §2.4: remove shuffles outright)
    toks = (
        df.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.col(col), " "))).alias("tok"))
        .select("doc_id", F.expr(spark_hash60("tok")).alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    # decode as ONE parsed sum expression. The previous Python-built
    # chain of nested when(...)+when(...) Column adds stacked on the
    # 60-aggregate plan made optimization/codegen blow up (measured
    # 7-11s of mostly driver/compile time per execution at sf0.1 vs
    # ~1.4s for this form — identical results, same aggregate stage).
    bits = " + ".join(
        f"CAST(v{b} > 0 AS BIGINT) * {1 << b}" for b in range(SIMHASH_BITS))
    return agg.select(
        "doc_id", F.expr(f"CAST({bits} AS BIGINT)").alias("simhash"))


def simhash_pairs(df: DataFrame, col: str = "text",
                  max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance <= max_hamming.

    Candidate generation by pigeonhole banding over DISTINCT fingerprints:
    split the 60-bit simhash into (max_hamming + 1) bands (15 bits each at
    the default — 32,768 keys per band); any pair within the distance
    bound agrees on at least one whole band, so candidate *fingerprint*
    pairs come from an equality join on (band, key) — no cross product —
    and are verified with bit_count(xor) <= max_hamming before expansion
    back to document pairs.

    Two scale properties the round-2 version lacked:

    * the banded self-join runs over distinct fingerprints, not documents
      — a boilerplate page duplicated a million times is ONE node in the
      candidate graph instead of 10^12 same-bucket pairs; identical
      documents pair up afterwards through a plain equality join on the
      fingerprint (shuffle keyed by simhash, inherently grouped);
    * 15-bit band keys keep expected bucket population at n_fps / 32,768
      per band — the 8-bit bands of a 32-bit simhash cap at 256 buckets,
      which is Theta(n^2/256) comparisons at any realistic corpus size.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b; output volume is
    the true near-dup pair count (inherent to the pair contract — use the
    fingerprint groups directly for a keep/drop decision at 10^12 scale).
    """
    # pigeonhole completeness: with (max_hamming + 1) bands, any pair
    # within the distance bound agrees on at least one whole band.
    # Persist the fingerprint table: its lineage (the 60-aggregate vote
    # groupBy over exploded tokens — the expensive stage, and one that
    # exceeds whole-stage codegen's expression budget) is consumed by
    # SEVEN plan subtrees below (banding x2 through the self-join, the
    # two cross re-attach joins, the hamming-0 self-join x2, plus the
    # distinct); unpersisted it re-runs per consumer. 16 bytes/doc,
    # MEMORY_AND_DISK; lifetime as for the LSH pair cache
    # (release_pair_caches).
    from pyspark import StorageLevel

    sh = track_cache(
        simhash(df, col).persist(StorageLevel.MEMORY_AND_DISK))
    banded = simhash_banded_fingerprints(sh, max_hamming)
    cand_fp = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .where(F.col("a.simhash") < F.col("b.simhash"))
        .select(F.col("a.simhash").alias("fp_a"),
                F.col("b.simhash").alias("fp_b"))
        .distinct()
        .where(F.expr("bit_count(fp_a ^ fp_b)") <= max_hamming)
    )
    # expand fingerprint pairs back to document pairs: cross-fingerprint
    # pairs via two equality joins on the fingerprint, identical-
    # fingerprint pairs (hamming 0) via a self-equality join on simhash.
    # The branches are disjoint (fp_a < fp_b vs fp_a = fp_b) and each doc
    # pair appears exactly once, so no final distinct is needed.
    cross = (
        cand_fp
        .join(sh.select(F.col("simhash").alias("fp_a"),
                        F.col("doc_id").alias("id_a")), "fp_a")
        .join(sh.select(F.col("simhash").alias("fp_b"),
                        F.col("doc_id").alias("id_b")), "fp_b")
        .select(F.least("id_a", "id_b").alias("doc_a"),
                F.greatest("id_a", "id_b").alias("doc_b"),
                "fp_a", "fp_b")
    )
    same = (
        sh.alias("a")
        .join(sh.alias("b"), "simhash")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("simhash").alias("fp_a"),
                F.col("simhash").alias("fp_b"))
    )
    return cross.unionByName(same).select(
        "doc_a", "doc_b",
        F.expr("bit_count(fp_a ^ fp_b)").alias("hamming"),
    )


def simhash_banded_fingerprints(sh: DataFrame,
                                max_hamming: int = 3) -> DataFrame:
    """(simhash, band, key) rows: DISTINCT fingerprints exploded into
    their pigeonhole bands — the candidate-generation substrate of
    ``simhash_pairs``, exposed so candidate volume is measurable
    (bench.py reports candidates examined vs true pairs)."""
    bands = max_hamming + 1
    if bands > SIMHASH_BITS:
        raise ValueError(f"max_hamming must be < {SIMHASH_BITS}")
    width = SIMHASH_BITS // bands
    fps = sh.select("simhash").distinct()
    band_exprs = []
    for b in range(bands):
        lo = b * width
        w = SIMHASH_BITS - lo if b == bands - 1 else width
        band_exprs.append(
            f"struct({b} AS band, shiftrightunsigned(simhash, {lo}) "
            f"& {(1 << w) - 1} AS key)"
        )
    return fps.select(
        "simhash",
        F.explode(F.expr("array(" + ", ".join(band_exprs) + ")")).alias("bb"),
    ).select("simhash", F.col("bb.band").alias("band"),
             F.col("bb.key").alias("key"))


def duckdb_simhash_pairs_sql(col: str = "text", max_hamming: int = 3) -> str:
    bands = max_hamming + 1
    width = SIMHASH_BITS // bands
    cases = []
    for b in range(bands):
        lo = b * width
        w = SIMHASH_BITS - lo if b == bands - 1 else width
        cases.append(
            f"SELECT simhash, {b} AS band, "
            f"(simhash >> {lo}) & {(1 << w) - 1} AS key FROM fps"
        )
    banded = " UNION ALL ".join(cases)
    return f"""
        WITH sh AS ({duckdb_simhash_sql(col)}),
        fps AS (SELECT DISTINCT simhash FROM sh),
        banded AS (
            {banded}
        ),
        cand_fp AS (
            SELECT DISTINCT a.simhash AS fp_a, b.simhash AS fp_b
            FROM banded a JOIN banded b USING (band, key)
            WHERE a.simhash < b.simhash
              AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ),
        expanded AS (
            SELECT least(da.doc_id, db.doc_id) AS doc_a,
                   greatest(da.doc_id, db.doc_id) AS doc_b,
                   c.fp_a, c.fp_b
            FROM cand_fp c
            JOIN sh da ON da.simhash = c.fp_a
            JOIN sh db ON db.simhash = c.fp_b
            UNION ALL
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS fp_a, b.simhash AS fp_b
            FROM sh a JOIN sh b ON a.simhash = b.simhash
            WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               bit_count(xor(fp_a, fp_b)) AS hamming
        FROM expanded
    """


def duckdb_simhash_sql(col: str = "text") -> str:
    h = duckdb_hash60("tok")
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest(string_split({col}, ' ')) AS tok
            FROM documents
        ),
        hashed AS (SELECT doc_id, {h} AS h FROM toks),
        agg AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
        SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM agg
    """


# ===========================================================================
# connected components (near-dup clusters)
# ===========================================================================

def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iter: int = 25) -> DataFrame:
    """(node, component) labels for the undirected graph of ``pairs``:
    component = the minimum node id reachable from the node. The
    cluster-aware form of near-dup removal — a chain a-b, b-c collapses
    to ONE cluster {a,b,c} (keep min(component)), where per-pair
    drop-the-larger would remove b and c independently.

    Distributed shape: min-label propagation with POINTER JUMPING —
    each round takes (a) the min over graph neighbors and (b) the label
    of the node's own label (path halving), so convergence is
    O(log diameter) rounds rather than O(diameter); every round is two
    shuffles on node id (partition-count sized, AQE-coalesced) and the
    loop exits on a fixpoint count. Lineage is cut per round with
    localCheckpoint (iterative plans otherwise grow exponentially).

    Nodes appearing in no pair are absent (their component is
    themselves; callers union them in if needed, as dedup_clusters
    does)."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"),
                                  F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("b"),
                              F.col("comp").alias("nbr_comp")), "b")
            .groupBy("a").agg(F.min("nbr_comp").alias("nbr_min"))
            .select(F.col("a").alias("node"), "nbr_min")
        )
        jump = (
            labels.alias("l1")
            .join(labels.select(F.col("node").alias("comp"),
                                F.col("comp").alias("jump_comp")).alias("l2"),
                  "comp")
            .select("node", "jump_comp")
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .join(jump, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"),
                    F.coalesce("nbr_min", F.col("comp")),
                    F.coalesce("jump_comp", F.col("comp")),
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            labels.select("node", F.col("comp").alias("old_comp"))
            .join(new_labels, "node")
            .where(F.col("old_comp") != F.col("comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exiting via max_iter with labels still moving means SPLIT
        # components — silently wrong cluster labels downstream (extra
        # docs kept per cluster). Pointer jumping converges in
        # O(log diameter) rounds, so hitting this indicates a graph far
        # outside the operator's design envelope: fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter "
            "(rounds needed ~ log2 of the largest component's diameter)")
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def dedup_clusters(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", src: str = "doc_a",
                   dst: str = "doc_b") -> DataFrame:
    """Keep exactly one document (the minimum id) per near-dup cluster:
    ``df`` ids not in any pair survive as their own cluster. Returns the
    surviving (id_col) rows."""
    comp = connected_components(pairs, src, dst)
    labeled = (
        df.select(F.col(id_col))
        .join(comp.select(F.col("node").alias(id_col), "component"),
              id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    return (
        labeled.groupBy("component")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def duckdb_connected_components_sql(pairs_source: str, src: str = "doc_a",
                                    dst: str = "doc_b") -> str:
    """Oracle twin of ``connected_components``: a recursive CTE walks
    every (start, reached) pair of the symmetric closure; the component
    label is the minimum start id that reaches each node.
    ``pairs_source`` is a table name or parenthesized subquery holding
    the pair list (the whole statement starts with WITH RECURSIVE, so
    it cannot be appended to an outer WITH — inline the pairs
    instead)."""
    return f"""
        WITH RECURSIVE sym AS (
            SELECT {src} AS a, {dst} AS b FROM {pairs_source}
            UNION
            SELECT {dst} AS a, {src} AS b FROM {pairs_source}
        ),
        walk(node, start) AS (
            SELECT a, a FROM sym
            UNION
            SELECT s.b, w.start FROM walk w JOIN sym s ON s.a = w.node
        )
        SELECT node, MIN(start) AS component
        FROM walk GROUP BY node
    """
