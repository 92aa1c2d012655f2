"""Round-6 regression tests for the items closed this round:

1. ``TDigest.from_values`` is vectorized (one sort + cumsum + an
   O(compression) centroid-cut loop) — must produce the IDENTICAL
   centroid stream as the generic pair-stream compressor on
   unit-weight pairs (the pre-round-6 path), so every published bound
   carries over unchanged.
2. ``KLLSketch.extend`` takes ndarray input on a C-speed path — must
   match the per-value Python path element-for-element.
3. Grouped t-digest (``tdigest_partials_by`` / ``tdigest_quantiles_by``
   / ``tdigest_build_by`` + merge/compact) — the t-digest twin of the
   grouped-KLL family, same two-stage partial/merge shape, per-group
   rank-error gate.
4. The KMV set-ops sketch-cache registry is BOUNDED (FIFO cap, same
   contract as dedup's pair-cache registry) and evicted caches
   recompute deterministically from lineage.
5. ``_plan_expands_rows`` detects expanding nodes under branch-
   continuation tree prefixes (e.g. a Generate inside a Union leg) —
   the round-5 ADVICE medium.
"""
from __future__ import annotations

import bisect
import math
import random

import numpy as np
import pyspark.sql.functions as F
import pytest

import qfspark.sketches as sketches
from qfspark.sketches import KLLSketch, TDigest


def _rank_err(values_sorted, est, q):
    n = len(values_sorted)
    lo = bisect.bisect_left(values_sorted, est) / n
    hi = bisect.bisect_right(values_sorted, est) / n
    return max(0.0, lo - q, q - hi)


# ---------------------------------------------------------------------------
# 1. vectorized TDigest.from_values == pair-stream compressor
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dist", ["uniform", "normal", "lognormal",
                                  "ties", "sorted"])
@pytest.mark.parametrize("n", [0, 1, 2, 7, 100, 5003, 50000])
def test_tdigest_from_values_matches_pair_compressor(dist, n):
    """The round-6 sorted-unit-array cut loop must reproduce the
    generic pair compressor's centroids exactly (same greedy k-size
    rule, so same cuts; means via cumsum differ only in float
    round-off)."""
    rng = random.Random(1)
    if dist == "uniform":
        vals = [rng.random() for _ in range(n)]
    elif dist == "normal":
        vals = [rng.gauss(0, 1) for _ in range(n)]
    elif dist == "lognormal":
        vals = [math.exp(rng.gauss(0, 2)) for _ in range(n)]
    elif dist == "ties":
        vals = [float(rng.randrange(5)) for _ in range(n)]
    else:
        vals = sorted(rng.random() for _ in range(n))
    fast = TDigest.from_values(np.array(vals, dtype="float64"), 100)
    ref = TDigest(100)
    pairs = sorted((float(v), 1.0) for v in vals)
    if pairs:
        ref._set_compressed(pairs)
    assert len(fast.means) == len(ref.means), (dist, n)
    assert np.allclose(fast.means, ref.means, rtol=1e-9, atol=1e-12)
    assert np.allclose(fast.weights, ref.weights)
    assert fast.total_weight == pytest.approx(n)


def test_tdigest_from_values_accepts_iterables_and_ndarray():
    gen = TDigest.from_values(iter([3.0, 1.0, 2.0]), 50)
    arr = TDigest.from_values(np.array([3.0, 1.0, 2.0]), 50)
    assert gen.means == arr.means and gen.weights == arr.weights


# ---------------------------------------------------------------------------
# 2. KLLSketch.extend ndarray fast path
# ---------------------------------------------------------------------------

def test_kll_extend_ndarray_matches_list_path():
    rng = random.Random(9)
    vals = [rng.gauss(0, 10) for _ in range(20000)]
    a, b = KLLSketch(128), KLLSketch(128)
    # identical chunking so the compaction schedule is identical
    for i in range(0, len(vals), 1000):
        chunk = vals[i:i + 1000]
        a.extend(chunk)
        b.extend(np.array(chunk, dtype="float64"))
    assert a.n == b.n
    assert a.levels == b.levels


# ---------------------------------------------------------------------------
# 3. grouped t-digest
# ---------------------------------------------------------------------------

def _grouped_vals(spark, n=30000):
    return spark.range(n).selectExpr(
        "CASE WHEN pmod(id, 100) = 0 THEN 'tiny' "
        "     WHEN pmod(id, 3) = 0 THEN 'a' "
        "     WHEN pmod(id, 3) = 1 THEN 'b' ELSE 'c' END AS g",
        "CAST(pmod(id * 2654435761, 99991) AS DOUBLE) * "
        "CASE WHEN pmod(id, 3) = 1 THEN 0.001 ELSE 1.0 END AS v",
    ).repartition(8)


def test_tdigest_quantiles_by_rank_error_per_group(spark):
    """Fully distributed per-group estimates stay within the
    merged-path bound (8/compression — the per-group estimate merges
    per-partition partial digests, same constant as
    test_tdigest_merge_preserves_bound)."""
    df = _grouped_vals(spark)
    est = {(r.g, r.q): r.est
           for r in sketches.tdigest_quantiles_by(
               df, "v", ["g"], [0.1, 0.5, 0.9], compression=100).collect()}
    exact = {}
    for r in df.collect():
        exact.setdefault(r.g, []).append(r.v)
    assert len(est) == 4 * 3
    for (g, q), e in est.items():
        assert _rank_err(sorted(exact[g]), e, q) <= 8.0 / 100, (g, q)


def test_tdigest_build_by_objects_match_distributed_bound(spark):
    df = _grouped_vals(spark)
    digs = sketches.tdigest_build_by(df, "v", ["g"], compression=100)
    exact = {}
    for r in df.collect():
        exact.setdefault(r.g, []).append(r.v)
    assert set(digs) == {("a",), ("b",), ("c",), ("tiny",)}
    for (g,), d in digs.items():
        vals = sorted(exact[g])
        assert d.total_weight == pytest.approx(len(vals))
        for q in (0.1, 0.5, 0.9):
            assert _rank_err(vals, d.quantile(q), q) <= 8.0 / 100, (g, q)


def test_tdigest_partials_by_merge_is_union_then_compact(spark):
    """Merging grouped centroid tables is plain union (concat-then-
    compress IS the t-digest merge); per-group compaction bounds the
    rows while staying within the merged bound."""
    df_a = _grouped_vals(spark, 15000)
    df_b = spark.range(15000, 30000).selectExpr(
        "CASE WHEN pmod(id, 3) = 0 THEN 'a' "
        "     WHEN pmod(id, 3) = 1 THEN 'b' ELSE 'c' END AS g",
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v").repartition(4)
    pa = sketches.tdigest_partials_by(df_a, "v", ["g"], 100)
    pb = sketches.tdigest_partials_by(df_b, "v", ["g"], 100)
    merged = sketches.tdigest_merge_partials_by(pa, pb)
    compact = sketches.tdigest_compact_partials_by(merged, ["g"], 100)
    rows = compact.collect()
    per_group: dict = {}
    for r in rows:
        per_group.setdefault(r.g, []).append((r.mean, r.weight))
    exact = {}
    for src in (df_a, df_b):
        for r in src.collect():
            exact.setdefault(r.g, []).append(r.v)
    for g, pairs in per_group.items():
        assert len(pairs) <= 200  # bounded after compaction
        d = TDigest.from_rows(pairs, 100)
        vals = sorted(exact[g])
        assert d.total_weight == pytest.approx(len(vals))
        for q in (0.1, 0.5, 0.9):
            assert _rank_err(vals, d.quantile(q), q) <= 8.0 / 100, (g, q)


def test_tdigest_partials_by_state_is_bounded(spark):
    """<= O(compression) centroid rows per group per partition — the
    partial table is tiny regardless of data size."""
    df = _grouped_vals(spark, 60000)
    rows = sketches.tdigest_partials_by(df, "v", ["g"], 100).collect()
    # 4 groups x 8 partitions x <= ~2*compression centroids
    assert len(rows) <= 4 * 8 * 200


def test_quantile_bound_check_by_tdigest_kind(spark):
    df = _grouped_vals(spark)
    out = sketches.quantile_bound_check_by(
        df, "v", ["g"], [0.1, 0.5, 0.9], kind="tdigest",
        compression=100).collect()
    assert len(out) == 4 * 3
    assert all(r.ok for r in out)


def test_quantile_bound_check_by_unknown_kind_raises(spark):
    df = _grouped_vals(spark, 100)
    with pytest.raises(ValueError, match="unknown sketch kind"):
        sketches.quantile_bound_check_by(df, "v", ["g"], [0.5],
                                         kind="nope")


# ---------------------------------------------------------------------------
# 4. KMV sketch-cache registry
# ---------------------------------------------------------------------------

def test_kmv_sketch_cache_registry_bounded(spark):
    """Each kmv_set_ops call tracks 3 sketch caches; past the FIFO cap
    the oldest are auto-unpersisted, and release_sketch_caches() frees
    the rest. Eviction never changes results (deterministic lineage)."""
    sketches.release_sketch_caches()
    a = spark.range(500).selectExpr("CAST(id AS STRING) AS u")
    b = spark.range(250, 750).selectExpr("CAST(id AS STRING) AS u")
    first = sketches.kmv_set_ops(a, b, "u", k=64).collect()[0]
    calls = sketches._SKETCH_CACHE_CAP // 3 + 2
    for _ in range(calls):
        sketches.kmv_set_ops(a, b, "u", k=64).count()
    assert len(sketches._SKETCH_CACHES) <= sketches._SKETCH_CACHE_CAP
    again = sketches.kmv_set_ops(a, b, "u", k=64).collect()[0]
    assert first == again
    released = sketches.release_sketch_caches()
    assert released > 0
    assert not sketches._SKETCH_CACHES


def test_kmv_set_ops_by_uses_registry(spark):
    sketches.release_sketch_caches()
    a = spark.range(600).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS g",
        "CAST(id AS STRING) AS u")
    b = spark.range(300, 900).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS g",
        "CAST(id AS STRING) AS u")
    out = sketches.kmv_set_ops_by(a, b, "u", ["g"], k=64)
    assert out.count() == 2
    # round 7: only the two input sketches are materialized (each feeds
    # the merge AND the flag join / estimate); the merged sketch has a
    # single consumer since the one-pass flag aggregation and is no
    # longer cached
    assert len(sketches._SKETCH_CACHES) == 2
    assert sketches.release_sketch_caches() == 2


# ---------------------------------------------------------------------------
# 5. plan-expansion detector under branch-continuation prefixes
# ---------------------------------------------------------------------------

def test_plan_expansion_detected_inside_union_leg(spark, tmp_path):
    """A Generate nested under a Union leg renders with a ':  +-'
    branch-continuation prefix; the detector must still flag it (the
    round-5 regex only matched one prefix level)."""
    from qfspark.sources import _plan_expands_rows, approx_row_count

    p = str(tmp_path / "u.parquet")
    (spark.range(1000)
     .select("id", F.array(*[F.lit(i) for i in range(8)]).alias("arr"))
     .write.parquet(p))
    df = spark.read.parquet(p)
    plain = df.select("id")
    exploded = df.select(F.explode("arr").alias("id"))
    u = plain.unionByName(exploded)
    assert _plan_expands_rows(u)
    # footer rung must be skipped: 1000 + 8000 rows, not 2x footer
    assert approx_row_count(u) == 9000


# ---------------------------------------------------------------------------
# 6. rate_sample_by DataFrame-rates hardening (round-5 ADVICE low)
# ---------------------------------------------------------------------------

@pytest.fixture()
def lang_docs(spark):
    return spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], f"url-{i}") for i in range(300)],
        "doc_id bigint, lang string, url string")


def test_rate_sample_by_df_rates_dedupes_duplicate_group_rows(
        spark, lang_docs):
    """Duplicate group rows in the rates table must NOT duplicate data
    rows through the broadcast join; the max rate wins (deterministic
    reduction)."""
    from qfspark.sketches import rate_sample_by

    dup = spark.createDataFrame(
        [("en", 0.2), ("en", 0.5), ("de", 0.3)], "lang string, rate double")
    got = rate_sample_by(lang_docs, "url", "lang", dup)
    want = rate_sample_by(
        lang_docs, "url", "lang", {"en": 0.5, "de": 0.3})
    g = sorted(r.doc_id for r in got.collect())
    w = sorted(r.doc_id for r in want.collect())
    assert g == w
    assert len(g) == len(set(g))  # no duplicated data rows


def test_rate_sample_by_df_rates_clamps_out_of_range(spark, lang_docs):
    """Rate VALUES are data in the DataFrame path: >1 degrades to
    keep-all, <0 to keep-none, instead of corrupting the compare."""
    from qfspark.sketches import rate_sample_by

    rt = spark.createDataFrame(
        [("en", 1.7), ("de", -0.4)], "lang string, rate double")
    out = rate_sample_by(lang_docs, "url", "lang", rt).collect()
    langs = {r.lang for r in out}
    assert "de" not in langs            # clamped to 0 -> keep none
    n_en = sum(1 for r in out if r.lang == "en")
    assert n_en == 100                  # clamped to 1 -> keep all


def test_rate_sample_by_df_rates_collision_proof_temp_cols(spark):
    """A caller frame already carrying _cut/_rate columns must pass
    them through untouched."""
    from qfspark.sketches import rate_sample_by

    df = spark.createDataFrame(
        [(i, "en", f"u{i}", i * 10, float(i)) for i in range(50)],
        "doc_id bigint, lang string, url string, _cut bigint, _rate double")
    rt = spark.createDataFrame([("en", 1.0)], "lang string, rate double")
    out = rate_sample_by(df, "url", "lang", rt)
    assert "_cut" in out.columns and "_rate" in out.columns
    rows = {r.doc_id: (r._cut, r._rate) for r in out.collect()}
    assert len(rows) == 50
    assert rows[7] == (70, 7.0)


def test_rate_sample_by_validates_default_rate(spark, lang_docs):
    from qfspark.sketches import rate_sample_by

    rt = spark.createDataFrame([("en", 0.5)], "lang string, rate double")
    with pytest.raises(ValueError, match="rate"):
        rate_sample_by(lang_docs, "url", "lang", rt, default_rate=1.5)


def test_rate_sample_by_df_rates_nested_and_matches_dict(spark, lang_docs):
    """DataFrame path == dict path value-for-value, and samples stay
    nested under rate changes (consistent-hash property)."""
    from qfspark.sketches import rate_sample_by

    for rates in ({"en": 0.3, "de": 0.6}, {"en": 0.6, "de": 0.9}):
        rt = spark.createDataFrame(
            list(rates.items()), "lang string, rate double")
        got = sorted(r.doc_id for r in rate_sample_by(
            lang_docs, "url", "lang", rt).collect())
        want = sorted(r.doc_id for r in rate_sample_by(
            lang_docs, "url", "lang", rates).collect())
        assert got == want
    lo = {r.doc_id for r in rate_sample_by(
        lang_docs, "url", "lang",
        spark.createDataFrame([("en", 0.3)], "lang string, rate double")
    ).collect()}
    hi = {r.doc_id for r in rate_sample_by(
        lang_docs, "url", "lang",
        spark.createDataFrame([("en", 0.6)], "lang string, rate double")
    ).collect()}
    assert lo <= hi


# ---------------------------------------------------------------------------
# 7. configurable pair-cache cap (round-5 ADVICE low)
# ---------------------------------------------------------------------------

def test_set_pair_cache_cap(spark):
    from qfspark import dedup

    dedup.release_pair_caches()
    prev = dedup.set_pair_cache_cap(4)
    try:
        dfs = [spark.range(10 + i).persist() for i in range(6)]
        for d in dfs:
            dedup.track_cache(d)
        assert len(dedup._PAIR_CACHES) == 4
        # shrinking evicts oldest immediately
        dedup.set_pair_cache_cap(2)
        assert len(dedup._PAIR_CACHES) == 2
        assert dedup._PAIR_CACHES == dfs[-2:]
        with pytest.raises(ValueError):
            dedup.set_pair_cache_cap(0)
    finally:
        dedup.release_pair_caches()
        dedup.set_pair_cache_cap(prev if prev >= 1 else 16)
