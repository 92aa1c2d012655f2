"""Round-5 regression tests: the ADVICE findings closed this round.

1. ``approx_row_count`` must not trust parquet-footer counts when the
   plan expands rows (Generate/Join) — the footer estimate counts BASE
   rows, a potentially unbounded underestimate that could hold the
   sharded build's split rule to too few list rows per shard.
2. The dedup pair-cache registry is bounded: past ``_PAIR_CACHE_CAP``
   the oldest cache is auto-unpersisted, so sessions unaware of
   ``release_pair_caches()`` cannot accumulate blocks without bound.
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------------------
# approx_row_count on row-expanding plans
# ---------------------------------------------------------------------------

@pytest.fixture()
def arr_parquet(spark, tmp_path):
    p = str(tmp_path / "arr.parquet")
    (spark.range(2_000)
     .select("id", F.array(*[F.lit(i) for i in range(8)]).alias("arr"))
     .write.parquet(p))
    return spark.read.parquet(p)


def test_plan_expansion_detector(spark, arr_parquet):
    from qfspark.sources import _plan_expands_rows

    assert not _plan_expands_rows(arr_parquet)
    assert not _plan_expands_rows(arr_parquet.where("id < 10"))
    assert not _plan_expands_rows(arr_parquet.select("id"))
    ex = arr_parquet.select(F.explode("arr").alias("x"))
    assert _plan_expands_rows(ex)
    j = arr_parquet.alias("a").join(
        arr_parquet.alias("b"), F.col("a.id") == F.col("b.id"))
    assert _plan_expands_rows(j)
    # Expand (rollup/cube) and arbitrary-arity Python stages also
    # emit more rows than the base files
    cube = (arr_parquet.withColumn("g", F.col("id") % 3)
            .rollup("g").count())
    assert _plan_expands_rows(cube)

    def _dup(batches):
        import pandas as pd
        for b in batches:
            yield pd.concat([b[["id"]], b[["id"]]])

    mp = arr_parquet.mapInPandas(_dup, "id long")
    assert _plan_expands_rows(mp)


def test_approx_row_count_explode_not_underestimated(spark, arr_parquet):
    """The 8x explode must report ~16k rows (exact count fallback), not
    the 2k base-file rows the footers would give."""
    from qfspark.sources import approx_row_count

    est = approx_row_count(
        arr_parquet.select(F.explode("arr").alias("x")))
    assert est == 16_000


def test_approx_row_count_plain_scan_still_scan_free(spark, arr_parquet,
                                                     monkeypatch):
    """Non-expanding parquet scans keep the footer rung: booby-trap
    count() and confirm it is never called."""
    from qfspark.sources import approx_row_count

    df = arr_parquet
    cls = type(df)
    monkeypatch.setattr(
        cls, "count",
        lambda self: (_ for _ in ()).throw(
            AssertionError("count() called on plain scan")))
    assert approx_row_count(df) == 2_000


def test_approx_row_count_range_leaf_runs_no_job(spark):
    """``spark.range(n)`` behind a projection has no plan-level row
    count with CBO off; the Range leaf's count answers without a job,
    and an explode above it still falls back to the exact count."""
    from qfspark.sources import approx_row_count

    from .conftest import jobs_started

    df = spark.range(3000).selectExpr("concat('k', id) AS key")
    est, jobs = jobs_started(
        spark, lambda: approx_row_count(df, fallback_count=False))
    assert (est, jobs) == (3000, [])
    assert approx_row_count(df.where("key < 'k5'"),
                            fallback_count=False) == 3000  # overestimate
    ex = spark.range(10).select(F.explode(F.array("id", "id")).alias("x"))
    assert approx_row_count(ex, fallback_count=False) is None
    assert approx_row_count(ex) == 20


def test_exchange_guard_uses_expanded_count(spark, arr_parquet,
                                            monkeypatch):
    """End-to-end shape of the ADVICE scenario: an exploded input with
    near-unique keys must size rows/shard from the EXPANDED
    cardinality. We assert via approx_row_count on the hashed plan the
    guard actually sees (with_hash preserves the Generate node)."""
    from qfspark.build import _keys_nonnull, with_hash, HASH_COL
    from qfspark.sources import approx_row_count

    exploded = (arr_parquet
                .select("id", F.explode("arr").alias("elem"))
                .select(F.concat_ws("-", "id", "elem").alias("key")))
    hashed = with_hash(_keys_nonnull(exploded, "key"), "key",
                       "murmur64").select(HASH_COL)
    assert approx_row_count(hashed) == 16_000


# ---------------------------------------------------------------------------
# bounded pair-cache registry
# ---------------------------------------------------------------------------

def test_pair_cache_registry_bounded(spark):
    from qfspark import dedup

    dedup.release_pair_caches()
    unpersisted = []

    class FakeDF:
        def __init__(self, i):
            self.i = i

        def unpersist(self, blocking=False):
            unpersisted.append(self.i)

    cap = dedup._PAIR_CACHE_CAP
    for i in range(cap + 5):
        dedup.track_cache(FakeDF(i))
    # oldest 5 evicted FIFO, registry holds exactly cap entries
    assert unpersisted == [0, 1, 2, 3, 4]
    assert len(dedup._PAIR_CACHES) == cap
    assert dedup.release_pair_caches() == cap
    assert dedup._PAIR_CACHES == []
