"""Round-4 surface tests: grouped Misra-Gries, distributed quantile
bound check, bottom-k duplicate-key semantics, weighted-MG null
weights, connected-components convergence guard, resume schema
alignment, and pair-cache release."""

import pytest
from pyspark.sql import functions as F

from qfspark import dedup, sketches


# ---------------------------------------------------------------------------
# grouped Misra-Gries (mg_summary_by / mg_bound_check_by)
# ---------------------------------------------------------------------------

def _grouped_zipfish(spark, groups=("en", "de"), n_keys=60, scale=600,
                     parts=8):
    """Per group g: key g-k{i} appears scale // (i+1) times."""
    dfs = [
        spark.range(n_keys)
        .selectExpr(
            f"'{g}' AS lang",
            f"concat('{g}-k', id) AS key",
            f"sequence(1, CAST({scale} / (id + 1) AS INT)) AS reps",
        )
        .selectExpr("lang", "key", "explode(reps)")
        .select("lang", "key")
        for g in groups
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.repartition(parts)


def _grouped_truth(groups=("en", "de"), n_keys=60, scale=600):
    return {
        (g, f"{g}-k{i}"): scale // (i + 1)
        for g in groups for i in range(n_keys)
    }


def test_mg_by_guarantee_holds_per_group(spark):
    df = _grouped_zipfish(spark)
    true = _grouped_truth()
    k = 8
    sk = sketches.mg_summary_by(df, "key", "lang", k).cache()
    rows = sk.collect()
    est = {(r.lang, r.item): r.est for r in rows if r.item is not None}
    err = {r.lang: r.err for r in rows if r.item is None}
    n_by = {}
    for (g, _), c in true.items():
        n_by[g] = n_by.get(g, 0) + c
    for g, n in n_by.items():
        per_group = [i for (gg, i) in est if gg == g]
        assert len(per_group) <= k
        assert err[g] * (k + 1) <= n
    for (g, item), c in true.items():
        e = est.get((g, item), 0)
        assert e <= c <= e + err[g], (g, item, e, c, err[g])
        if c * (k + 1) > n_by[g]:
            assert (g, item) in est, f"heavy {item} missing in {g}"


def test_mg_by_merge_preserves_guarantee(spark):
    df = _grouped_zipfish(spark)
    true = _grouped_truth()
    k = 8
    a = sketches.mg_summary_by(
        df.where("hash(key) % 2 = 0"), "key", "lang", k)
    b = sketches.mg_summary_by(
        df.where("hash(key) % 2 != 0"), "key", "lang", k)
    m = sketches.mg_merge_by(a, b, "lang", k).cache()
    rows = m.collect()
    est = {(r.lang, r.item): r.est for r in rows if r.item is not None}
    err = {r.lang: r.err for r in rows if r.item is None}
    n_by = {}
    for (g, _), c in true.items():
        n_by[g] = n_by.get(g, 0) + c
    for g, n in n_by.items():
        assert err[g] * (k + 1) <= n
    for (g, item), c in true.items():
        e = est.get((g, item), 0)
        assert e <= c <= e + err[g]


def test_mg_by_bound_check_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _grouped_zipfish(spark, n_keys=30, scale=300)
    p = str(tmp_path / "mgby_src.parquet")
    df.toPandas().to_parquet(p)
    got = sorted(
        (r.lang, r.item, r.ok)
        for r in sketches.mg_bound_check_by(df, "key", "lang", 6).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{p}')")
    want = sorted(map(tuple, con.sql(
        sketches.duckdb_mg_heavy_by_sql("key", "lang", 6, "src"))
        .fetchall()))
    assert got == want and len(got) > 0
    assert all(ok for (_, _, ok) in got)


def test_mg_by_null_group_rows_excluded(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "g": ["a"] * 50 + [None] * 50,
        "x": ["hot"] * 100,
    })
    df = spark.createDataFrame(pdf).repartition(4)
    sk = sketches.mg_summary_by(df, "x", "g", k=4).collect()
    # only group 'a' appears; its count covers only the non-null-group rows
    assert {r.g for r in sk} == {"a"}
    est = {r.item: r.est for r in sk if r.item is not None}
    assert est == {"hot": 50}


def test_mg_by_weighted_guarantee(spark):
    df = _grouped_zipfish(spark, n_keys=20, scale=200).withColumn(
        "w", F.length("key").cast("long"))
    k = 6
    sk = sketches.mg_summary_by(df, "key", "lang", k,
                                weight_col="w").cache()
    rows = sk.collect()
    est = {(r.lang, r.item): r.est for r in rows if r.item is not None}
    err = {r.lang: r.err for r in rows if r.item is None}
    true = (
        df.groupBy("lang", "key").agg(F.sum("w").alias("tw")).collect())
    w_by = {}
    for r in true:
        w_by[r.lang] = w_by.get(r.lang, 0) + r.tw
    for g, w in w_by.items():
        assert err[g] * (k + 1) <= w
    for r in true:
        e = est.get((r.lang, r.key), 0)
        assert e <= r.tw <= e + err[r.lang]


# ---------------------------------------------------------------------------
# distributed quantile_bound_check (no full-column driver collect)
# ---------------------------------------------------------------------------

def test_quantile_bound_check_values_match_local_reference(spark):
    """The distributed rank-interval computation must agree with the
    pre-0.4.0 driver-side bisect reference on the same fixture."""
    import bisect

    df = spark.range(20000).selectExpr(
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v")
    vals = sorted(r.v for r in df.collect())
    n = len(vals)
    qs = [0.1, 0.5, 0.9]
    for kind, build, bound in (
        ("tdigest", lambda: sketches.tdigest_build(df, "v", 100),
         6.0 / 100),
        ("kll", lambda: sketches.kll_build(df, "v", 256), 12.0 / 256),
    ):
        sk = build()
        got = {
            r.q: r.ok
            for r in sketches.quantile_bound_check(
                df, "v", qs, kind=kind).collect()
        }
        for q in qs:
            est = sk.quantile(q)
            lo = bisect.bisect_left(vals, est) / n
            hi = bisect.bisect_right(vals, est) / n
            want = max(0.0, lo - q, q - hi) <= bound
            assert got[q] == want, (kind, q)


def test_quantile_bound_check_no_full_column_collect(spark,
                                                     monkeypatch):
    """The checker must never move the value column to the driver: the
    sketch build's own partials are bounded, and the rank check is two
    conditional counts per q — every DataFrame.collect() in the call
    returns O(|qs|) rows, not O(n)."""
    df = spark.range(50000).selectExpr(
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v")
    cls = type(df)  # the concrete (classic) DataFrame class
    sizes = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    rows = sketches.quantile_bound_check(
        df, "v", [0.25, 0.75], kind="kll").collect()
    assert all(r.ok for r in rows)
    # the largest collect is the KLL partial-sketch merge: O(parts * k)
    # rows (~1.5k here), independent of n. The pre-0.4.0 checker's
    # value-column collect would show up as a 50000-row collect.
    assert max(sizes) < 10000, f"driver-side collect of {max(sizes)} rows"


# ---------------------------------------------------------------------------
# bottom-k: duplicate keys are deterministic (total order), distinct mode
# ---------------------------------------------------------------------------

def _dup_keyed(spark, parts):
    """key k{i % 40}: heavily duplicated keys with differing values."""
    return (
        spark.range(4000)
        .selectExpr("concat('k', id % 40) AS key",
                    "CAST(id AS DOUBLE) AS v")
        .repartition(parts)
    )


def test_bottomk_duplicate_keys_partitioning_invariant(spark):
    a = sketches.bottomk_sketch(_dup_keyed(spark, 2), "key", "v", k=50)
    b = sketches.bottomk_sketch(_dup_keyed(spark, 16), "key", "v", k=50)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple,
                                                         b.collect()))


def test_bottomk_duplicate_keys_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _dup_keyed(spark, 8)
    p = str(tmp_path / "bk_src.parquet")
    df.toPandas().to_parquet(p)
    qs = [0.1, 0.5, 0.9]
    got = sorted(
        (r.q, r.est_value)
        for r in sketches.bottomk_quantiles(
            sketches.bottomk_sketch(df, "key", "v", k=64), qs).collect())
    con = duckdb.connect()
    want = sorted(map(tuple, con.sql(
        sketches.duckdb_bottomk_quantiles_sql(
            "key", "v", 64, qs, "read_parquet('{}')".format(p)))
        .fetchall()))
    assert got == want


def test_bottomk_distinct_mode_dedupes_keys(spark):
    sk = sketches.bottomk_sketch(_dup_keyed(spark, 8), "key", "v",
                                 k=30, distinct=True).collect()
    keys = [r.key for r in sk]
    assert len(keys) == len(set(keys)) == 30
    # value = per-key minimum: k{i} carries values i, i+40, i+80, ...
    for r in sk:
        assert r.value == float(r.key[1:])


# ---------------------------------------------------------------------------
# weighted MG: null weights are skipped, not a crash
# ---------------------------------------------------------------------------

def test_mg_weighted_null_weights_skipped(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "key": ["a"] * 10 + ["b"] * 5,
        "w": [3] * 10 + [None] * 5,
    })
    df = spark.createDataFrame(pdf).repartition(3)
    sk = sketches.mg_summary(df, "key", k=4).cache()
    # unweighted path unaffected
    assert {r.item: r.est for r in sk.collect()
            if r.item is not None} == {"a": 10, "b": 5}
    wsk = sketches.mg_summary(df, "key", k=4, weight_col="w").collect()
    est = {r.item: r.est for r in wsk if r.item is not None}
    assert est == {"a": 30}  # b's rows all have null weight -> skipped


# ---------------------------------------------------------------------------
# connected components: loud failure on non-convergence
# ---------------------------------------------------------------------------

def test_connected_components_raises_on_max_iter(spark):
    # a 16-node path graph needs ~log2(16) rounds; max_iter=1 cannot
    # converge and must raise instead of returning split components
    pairs = spark.range(15).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_connected_components_still_converges(spark):
    pairs = spark.range(15).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    rows = dedup.connected_components(pairs).collect()
    assert {r.component for r in rows} == {0}
    assert len(rows) == 16


# ---------------------------------------------------------------------------
# resume over a checkpoint written before the log (pre-0.3.0: no build_secs)
# ---------------------------------------------------------------------------

def test_resume_over_legacy_checkpoint_rebuilds_every_shard(spark,
                                                            tmp_path):
    """A directory without a log still reads (newest row per shard), and
    a resume over it rebuilds every shard once, as version 1 of a log,
    in this version's schema."""
    from qfspark.build import (build_sharded_qf, read_shards,
                               shard_payload_bytes)
    from qfspark.sizing import QFConfig
    from qfspark.sources import log_versions

    ckpt = str(tmp_path / "shards_ckpt")
    cfg = QFConfig(counter_bits=8, hash_name="xxhash64")
    keys = spark.range(2000).selectExpr("concat('k', id) AS key")
    full = build_sharded_qf(keys, "key", shard_bits=2, config=cfg,
                            payload_dir=str(tmp_path))
    # two of the four shards as plain parquet WITHOUT build_secs,
    # simulating a pre-0.3.0 checkpoint left half-built
    full.where("shard < 2").drop("build_secs").write.parquet(ckpt)
    legacy = read_shards(spark, ckpt)
    assert sorted(r.shard for r in legacy.collect()) == [0, 1]
    assert "build_secs" not in legacy.columns

    out = build_sharded_qf(keys, "key", shard_bits=2, config=cfg,
                           checkpoint_path=ckpt, resume=True)
    assert [e["version"] for e in log_versions(ckpt)] == [1]
    expected = {r.shard: shard_payload_bytes(r) for r in full.collect()}
    for table in (out, read_shards(spark, ckpt)):
        rows = table.collect()
        assert "build_secs" in table.columns
        assert sorted(r.shard for r in rows) == [0, 1, 2, 3]
        assert {r.shard: shard_payload_bytes(r) for r in rows} == expected


# ---------------------------------------------------------------------------
# scan-free LSH sizing (approx_row_count)
# ---------------------------------------------------------------------------

def test_lsh_default_planes_without_full_scan(spark, monkeypatch):
    """Defaulted plane counts on parquet-backed input must come from
    plan statistics / parquet footers — never a df.count() scan (the
    pre-0.4.0 behavior). count() is booby-trapped; deriving the plan
    must not trip it."""
    from .conftest import SF_DIR_001

    emb = spark.read.parquet(f"{SF_DIR_001}/embeddings.parquet")
    cls = type(emb)

    def boom(self):
        raise AssertionError("full count() scan for defaulted planes")

    monkeypatch.setattr(cls, "count", boom)
    from qfspark import dedup, similarity

    similarity.lsh_cosine_topk(emb, k=3, tables=2)  # planes defaulted
    dedup.embedding_near_dup(emb, threshold=0.95, method="lsh")


def test_approx_row_count_ladder(spark):
    from .conftest import SF_DIR_001
    from qfspark.sources import approx_row_count

    emb = spark.read.parquet(f"{SF_DIR_001}/embeddings.parquet")
    exact = emb.count()
    assert approx_row_count(emb) == exact  # footers: exact, no scan
    import pandas as pd

    mem = spark.createDataFrame(pd.DataFrame({"a": range(123)}))
    assert approx_row_count(mem) == 123  # fallback path


# ---------------------------------------------------------------------------
# batched incremental insert (QF.insert_hashes)
# ---------------------------------------------------------------------------

def test_insert_hashes_differential_vs_scalar():
    """insert_hashes == per-element insert_hash in ascending order:
    identical decoded state, geometry (growth included), and
    was-present booleans — with duplicate hashes and add=True counts."""
    import numpy as np

    from qfspark.kernel import QF
    from qfspark.sizing import QFConfig

    rng = np.random.RandomState(11)
    hv = (rng.randint(0, 2 ** 63, 4000).astype(np.uint64) * np.uint64(2)
          + rng.randint(0, 2, 4000).astype(np.uint64))
    hv = np.concatenate([hv, hv[:500]])  # real duplicates
    a = QF(QFConfig(counter_bits=8))
    b = QF(QFConfig(counter_bits=8))
    order = np.argsort(hv, kind="stable")
    want = np.zeros(len(hv), dtype=bool)
    for i in order.tolist():
        want[i] = a.insert_hash(int(hv[i]), value=3, add=True)
    got = b.insert_hashes(hv, value=3, add=True)
    assert np.array_equal(got, want)
    da, db = a.decode(sort=True), b.decode(sort=True)
    assert np.array_equal(da[0], db[0])
    assert np.array_equal(da[1], db[1])
    assert a.q_bits == b.q_bits and len(a) == len(b)


def test_insert_hashes_then_lookup_roundtrip():
    import numpy as np

    from qfspark.kernel import QF
    from qfspark.sizing import QFConfig

    rng = np.random.RandomState(3)
    state = np.unique(
        rng.randint(0, 2 ** 63, 20000).astype(np.uint64) * np.uint64(2))
    qf = QF.from_hashes(state, None, QFConfig(counter_bits=4))
    fresh = state[:100] + np.uint64(1)  # odd: disjoint from state
    qf.insert_hashes(fresh, value=1)
    found, vals = qf.lookup_hashes(fresh)
    assert found.all()
    assert (vals == 1).all()
    found2, _ = qf.lookup_hashes(state)
    assert found2.all()  # zero false negatives preserved


# ---------------------------------------------------------------------------
# pair-cache release
# ---------------------------------------------------------------------------

def test_release_pair_caches(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "doc_id": range(20),
        "text": [f"common prefix words here tail{i % 3}" for i in
                 range(20)],
    })
    df = spark.createDataFrame(pdf)
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [0, 1], "doc_b": [3, 4]}))
    res = dedup.ngram_jaccard(df, pairs)
    res.count()
    assert dedup.release_pair_caches() >= 1
    assert dedup.release_pair_caches() == 0  # registry cleared
    res.count()  # plan still valid after release (cache was a hint)
