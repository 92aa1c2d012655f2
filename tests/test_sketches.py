"""Sketch library tests: estimate accuracy within published bounds,
merge == rebuild exactness for the deterministic sketches, error bounds
for the Python-kernel quantile sketches, checkpoint round-trip."""

import math
import random

import pytest

from pyspark.sql import functions as F

from qfspark import sketches
from qfspark.sketches import (
    KLLSketch,
    TDigest,
    bloom_bits,
    bloom_contains,
    bloom_fp_rate,
    bloom_merge,
    bottomk_merge,
    bottomk_quantiles,
    bottomk_sketch,
    countmin_merge,
    countmin_query,
    countmin_table,
    hll_cardinality,
    hll_error_bound,
    hll_merge,
    hll_registers,
    kll_build,
    quantile_bound_check,
    tdigest_build,
)


def _keys(spark, n, dup_every=0):
    df = spark.range(n).selectExpr("concat('k', id) AS key")
    if dup_every:
        df = df.unionByName(
            spark.range(0, n, dup_every).selectExpr("concat('k', id) AS key"))
    return df


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("n,p", [(1000, 10), (20000, 12), (50, 8)])
def test_hll_estimate_within_bound(spark, n, p):
    est = hll_cardinality(_keys(spark, n), "key", p).collect()[0]
    rel_err = abs(est.estimate - n) / n
    assert rel_err <= hll_error_bound(p, sigmas=4.0), (est.estimate, n)


def test_hll_duplicates_dont_count(spark):
    df = _keys(spark, 5000, dup_every=2)  # +2500 duplicate rows
    est = hll_cardinality(df, "key", 12).collect()[0]
    assert abs(est.estimate - 5000) / 5000 <= hll_error_bound(12, 4.0)


def test_hll_merge_equals_rebuild(spark):
    df = _keys(spark, 8000)
    a = hll_registers(df.limit(0), "key", 10)
    left = hll_registers(df.where(F.expr("substr(key, 2) % 2 = 0")), "key", 10)
    right = hll_registers(df.where(F.expr("substr(key, 2) % 2 = 1")), "key", 10)
    merged = sorted(hll_merge(left, right, a).collect())
    direct = sorted(hll_registers(df, "key", 10).collect())
    assert merged == direct  # row-identical, not approximately


def test_hll_oracle_twin_matches(spark, tmp_path):
    import duckdb

    df = _keys(spark, 3000, dup_every=3)
    df.write.mode("overwrite").parquet(str(tmp_path / "keys"))
    spark_row = hll_cardinality(
        spark.read.parquet(str(tmp_path / "keys")), "key", 10
    ).collect()[0].asDict()
    con = duckdb.connect()
    duck_row = con.sql(
        sketches.duckdb_hll_sql(
            "key", 10, f"read_parquet('{tmp_path}/keys/*.parquet')")
    ).df().iloc[0].to_dict()
    for k in ("m", "nonempty_buckets", "zero_buckets", "sum_scaled"):
        assert int(spark_row[k]) == int(duck_row[k]), k
    assert float(spark_row["estimate"]) == float(duck_row["estimate"])


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------

def test_countmin_overestimates_only_and_tight(spark):
    # skewed frequencies: key i appears (i % 7) + 1 times
    df = (spark.range(500)
          .selectExpr("concat('k', id) AS key", "CAST(id % 7 + 1 AS INT) AS c")
          .selectExpr("key", "explode(sequence(1, c)) AS _i")
          .select("key"))
    cm = countmin_table(df, "key", depth=4, width=1024)
    est = countmin_query(cm, df, "key", depth=4, width=1024)
    true = df.groupBy("key").agg(F.count(F.lit(1)).alias("t"))
    joined = est.join(true, "key").collect()
    n_total = df.count()
    over_bound = 2 * n_total / 1024  # published eps = 2/width
    assert all(r.cm_count >= r.t for r in joined)  # never underestimates
    bad = [r for r in joined if r.cm_count - r.t > over_bound]
    # probability of exceeding eps*N per key is <= 2^-depth; allow a few
    assert len(bad) <= max(2, int(0.1 * len(joined)))


def test_countmin_merge_equals_rebuild(spark):
    df = _keys(spark, 2000, dup_every=4)
    left = countmin_table(df.where(F.expr("substr(key, 2) % 2 = 0")),
                          "key", 3, 256)
    right = countmin_table(df.where(F.expr("substr(key, 2) % 2 = 1")),
                           "key", 3, 256)
    merged = sorted(countmin_merge(left, right).collect())
    direct = sorted(countmin_table(df, "key", 3, 256).collect())
    assert merged == direct


def test_rate_sample_nested_and_deterministic(spark):
    """The rate-p sample is a subset of every rate-p' >= p sample
    (consistent hashing), repeats are identical, and the rate is
    honoured within binomial noise."""
    df = spark.range(20000).selectExpr("concat('k', id) AS key")
    s25 = {r.key for r in sketches.rate_sample(df, "key", 0.25).collect()}
    s50 = {r.key for r in sketches.rate_sample(df, "key", 0.50).collect()}
    s25b = {r.key for r in sketches.rate_sample(df, "key", 0.25).collect()}
    assert s25 == s25b
    assert s25 <= s50
    assert abs(len(s25) / 20000 - 0.25) < 0.02
    assert abs(len(s50) / 20000 - 0.50) < 0.02
    assert len({r.key for r in
                sketches.rate_sample(df, "key", 0.0).collect()}) == 0
    assert len({r.key for r in
                sketches.rate_sample(df, "key", 1.0).collect()}) == 20000


def test_rate_sample_by_stratified(spark):
    df = spark.range(30000).selectExpr(
        "concat('k', id) AS key",
        "CASE pmod(id, 4) WHEN 0 THEN 'en' WHEN 1 THEN 'de' "
        "WHEN 2 THEN 'fr' ELSE NULL END AS lang")
    out = sketches.rate_sample_by(
        df, "key", ["lang"], {"en": 0.5, "de": 1.0}, default_rate=0.1)
    counts = {r.lang: r.c for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    assert None not in counts  # NULL groups excluded
    assert abs(counts["en"] / 7500 - 0.5) < 0.05
    assert counts["de"] == 7500  # rate 1.0 keeps the group whole
    assert abs(counts["fr"] / 7500 - 0.1) < 0.05
    # per-group sample uses the same u(key): the en sample at 0.5 is
    # the global 0.5 sample restricted to en rows
    glob = {r.key for r in sketches.rate_sample(df, "key", 0.5).collect()}
    en = {r.key for r in out.where("lang = 'en'").collect()}
    assert en == {k for k in glob
                  if int(k[1:]) % 4 == 0}


def test_rate_sample_by_dataframe_rates_matches_dict(spark):
    """The broadcast-join rates path (DataFrame rates — the
    thousands-of-strata shape) must select EXACTLY the same rows as
    the CASE path for the same rate map, including the default rate
    for unlisted groups."""
    df = spark.range(12000).selectExpr(
        "concat('k', id) AS key",
        "CASE pmod(id, 3) WHEN 0 THEN 'en' WHEN 1 THEN 'de' "
        "ELSE 'fr' END AS lang")
    rmap = {"en": 0.4, "de": 0.9}
    via_dict = {r.key for r in sketches.rate_sample_by(
        df, "key", ["lang"], rmap, default_rate=0.15).collect()}
    rates_df = spark.createDataFrame(
        [("en", 0.4), ("de", 0.9)], "lang string, rate double")
    via_df = {r.key for r in sketches.rate_sample_by(
        df, "key", ["lang"], rates_df, default_rate=0.15).collect()}
    assert via_dict == via_df
    assert len(via_dict) > 0


def test_countmin_query_by_shuffle_join_matches_broadcast(spark):
    df = spark.range(2000).selectExpr(
        "CASE pmod(id, 2) WHEN 0 THEN 'a' ELSE 'b' END AS g",
        "concat('k', pmod(id, 53)) AS key")
    cm = sketches.countmin_table_by(df, "key", ["g"], 3, 128)
    bc = sorted(map(tuple, sketches.countmin_query_by(
        cm, df, "key", ["g"], 3, 128).collect()))
    sh = sorted(map(tuple, sketches.countmin_query_by(
        cm, df, "key", ["g"], 3, 128, broadcast=False).collect()))
    assert bc == sh


def test_kmv_by_merge_equals_rebuild_and_absent_side(spark):
    """Grouped KMV: per-group merge == rebuild exactly; a group present
    on only one side reports the other side's estimate as 0 and
    jaccard 0."""
    df = spark.range(4000).selectExpr(
        "CASE pmod(id, 3) WHEN 0 THEN 'x' WHEN 1 THEN 'y' ELSE 'z' "
        "END AS g",
        "concat('k', id) AS key")
    left = sketches.kmv_sketch_by(
        df.where("pmod(id, 2) = 0"), "key", ["g"], 64)
    right = sketches.kmv_sketch_by(
        df.where("pmod(id, 2) = 1"), "key", ["g"], 64)
    merged = sorted(map(tuple, sketches.kmv_merge_by(
        left, right, ["g"], 64).collect()))
    direct = sorted(map(tuple, sketches.kmv_sketch_by(
        df, "key", ["g"], 64).collect()))
    assert merged == direct
    # set ops with one group absent from side B
    ops = sketches.kmv_set_ops_by(
        df, df.where("g != 'z'"), "key", ["g"], 64)
    rows = {r.g: r for r in ops.collect()}
    assert set(rows) == {"x", "y", "z"}
    assert rows["z"].est_b == 0.0 and rows["z"].jaccard == 0.0
    assert rows["z"].est_intersection == 0.0
    assert rows["x"].jaccard > 0.9  # identical sets per group
    # per-group estimates within KMV relative error ~ 1/sqrt(k)
    import math
    true = {r.g: r.c for r in
            df.groupBy("g").agg(F.countDistinct("key").alias("c"))
            .collect()}
    for g in ("x", "y"):
        assert abs(rows[g].est_a - true[g]) / true[g] <= \
            4.0 / math.sqrt(64), g


def test_countmin_by_per_group_guarantee_and_merge(spark):
    """Grouped count-min: per-group tables are independent — each
    group's estimates never underestimate and ride the GROUP's total;
    merge == rebuild exactly; NULL group keys excluded."""
    df = spark.range(3000).selectExpr(
        "CASE WHEN pmod(id, 11) = 0 THEN NULL "
        "     WHEN pmod(id, 2) = 0 THEN 'g0' ELSE 'g1' END AS g",
        "concat('k', pmod(id, 97)) AS key")
    cm = sketches.countmin_table_by(df, "key", ["g"], 3, 256)
    assert {r.g for r in cm.select("g").distinct().collect()} \
        == {"g0", "g1"}
    est = sketches.countmin_query_by(cm, df, "key", ["g"], 3, 256)
    true = (df.where("g IS NOT NULL").groupBy("g", "key")
            .agg(F.count(F.lit(1)).alias("t")))
    joined = est.join(true, ["g", "key"]).collect()
    assert len(joined) > 0
    assert all(r.cm_count >= r.t for r in joined)
    # merge == rebuild (cell-wise sum is exact)
    left = sketches.countmin_table_by(
        df.where("pmod(id, 2) = 0"), "key", ["g"], 3, 256)
    right = sketches.countmin_table_by(
        df.where("pmod(id, 2) = 1"), "key", ["g"], 3, 256)
    merged = sorted(map(tuple,
                        sketches.countmin_merge_by(
                            ["g"], left, right).collect()))
    direct = sorted(map(tuple, cm.collect()))
    assert merged == direct


def test_countmin_absent_key_zero_or_small(spark):
    df = _keys(spark, 100)
    cm = countmin_table(df, "key", depth=4, width=4096)
    probes = spark.createDataFrame([("absent-xyz",)], ["key"])
    est = countmin_query(cm, probes, "key", depth=4, width=4096).collect()[0]
    assert est.cm_count <= 2  # tiny collision mass at this load


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------

def test_bloom_zero_false_negatives_and_fp_rate(spark):
    members = _keys(spark, 4000)
    bits = bloom_bits(members, "key", m_bits=1 << 16, k=4)
    absents = spark.range(4000).selectExpr("concat('absent', id) AS key")
    probes = members.unionByName(absents)
    seen = bloom_contains(bits, probes, "key", m_bits=1 << 16, k=4)
    res = {r.key: r.bloom_seen for r in seen.collect()}
    assert all(res[f"k{i}"] for i in range(4000))  # zero FN
    fps = sum(res[f"absent{i}"] for i in range(4000))
    expected = bloom_fp_rate(1 << 16, 4, 4000)
    assert fps / 4000 <= 4 * expected + 0.01


def test_bloom_merge_equals_rebuild(spark):
    df = _keys(spark, 3000)
    left = bloom_bits(df.where(F.expr("substr(key, 2) % 2 = 0")),
                      "key", 1 << 14, 3)
    right = bloom_bits(df.where(F.expr("substr(key, 2) % 2 = 1")),
                       "key", 1 << 14, 3)
    merged = sorted(r.bit_pos for r in bloom_merge(left, right).collect())
    direct = sorted(r.bit_pos for r in bloom_bits(df, "key", 1 << 14, 3)
                    .collect())
    assert merged == direct


# ---------------------------------------------------------------------------
# bottom-k
# ---------------------------------------------------------------------------

def test_bottomk_merge_equals_rebuild(spark):
    df = spark.range(5000).selectExpr(
        "concat('k', id) AS k", "CAST(id AS DOUBLE) AS v")
    left = bottomk_sketch(df.where("id % 2 = 0"), "k", "v", 256)
    right = bottomk_sketch(df.where("id % 2 = 1"), "k", "v", 256)
    merged = sorted(bottomk_merge(left, right, 256).collect())
    direct = sorted(bottomk_sketch(df, "k", "v", 256).collect())
    assert merged == direct


def test_bottomk_quantiles_rank_error(spark):
    n, k = 20000, 1024
    df = spark.range(n).selectExpr(
        "concat('k', id) AS k", "CAST(id AS DOUBLE) AS v")
    sk = bottomk_sketch(df, "k", "v", k)
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    ests = {r.q: r.est_value for r in bottomk_quantiles(sk, qs).collect()}
    for q in qs:
        rank = ests[q] / (n - 1)  # values ARE their rank here
        assert abs(rank - q) <= 2.5 / math.sqrt(k), (q, ests[q])


# ---------------------------------------------------------------------------
# t-digest (local kernel + distributed build)
# ---------------------------------------------------------------------------

def _rank_err(values_sorted, est, q):
    """Distance from q to the rank INTERVAL the estimate occupies (ties
    span [bisect_left, bisect_right]; any rank inside is consistent)."""
    import bisect

    n = len(values_sorted)
    lo = bisect.bisect_left(values_sorted, est) / n
    hi = bisect.bisect_right(values_sorted, est) / n
    return max(0.0, lo - q, q - hi)


@pytest.mark.parametrize("dist", ["uniform", "normal", "lognormal", "skew"])
def test_tdigest_rank_error_bound(dist):
    rng = random.Random(42)
    if dist == "uniform":
        vals = [rng.random() for _ in range(50000)]
    elif dist == "normal":
        vals = [rng.gauss(0, 1) for _ in range(50000)]
    elif dist == "lognormal":
        vals = [math.exp(rng.gauss(0, 2)) for _ in range(50000)]
    else:
        vals = [0.0] * 25000 + [rng.random() * 1e6 for _ in range(25000)]
    d = TDigest.from_values(vals, compression=100)
    s = sorted(vals)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        assert _rank_err(s, d.quantile(q), q) <= 6.0 / 100, (dist, q)


def test_tdigest_merge_preserves_bound():
    rng = random.Random(7)
    a_vals = [rng.gauss(0, 1) for _ in range(20000)]
    b_vals = [rng.gauss(5, 3) for _ in range(20000)]
    merged = TDigest.from_values(a_vals, 100).merge(
        TDigest.from_values(b_vals, 100))
    s = sorted(a_vals + b_vals)
    for q in (0.1, 0.5, 0.9):
        assert _rank_err(s, merged.quantile(q), q) <= 8.0 / 100
    assert merged.total_weight == pytest.approx(40000)
    assert len(merged.means) <= 200  # bounded size after merge


def test_tdigest_distributed_build(spark):
    df = spark.range(30000).selectExpr(
        "CAST(pmod(id * 2654435761, 97) AS DOUBLE) AS v").repartition(8)
    d = tdigest_build(df, "v", compression=100)
    vals = sorted(r.v for r in df.collect())
    for q in (0.1, 0.5, 0.9):
        assert _rank_err(vals, d.quantile(q), q) <= 6.0 / 100


# ---------------------------------------------------------------------------
# KLL
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dist", ["uniform", "sorted", "reverse"])
def test_kll_rank_error_bound(dist):
    rng = random.Random(3)
    vals = [rng.random() for _ in range(40000)]
    if dist == "sorted":
        vals.sort()
    elif dist == "reverse":
        vals.sort(reverse=True)
    sk = KLLSketch(256)
    sk.extend(vals)
    s = sorted(vals)
    for q in (0.05, 0.25, 0.5, 0.75, 0.95):
        assert _rank_err(s, sk.quantile(q), q) <= 12.0 / 256, (dist, q)


def test_kll_merge_preserves_bound():
    rng = random.Random(11)
    a_vals = [rng.random() for _ in range(15000)]
    b_vals = [rng.random() * 10 for _ in range(15000)]
    a = KLLSketch(256)
    a.extend(a_vals)
    b = KLLSketch(256)
    b.extend(b_vals)
    m = a.merge(b)
    s = sorted(a_vals + b_vals)
    for q in (0.1, 0.5, 0.9):
        assert _rank_err(s, m.quantile(q), q) <= 16.0 / 256


def test_kll_distributed_build(spark):
    df = spark.range(25000).selectExpr(
        "CAST(pmod(id * 11400714819323, 1013) AS DOUBLE) AS v"
    ).repartition(8)
    sk = kll_build(df, "v", k=256)
    vals = sorted(r.v for r in df.collect())
    for q in (0.1, 0.5, 0.9):
        assert _rank_err(vals, sk.quantile(q), q) <= 12.0 / 256


def test_quantile_bound_check_all_ok(spark):
    df = spark.range(20000).selectExpr(
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v")
    for kind in ("tdigest", "kll"):
        rows = quantile_bound_check(
            df, "v", [0.1, 0.5, 0.9], kind=kind).collect()
        assert all(r.ok for r in rows), (kind, rows)


def test_kll_tree_merge_bound_and_order_independence(spark):
    """>fan partitions triggers the distributed pre-merge stage; the
    bound must hold for every merge-tree shape (different partitionings
    give different trees)."""
    base = spark.range(40000).selectExpr(
        "CAST(pmod(id * 2654435761, 99991) AS DOUBLE) AS v")
    vals = sorted(r.v for r in base.collect())
    for nparts in (96, 130):
        sk = kll_build(base.repartition(nparts), "v", k=256, fan=16)
        for q in (0.1, 0.5, 0.9):
            # merged-sketch constant (test_kll_merge_preserves_bound)
            assert _rank_err(vals, sk.quantile(q), q) <= 16.0 / 256, \
                (nparts, q)


def test_tdigest_tree_merge_bound_and_order_independence(spark):
    base = spark.range(40000).selectExpr(
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v")
    vals = sorted(r.v for r in base.collect())
    for nparts in (96, 130):
        d = tdigest_build(base.repartition(nparts), "v",
                          compression=100, fan=16)
        for q in (0.1, 0.5, 0.9):
            assert _rank_err(vals, d.quantile(q), q) <= 6.0 / 100, \
                (nparts, q)


# ---------------------------------------------------------------------------
# grouped KLL
# ---------------------------------------------------------------------------

def _grouped_vals(spark, n=40000):
    """Four groups with deliberately different scales and sizes (one
    tiny group exercises the exact-small-group path)."""
    return spark.range(n).selectExpr(
        "CASE WHEN pmod(id, 100) = 0 THEN 'tiny' "
        "     WHEN pmod(id, 3) = 0 THEN 'a' "
        "     WHEN pmod(id, 3) = 1 THEN 'b' ELSE 'c' END AS g",
        "CAST(pmod(id * 2654435761, 99991) AS DOUBLE) * "
        "CASE WHEN pmod(id, 3) = 1 THEN 0.001 ELSE 1.0 END AS v",
    ).repartition(8)


def test_kll_by_rank_error_per_group(spark):
    df = _grouped_vals(spark)
    sks = sketches.kll_build_by(df, "v", ["g"], k=256)
    exact = {}
    for r in df.collect():
        exact.setdefault(r.g, []).append(r.v)
    assert set(sks) == {("a",), ("b",), ("c",), ("tiny",)}
    for (g,), sk in sks.items():
        vals = sorted(exact[g])
        # n is recomputed from level weights: odd-buffer compactions
        # drift it by up to one weight per compaction (inherent to KLL)
        assert abs(sk.n - len(vals)) <= 0.01 * len(vals), g
        for q in (0.1, 0.5, 0.9):
            assert _rank_err(vals, sk.quantile(q), q) <= 12.0 / 256, (g, q)


def test_kll_quantiles_by_matches_build_by_bound(spark):
    """The distributed applyInPandas merge must honour the same bound
    as the driver-side build (they share _kll_from_level_rows, but the
    distributed path groups partial rows via shuffle)."""
    df = _grouped_vals(spark, 30000)
    est = {(r.g, r.q): r.est
           for r in sketches.kll_quantiles_by(
               df, "v", ["g"], [0.1, 0.5, 0.9], k=256).collect()}
    exact = {}
    for r in df.collect():
        exact.setdefault(r.g, []).append(r.v)
    assert len(est) == 4 * 3
    for (g, q), e in est.items():
        assert _rank_err(sorted(exact[g]), e, q) <= 12.0 / 256, (g, q)


def test_kll_partials_by_merge_is_union(spark):
    """Merging two grouped partial tables (union) then finalizing must
    stay within the merged-sketch bound — KLL merge is union-then-
    compress, and the group finalize IS the compress."""
    df_a = _grouped_vals(spark, 15000)
    df_b = spark.range(15000, 30000).selectExpr(
        "CASE WHEN pmod(id, 3) = 0 THEN 'a' "
        "     WHEN pmod(id, 3) = 1 THEN 'b' ELSE 'c' END AS g",
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v").repartition(4)
    pa = sketches.kll_partials_by(df_a, "v", ["g"], k=256)
    pb = sketches.kll_partials_by(df_b, "v", ["g"], k=256)
    merged = sketches.kll_merge_partials_by(pa, pb).collect()
    acc = {}
    for r in merged:
        ls, vs = acc.setdefault(r.g, ([], []))
        ls.append(r.level)
        vs.append(r.value)
    exact = {}
    for src in (df_a, df_b):
        for r in src.collect():
            exact.setdefault(r.g, []).append(r.v)
    for g, (ls, vs) in acc.items():
        sk = sketches._kll_from_level_rows(ls, vs, 256)
        vals = sorted(exact[g])
        assert abs(sk.n - len(vals)) <= 0.01 * len(vals), g
        for q in (0.1, 0.5, 0.9):
            # merged-sketch constant (matches test_kll_merge_preserves_bound)
            assert _rank_err(vals, sk.quantile(q), q) <= 16.0 / 256, (g, q)


def test_quantile_bound_check_by_all_ok_and_null_groups(spark):
    df = spark.range(20000).selectExpr(
        "CASE WHEN pmod(id, 7) = 0 THEN NULL "
        "     WHEN pmod(id, 2) = 0 THEN 'x' ELSE 'y' END AS g",
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v")
    rows = sketches.quantile_bound_check_by(
        df, "v", ["g"], [0.1, 0.5, 0.9], k=256).collect()
    assert {r.g for r in rows} == {"x", "y"}  # NULL group excluded
    assert len(rows) == 6
    assert all(r.ok for r in rows), rows


# ---------------------------------------------------------------------------
# checkpoint round-trip
# ---------------------------------------------------------------------------

def test_sketch_checkpoint_roundtrip(spark, tmp_path):
    df = _keys(spark, 2000)
    regs = hll_registers(df, "key", 10)
    path = str(tmp_path / "hll_ckpt")
    sketches.checkpoint_sketch(regs, path, kind="hll")
    back = sketches.read_sketch(spark, path)
    assert sorted(back.collect()) == sorted(regs.collect())
    est = sketches.hll_estimate(back, 10).collect()[0]
    assert abs(est.estimate - 2000) / 2000 <= hll_error_bound(10, 4.0)


def test_plain_sketch_checkpoint_overwrites(spark, tmp_path):
    """A re-run plain checkpoint replaces the table: two checkpoints to
    one path read back the rows once, not twice."""
    regs = hll_registers(_keys(spark, 500), "key", 10)
    path = str(tmp_path / "hll_twice")
    assert sketches.checkpoint_sketch(regs, path, kind="hll") == 0
    assert sketches.checkpoint_sketch(regs, path, kind="hll") == 0
    back = sketches.read_sketch(spark, path)
    assert sorted(back.collect()) == sorted(regs.collect())


# ---------------------------------------------------------------------------
# Misra-Gries frequent items
# ---------------------------------------------------------------------------

def _zipfish(spark, n_keys=200, scale=2000, parts=8):
    """key i appears scale // (i+1) times — known skewed multiset."""
    return (
        spark.range(n_keys)
        .selectExpr(f"id", f"sequence(1, CAST({scale} / (id + 1) AS INT)) AS reps")
        .selectExpr("concat('k', id) AS key", "explode(reps)")
        .select("key")
        .repartition(parts)
    )


def _mg_truth(n_keys=200, scale=2000):
    return {f"k{i}": scale // (i + 1) for i in range(n_keys)}


def test_mg_guarantee_holds(spark):
    df = _zipfish(spark)
    true = _mg_truth()
    n = sum(true.values())
    k = 16
    sk = sketches.mg_summary(df, "key", k).cache()
    est = {r.item: r.est for r in sk.collect() if r.item is not None}
    err = sketches.mg_error(sk).first().err
    assert len(est) <= k
    assert err * (k + 1) <= n  # published Misra-Gries bound
    for item, c in true.items():
        e = est.get(item, 0)
        assert e <= c <= e + err, (item, e, c, err)
        if c * (k + 1) > n:
            assert item in est, f"heavy hitter {item} missing"


def test_mg_merge_preserves_guarantee(spark):
    df = _zipfish(spark)
    true = _mg_truth()
    n = sum(true.values())
    k = 16
    a = sketches.mg_summary(df.where("hash(key) % 2 = 0"), "key", k)
    b = sketches.mg_summary(df.where("hash(key) % 2 != 0"), "key", k)
    m = sketches.mg_merge(a, b, k).cache()
    est = {r.item: r.est for r in m.collect() if r.item is not None}
    err = sketches.mg_error(m).first().err
    assert len(est) <= k
    assert err * (k + 1) <= n
    for item, c in true.items():
        e = est.get(item, 0)
        assert e <= c <= e + err, (item, e, c, err)


def test_mg_no_prune_is_exact(spark):
    """k >= distinct keys: the summary is the exact count table, err 0."""
    df = _zipfish(spark, n_keys=10, scale=100)
    sk = sketches.mg_summary(df, "key", 64).cache()
    est = {r.item: r.est for r in sk.collect() if r.item is not None}
    assert est == _mg_truth(n_keys=10, scale=100)
    assert sketches.mg_error(sk).first().err == 0


def test_mg_bound_check_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _zipfish(spark, n_keys=50, scale=500)
    p = str(tmp_path / "mg_src.parquet")
    df.toPandas().to_parquet(p)
    got = sorted(
        (r.item, r.ok)
        for r in sketches.mg_bound_check(df, "key", 8).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{p}')")
    want = sorted(map(tuple, con.sql(
        sketches.duckdb_mg_heavy_sql("key", 8, "src")).fetchall()))
    assert got == want and got and all(ok for _, ok in got)


# ---------------------------------------------------------------------------
# HLL set operations
# ---------------------------------------------------------------------------

def test_hll_set_ops_accuracy(spark):
    a = _keys(spark, 8000)                       # k0..k7999
    b = spark.range(4000, 12000).selectExpr("concat('k', id) AS key")
    row = sketches.hll_set_ops(a, b, "key", p=12).collect()[0]
    tol = hll_error_bound(12, sigmas=4.0)
    assert abs(row.est_a - 8000) / 8000 <= tol
    assert abs(row.est_b - 8000) / 8000 <= tol
    assert abs(row.est_union - 12000) / 12000 <= tol
    # intersection error scales with the union size
    assert abs(row.est_intersection - 4000) <= 3 * tol * 12000


def test_hll_set_ops_matches_duckdb(spark, tmp_path):
    import duckdb

    a = _keys(spark, 3000)
    b = spark.range(1500, 5000).selectExpr("concat('k', id) AS key")
    pa_, pb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    a.toPandas().to_parquet(pa_)
    b.toPandas().to_parquet(pb)
    got = sketches.hll_set_ops(a, b, "key", p=10).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW sa AS SELECT * FROM read_parquet('{pa_}')")
    con.execute(f"CREATE VIEW sb AS SELECT * FROM read_parquet('{pb}')")
    want = con.sql(
        sketches.duckdb_hll_set_ops_sql("key", 10, "sa", "sb")).fetchone()
    assert (got.est_a, got.est_b, got.est_union,
            got.est_intersection) == want


# ---------------------------------------------------------------------------
# AMS F2
# ---------------------------------------------------------------------------

def test_ams_f2_accuracy(spark):
    df = _zipfish(spark)                 # known counts scale//(i+1)
    true = _mg_truth()
    f2 = sum(c * c for c in true.values())
    est = sketches.ams_f2_estimate(
        sketches.ams_f2_table(df, "key", depth=5, width=32),
        depth=5, width=32).collect()[0].f2_estimate
    # median-of-means: sd ~ sqrt(2/width)*F2 per group; 4-sigma slack
    assert abs(est - f2) / f2 <= 4.0 * math.sqrt(2.0 / 32), (est, f2)


def test_ams_f2_merge_equals_rebuild(spark):
    df = _zipfish(spark, n_keys=50, scale=400)
    whole = sketches.ams_f2_table(df, "key", depth=3, width=8)
    a = sketches.ams_f2_table(
        df.where("hash(key) % 2 = 0"), "key", depth=3, width=8)
    b = sketches.ams_f2_table(
        df.where("hash(key) % 2 != 0"), "key", depth=3, width=8)
    merged = sketches.ams_f2_merge(a, b)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_ams_f2_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _zipfish(spark, n_keys=60, scale=300)
    p = str(tmp_path / "ams_src.parquet")
    df.toPandas().to_parquet(p)
    got = sketches.ams_f2_estimate(
        sketches.ams_f2_table(df, "key", depth=5, width=8),
        depth=5, width=8).collect()[0].f2_estimate
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{p}')")
    want = con.sql(
        sketches.duckdb_ams_f2_sql("key", 5, 8, "src")).fetchone()[0]
    assert got == want


# ---------------------------------------------------------------------------
# xxhash64 fast path (production hash scheme; no cross-engine twin)
# ---------------------------------------------------------------------------

def test_xxhash_scheme_hll_accuracy(spark):
    est = sketches.hll_cardinality(
        _keys(spark, 20000), "key", 12,
        hash_scheme="xxhash64").collect()[0]
    assert abs(est.estimate - 20000) / 20000 <= hll_error_bound(12, 4.0)


def test_xxhash_scheme_countmin_never_underestimates(spark):
    df = _keys(spark, 3000, dup_every=3)
    cm = countmin_table(df, "key", 4, 512, hash_scheme="xxhash64")
    est = countmin_query(cm, df, "key", 4, 512, hash_scheme="xxhash64")
    true = df.groupBy("key").count()
    bad = (est.join(true, "key")
           .where("cm_count < count").count())
    assert bad == 0


def test_xxhash_scheme_bloom_zero_fn(spark):
    df = _keys(spark, 2000)
    bits = bloom_bits(df, "key", 1 << 15, 4, hash_scheme="xxhash64")
    seen = bloom_contains(bits, df, "key", 1 << 15, 4,
                          hash_scheme="xxhash64")
    assert seen.where("NOT bloom_seen").count() == 0


def test_xxhash_scheme_merge_equals_rebuild(spark):
    df = _keys(spark, 4000)
    a = hll_registers(df.where("hash(key) % 2 = 0"), "key", 10,
                      hash_scheme="xxhash64")
    b = hll_registers(df.where("hash(key) % 2 != 0"), "key", 10,
                      hash_scheme="xxhash64")
    whole = hll_registers(df, "key", 10, hash_scheme="xxhash64")
    assert sorted(map(tuple, hll_merge(a, b).collect())) == \
        sorted(map(tuple, whole.collect()))


def test_unknown_hash_scheme_raises(spark):
    with pytest.raises(ValueError, match="hash scheme"):
        sketches.sketch_hash("key", "md5")


# ---------------------------------------------------------------------------
# KMV / theta-style set operations
# ---------------------------------------------------------------------------

def test_kmv_set_ops_accuracy(spark):
    a = _keys(spark, 8000)
    b = spark.range(4000, 12000).selectExpr("concat('k', id) AS key")
    row = sketches.kmv_set_ops(a, b, "key", k=512).collect()[0]
    assert abs(row.est_union - 12000) / 12000 < 0.15
    assert abs(row.jaccard - 1 / 3) < 0.1
    # the KMV intersection tracks the true Jaccard, not the union size
    assert abs(row.est_intersection - 4000) / 4000 < 0.3
    # theta-style A-not-B: true |A\B| = |B\A| = 4000
    assert abs(row.est_a_minus_b - 4000) / 4000 < 0.3
    assert abs(row.est_b_minus_a - 4000) / 4000 < 0.3
    # the three disjoint parts partition the union estimate
    assert abs((row.est_intersection + row.est_a_minus_b
                + row.est_b_minus_a) - row.est_union) < 2.0


def test_kmv_merge_equals_rebuild(spark):
    df = _keys(spark, 5000)
    a = sketches.kmv_sketch(df.where("hash(key) % 2 = 0"), "key", 256)
    b = sketches.kmv_sketch(df.where("hash(key) % 2 != 0"), "key", 256)
    whole = sketches.kmv_sketch(df, "key", 256)
    assert sorted(r.h for r in sketches.kmv_merge(a, b, 256).collect()) \
        == sorted(r.h for r in whole.collect())


def test_kmv_small_set_is_exact(spark):
    row = sketches.kmv_set_ops(
        _keys(spark, 50), _keys(spark, 30), "key", k=256).collect()[0]
    assert (row.est_a, row.est_b, row.est_union) == (50.0, 30.0, 50.0)
    assert row.est_intersection == 30.0 and row.jaccard == 0.6
    assert row.est_a_minus_b == 20.0 and row.est_b_minus_a == 0.0


def test_kmv_matches_duckdb(spark, tmp_path):
    import duckdb

    a = _keys(spark, 3000)
    b = spark.range(1000, 4000).selectExpr("concat('k', id) AS key")
    pa_, pb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    a.toPandas().to_parquet(pa_)
    b.toPandas().to_parquet(pb)
    got = sketches.kmv_set_ops(a, b, "key", k=200).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW sa_src AS SELECT * FROM read_parquet('{pa_}')")
    con.execute(f"CREATE VIEW sb_src AS SELECT * FROM read_parquet('{pb}')")
    want = con.sql(sketches.duckdb_kmv_set_ops_sql(
        "key", 200, "sa_src", "sb_src")).fetchone()
    assert (got.est_a, got.est_b, got.est_union, got.jaccard,
            got.est_intersection, got.est_a_minus_b,
            got.est_b_minus_a) == want


# ---------------------------------------------------------------------------
# grouped HLL rollup
# ---------------------------------------------------------------------------

def test_hll_by_group_accuracy_and_merge(spark):
    df = spark.range(30000).selectExpr(
        "concat('g', pmod(id, 3)) AS grp", "concat('k', id) AS key")
    est = {r.grp: r.estimate for r in sketches.hll_cardinality_by(
        df, "key", ["grp"], p=11).collect()}
    assert len(est) == 3
    for g, e in est.items():
        assert abs(e - 10000) / 10000 <= hll_error_bound(11, 4.0), (g, e)
    # grouped merge == grouped rebuild, row-identically
    a = sketches.hll_registers_by(
        df.where("id % 2 = 0"), "key", ["grp"], p=11)
    b = sketches.hll_registers_by(
        df.where("id % 2 != 0"), "key", ["grp"], p=11)
    merged = (a.unionByName(b).groupBy("grp", "bucket")
              .agg(F.max("rho_max").alias("rho_max")))
    whole = sketches.hll_registers_by(df, "key", ["grp"], p=11)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_hll_by_group_matches_duckdb(spark, tmp_path):
    import duckdb

    df = spark.range(5000).selectExpr(
        "concat('g', pmod(id, 4)) AS grp", "concat('k', id) AS key")
    p = str(tmp_path / "grp.parquet")
    df.toPandas().to_parquet(p)
    got = sorted(map(tuple, sketches.hll_cardinality_by(
        df, "key", ["grp"], p=9).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{p}')")
    want = sorted(map(tuple, con.sql(sketches.duckdb_hll_by_sql(
        "key", ["grp"], 9, "src")).fetchall()))
    assert got == want


def test_bottomk_by_merge_and_rank_error(spark):
    df = spark.range(20000).selectExpr(
        "concat('g', pmod(id, 2)) AS grp",
        "concat('k', id) AS k",
        "CAST(pmod(id * 48271, 65537) AS DOUBLE) AS v")
    sk = sketches.bottomk_sketch_by(df, "k", "v", ["grp"], k=512)
    # per-group size == k
    sizes = {r.grp: r.cnt for r in
             sk.groupBy("grp").agg(F.count("*").alias("cnt")).collect()}
    assert sizes == {"g0": 512, "g1": 512}
    # merge (union + re-apply) == rebuild per group
    a = sketches.bottomk_sketch_by(
        df.where("id % 3 = 0"), "k", "v", ["grp"], k=512)
    b = sketches.bottomk_sketch_by(
        df.where("id % 3 != 0"), "k", "v", ["grp"], k=512)
    remerged = sketches.bottomk_sketch_by(
        a.unionByName(b).select("grp", F.col("key").alias("k"),
                                F.col("value").alias("v")),
        "k", "v", ["grp"], k=512)
    assert sorted(map(tuple, remerged.collect())) == \
        sorted(map(tuple, sk.collect()))
    # rank error of per-group sample quantiles within ~4/sqrt(k)
    est = {(r.grp, r.q): r.est_value for r in
           sketches.bottomk_quantiles_by(sk, ["grp"], [0.5]).collect()}
    exact = {r.grp: r.m for r in
             df.groupBy("grp").agg(
                 F.expr("percentile(v, 0.5)").alias("m")).collect()}
    for g in ("g0", "g1"):
        rel = abs(est[(g, 0.5)] - exact[g]) / 65537.0
        assert rel <= 4.0 / (512 ** 0.5), (g, est[(g, 0.5)], exact[g])


def test_mg_weighted_guarantee(spark):
    """Weighted heavy hitters (e.g. bytes per key): the W/(k+1)
    guarantee holds for weight sums."""
    df = spark.range(300).selectExpr(
        "concat('k', pmod(id, 60)) AS key",
        # key k0 carries huge weight, others small
        "CASE WHEN pmod(id, 60) = 0 THEN 5000 ELSE id % 17 END AS bytes"
    ).repartition(6)
    true = {r.key: r.w for r in df.groupBy("key").agg(
        F.sum("bytes").alias("w")).collect()}
    W = sum(true.values())
    k = 8
    sk = sketches.mg_summary(df, "key", k, weight_col="bytes").cache()
    est = {r.item: r.est for r in sk.collect() if r.item is not None}
    err = sketches.mg_error(sk).first().err
    assert len(est) <= k and err * (k + 1) <= W
    for key, w in true.items():
        e = est.get(key, 0)
        assert e <= w <= e + err, (key, e, w, err)
        if w * (k + 1) > W:
            assert key in est, key
    assert "k0" in est  # the planted byte-heavy key surfaces


def test_mg_weighted_rejects_negative(spark):
    df = spark.createDataFrame([("a", -1)], "key string, w long")
    with pytest.raises(Exception, match="non-negative"):
        sketches.mg_summary(df, "key", 4, weight_col="w").collect()


def test_hll_set_ops_disjoint_clamps_at_zero(spark):
    a = _keys(spark, 6000)
    b = spark.range(100000, 106000).selectExpr("concat('k', id) AS key")
    row = sketches.hll_set_ops(a, b, "key", p=10).collect()[0]
    assert row.est_intersection >= 0.0


def test_mg_per_batch_prune_keeps_guarantee(spark):
    """Tiny Arrow batches force many incremental prunes; the n/(k+1)
    guarantee must survive (running state stays O(k), never
    O(distinct-per-partition))."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
    try:
        df = _zipfish(spark, n_keys=400, scale=3000, parts=4)
        true = _mg_truth(n_keys=400, scale=3000)
        n = sum(true.values())
        k = 16
        sk = sketches.mg_summary(df, "key", k).cache()
        est = {r.item: r.est for r in sk.collect() if r.item is not None}
        err = sketches.mg_error(sk).first().err
        assert len(est) <= k and err * (k + 1) <= n
        for key, c in true.items():
            e = est.get(key, 0)
            assert e <= c <= e + err, (key, e, c, err)
            if c * (k + 1) > n:
                assert key in est, key
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_sketch_snapshot_time_travel(spark, tmp_path):
    """Versioned checkpoints: each snapshot is retained, the latest is
    the default read, any version is re-readable (time travel)."""
    path = str(tmp_path / "snap")
    r1 = hll_registers(_keys(spark, 1000), "key", 10)
    r2 = hll_registers(_keys(spark, 3000), "key", 10)
    assert sketches.checkpoint_sketch(r1, path, "hll", snapshot=True) == 1
    assert sketches.checkpoint_sketch(r2, path, "hll", snapshot=True) == 2
    vs = sketches.sketch_versions(path)
    assert [e["version"] for e in vs] == [1, 2]
    assert all(e["kind"] == "hll" for e in vs)
    latest = sketches.read_sketch(spark, path)
    v1 = sketches.read_sketch(spark, path, version=1)
    assert sorted(map(tuple, latest.collect())) == \
        sorted(map(tuple, r2.collect()))
    assert sorted(map(tuple, v1.collect())) == \
        sorted(map(tuple, r1.collect()))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no snapshot v=9"):
        sketches.read_sketch(spark, path, version=9)


def test_sketch_snapshot_two_writers_one_version(spark, tmp_path,
                                                 monkeypatch):
    """Two snapshots that both picked version 1: exactly one commits, the
    other raises and leaves no data behind, and version 1 reads back as
    the winner's rows."""
    import os
    import threading

    from pyspark.sql import DataFrameWriter

    path = str(tmp_path / "snap")
    regs = {"a": hll_registers(_keys(spark, 1000), "key", 10),
            "b": hll_registers(_keys(spark, 3000), "key", 10)}
    both_picked = threading.Barrier(2)
    one_at_a_time = threading.Lock()
    write = DataFrameWriter.parquet

    def gated(self, *args, **kwargs):
        both_picked.wait(timeout=120)  # each writer has chosen its version
        with one_at_a_time:
            return write(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", gated)
    out = {}

    def snapshot(name):
        try:
            out[name] = sketches.checkpoint_sketch(
                regs[name], path, "hll", snapshot=True)
        except Exception as e:
            out[name] = e

    threads = [threading.Thread(target=snapshot, args=(n,)) for n in regs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(240)
        assert not t.is_alive()
    monkeypatch.undo()

    losers = [n for n, r in out.items() if isinstance(r, Exception)]
    assert len(losers) == 1, out
    assert isinstance(out[losers[0]], FileExistsError)
    (winner,) = set(regs) - set(losers)
    assert out[winner] == 1
    assert [e["version"] for e in sketches.sketch_versions(path)] == [1]
    assert sorted(map(tuple, sketches.read_sketch(spark, path).collect())) \
        == sorted(map(tuple, regs[winner].collect()))
    assert len([e for e in os.listdir(path) if not e.startswith("_")]) == 1


# ---------------------------------------------------------------------------
# priority sampling (Duffield-Lund-Thorup)
# ---------------------------------------------------------------------------

def _weighted(spark, n=2000):
    """Zipf-ish weights: key i has weight 10000 // (i + 1)."""
    return spark.range(n).selectExpr(
        "concat('k', id) AS key",
        "CAST(10000 / (id + 1) AS LONG) AS w")


def test_priority_sample_subset_sum_unbiased_shape(spark):
    df = _weighted(spark)
    k = 256
    est = sketches.priority_estimates(
        sketches.priority_sample(df, "key", "w", k), k).cache()
    rows = est.collect()
    assert len(rows) == k
    true_total = sum(10000 // (i + 1) for i in range(2000))
    got_total = sum(r.est_weight for r in rows)
    # deterministic single draw: within ~3/sqrt(k) of the truth
    assert abs(got_total - true_total) / true_total < 3 / (k ** 0.5)
    # heavy keys (w >= tau) are sampled with certainty and estimated
    # EXACTLY: the largest weights must appear with est == w
    by_key = {r.key: r for r in rows}
    assert "k0" in by_key and by_key["k0"].est_weight == 10000.0


def test_priority_sample_merge_equals_rebuild(spark):
    df = _weighted(spark)
    a = sketches.priority_sample(
        df.where("CAST(substr(key, 2) AS LONG) % 2 = 0"), "key", "w", 64)
    b = sketches.priority_sample(
        df.where("CAST(substr(key, 2) AS LONG) % 2 = 1"), "key", "w", 64)
    whole = sketches.priority_sample(df, "key", "w", 64)
    m = sketches.priority_sample_merge(a, b, 64)
    assert sorted(map(tuple, m.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_priority_sample_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _weighted(spark, 500)
    p = str(tmp_path / "ps.parquet")
    df.toPandas().to_parquet(p)
    got = sorted(map(tuple, sketches.priority_estimates(
        sketches.priority_sample(df, "key", "w", 32), 32).collect()))
    con = duckdb.connect()
    want = sorted(map(tuple, con.sql(sketches.duckdb_priority_sample_sql(
        "key", "w", 32, f"read_parquet('{p}')")).fetchall()))
    assert got == want


def test_priority_sample_small_input_is_exact(spark):
    """n <= k: tau = 0, every weight exact, all keys present."""
    df = _weighted(spark, 20)
    est = sketches.priority_estimates(
        sketches.priority_sample(df, "key", "w", 64), 64).collect()
    assert len(est) == 20
    assert all(r.est_weight == float(r.w) for r in est)


def test_priority_sample_drops_nonpositive_weights(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "key": ["a", "b", "c", "d"],
        "w": [5, 0, -3, None],
    }))
    rows = sketches.priority_sample(df, "key", "w", 8).collect()
    assert [r.key for r in rows] == ["a"]


def test_priority_sample_by_matches_duckdb(spark, tmp_path):
    import duckdb

    df = spark.range(600).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' "
        "ELSE 'fr' END AS lang",
        "concat('k', id) AS key",
        "CAST(10000 / (id + 1) AS LONG) AS w")
    p = str(tmp_path / "psby.parquet")
    df.toPandas().to_parquet(p)
    got = sorted(map(tuple, sketches.priority_estimates_by(
        sketches.priority_sample_by(df, "key", "w", ["lang"], 16),
        ["lang"], 16).collect()))
    con = duckdb.connect()
    want = sorted(map(tuple, con.sql(
        sketches.duckdb_priority_sample_by_sql(
            "key", "w", ["lang"], 16, f"read_parquet('{p}')"))
        .fetchall()))
    assert got == want and len(got) == 48  # 16 per group x 3 groups


def test_priority_sample_by_merge_equals_rebuild(spark):
    df = spark.range(600).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
        "concat('k', id) AS key", "CAST(id + 1 AS LONG) AS w")
    a = sketches.priority_sample_by(
        df.where("id < 300"), "key", "w", ["g"], 16)
    b = sketches.priority_sample_by(
        df.where("id >= 300"), "key", "w", ["g"], 16)
    m = sketches.priority_sample_merge_by(a, b, ["g"], 16)
    whole = sketches.priority_sample_by(df, "key", "w", ["g"], 16)
    assert sorted(map(tuple, m.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_priority_sample_by_per_group_subset_sums(spark):
    df = spark.range(1000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
        "concat('k', id) AS key",
        "CAST(5000 / (id + 1) AS LONG) AS w").where("w > 0")
    k = 128
    est = sketches.priority_estimates_by(
        sketches.priority_sample_by(df, "key", "w", ["g"], k),
        ["g"], k).collect()
    true = {r.g: r.t for r in df.groupBy("g").agg(
        F.sum("w").alias("t")).collect()}
    got = {}
    for r in est:
        got[r.g] = got.get(r.g, 0) + r.est_weight
    for g, t in true.items():
        assert abs(got[g] - t) / t < 3 / (k ** 0.5), (g, got[g], t)


# ---------------------------------------------------------------------------
# ungrouped sketches on empty input and on all-NULL keys: the rows and
# schema every public ungrouped function returns when nothing survives
# its NULL filter (an empty table, or the one-row global answer)
# ---------------------------------------------------------------------------

_BLANK_SCHEMA = "key string, v double, w double, g string"


@pytest.fixture(params=["empty", "all_null"])
def blank(request, spark):
    rows = [] if request.param == "empty" else [(None, None, None, "a")] * 5
    return spark.createDataFrame(rows, _BLANK_SCHEMA)


def _full(spark):
    return spark.createDataFrame(
        [(f"x{i}", float(i), float(i + 1), "a") for i in range(10)],
        _BLANK_SCHEMA)


def _rows(df):
    return df.schema.simpleString(), [tuple(r) for r in df.collect()]


def test_blank_hll(spark, blank):
    regs = "struct<bucket:int,rho_max:int>"
    assert _rows(hll_registers(blank, "key", 4)) == (regs, [])
    assert _rows(hll_merge(hll_registers(blank, "key", 4),
                           hll_registers(blank, "key", 4))) == (regs, [])
    # the estimate row exists even with no registers: every bucket empty
    assert _rows(hll_cardinality(blank, "key", 4)) == (
        "struct<m:int,nonempty_buckets:int,zero_buckets:int,"
        "sum_scaled:bigint,estimate:double>",
        [(16, 0, 16, 16 << 57, 0.0)])
    assert _rows(sketches.hll_set_ops(blank, blank, "key", 4)) == (
        "struct<est_a:double,est_b:double,est_union:double,"
        "est_intersection:double>", [(0.0, 0.0, 0.0, 0.0)])


def test_blank_countmin(spark, blank):
    table = "struct<row:int,col_idx:int,cnt:bigint>"
    cm = countmin_table(blank, "key", 2, 8)
    assert _rows(cm) == (table, [])
    assert _rows(countmin_merge(cm, cm)) == (table, [])
    assert _rows(countmin_query(cm, blank, "key", 2, 8)) == (
        "struct<key:string,cm_count:bigint>", [])
    # probes against an empty table read 0
    probed = countmin_query(cm, _full(spark), "key", 2, 8).collect()
    assert len(probed) == 10 and all(r.cm_count == 0 for r in probed)


def test_blank_bottomk(spark, blank):
    sample = "struct<h:bigint,key:string,value:double>"
    assert _rows(bottomk_sketch(blank, "key", "v", 4)) == (sample, [])
    assert _rows(bottomk_sketch(blank, "key", "v", 4, distinct=True)) \
        == (sample, [])
    full = bottomk_sketch(_full(spark), "key", "v", 4)
    assert sorted(bottomk_merge(
        bottomk_sketch(blank, "key", "v", 4), full, 4).collect()) \
        == sorted(full.collect())


def test_blank_priority(spark, blank):
    sample = "struct<key:string,w:double,priority:double>"
    sk = sketches.priority_sample(blank, "key", "w", 4)
    assert _rows(sk) == (sample, [])
    assert _rows(sketches.priority_estimates(sk, 4)) == (
        "struct<key:string,w:double,est_weight:double>", [])
    full = sketches.priority_sample(_full(spark), "key", "w", 4)
    assert sorted(sketches.priority_sample_merge(sk, full, 4).collect()) \
        == sorted(full.collect())


def test_blank_kmv(spark, blank):
    sk = sketches.kmv_sketch(blank, "key", 4)
    assert _rows(sk) == ("struct<h:bigint>", [])
    assert _rows(sketches.kmv_merge(sk, sk, 4)) == ("struct<h:bigint>", [])
    cols = ("struct<est_a:double,est_b:double,est_union:double,"
            "jaccard:double,est_intersection:double,est_a_minus_b:double,"
            "est_b_minus_a:double>")
    schema, [ab] = _rows(sketches.kmv_set_ops(blank, _full(spark),
                                              "key", 4))
    assert schema == cols
    est_a, est_b, est_u, jac, inter, a_b, b_a = ab
    assert (est_a, jac, inter, a_b) == (0.0, 0.0, 0.0, 0.0)
    assert est_b == est_u == b_a > 0
    schema, [ba] = _rows(sketches.kmv_set_ops(_full(spark), blank,
                                              "key", 4))
    assert ba == (est_b, 0.0, est_b, 0.0, 0.0, est_b, 0.0)


def test_blank_mg(spark, blank):
    summary = "struct<item:string,est:bigint,err:bigint>"
    assert _rows(sketches.mg_partials(blank, "key", 4)) == (summary, [])
    sk = sketches.mg_summary(blank, "key", 4)
    # sentinel-only summary: no items, zero error budget
    assert _rows(sk) == (summary, [(None, 0, 0)])
    assert _rows(sketches.mg_merge(sk, sk, 4)) == (summary, [(None, 0, 0)])
    assert _rows(sketches.mg_estimates(sk)) == (
        "struct<item:string,est:bigint>", [])
    assert _rows(sketches.mg_error(sk)) == ("struct<err:bigint>", [(0,)])
    assert _rows(sketches.mg_bound_check(blank, "key", 4)) == (
        "struct<item:string,ok:boolean>", [])


def test_blank_quantile_sketches(spark, blank):
    levels = "struct<level:int,value:double>"
    parts = sketches.kll_partials(blank, "v", 8)
    assert _rows(parts) == (levels, [])
    assert _rows(sketches.kll_compact_partials(parts, 8)) == (levels, [])
    kll = kll_build(blank, "v", 8)
    assert kll.n == 0 and kll.k == 8
    td = tdigest_build(blank, "v", 20)
    assert td.means == [] and td.compression == 20


def test_blank_rate_sample(spark, blank):
    assert _rows(sketches.rate_sample(blank, "key", 0.5)) == (
        "struct<key:string,v:double,w:double,g:string>", [])


def test_blank_duckdb_twins(spark, blank, tmp_path):
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "blank.parquet")
    pq.write_table(pa.Table.from_pylist(
        [r.asDict() for r in blank.collect()],
        schema=pa.schema([("key", pa.string()), ("v", pa.float64()),
                          ("w", pa.float64()), ("g", pa.string())])), p)
    src = f"read_parquet('{p}')"
    con = duckdb.connect()

    def q(sql):
        rel = con.sql(sql)
        return rel.columns, rel.fetchall()

    assert q(sketches.duckdb_hll_sql("key", 4, src)) == (
        ["m", "nonempty_buckets", "zero_buckets", "sum_scaled",
         "estimate"], [(16, 0, 16, 16 << 57, 0.0)])
    assert q(sketches.duckdb_countmin_sql("key", 2, 8, src)) == (
        ["key", "cm_count"], [])
    assert q(sketches.duckdb_bottomk_quantiles_sql(
        "key", "v", 4, [0.5], src)) == (["q", "est_value"], [(0.5, None)])
    assert q(sketches.duckdb_priority_sample_sql("key", "w", 4, src)) == (
        ["key", "w", "est_weight"], [])
    assert q(sketches.duckdb_mg_heavy_sql("key", 4, src)) == (
        ["item", "ok"], [])



# ---------------------------------------------------------------------------
# grouped builders take a bare column name for ``by``
# ---------------------------------------------------------------------------

def _lang_df(spark):
    return spark.range(600).selectExpr(
        "CASE pmod(id, 3) WHEN 0 THEN 'en' WHEN 1 THEN 'de' "
        "ELSE 'fr' END AS lang",
        "concat('k', pmod(id, 250)) AS key",
        "CAST(pmod(id * 48271, 997) AS DOUBLE) AS v",
        "CAST(id + 1 AS DOUBLE) AS w",
        "concat('h', pmod(id, 4)) AS hot")


_GROUPED = {
    "hll_registers_by": lambda df, by: sketches.hll_registers_by(
        df, "key", by, p=6),
    "hll_merge_by": lambda df, by: sketches.hll_merge_by(
        by, sketches.hll_registers_by(df, "key", ["lang"], p=6)),
    "hll_estimate_by": lambda df, by: sketches.hll_estimate_by(
        sketches.hll_registers_by(df, "key", ["lang"], p=6), by, 6),
    "hll_cardinality_by": lambda df, by: sketches.hll_cardinality_by(
        df, "key", by, p=6),
    "countmin_table_by": lambda df, by: sketches.countmin_table_by(
        df, "key", by, 2, 64),
    "countmin_query_by": lambda df, by: sketches.countmin_query_by(
        sketches.countmin_table_by(df, "key", ["lang"], 2, 64), df,
        "key", by, 2, 64),
    "bottomk_sketch_by": lambda df, by: sketches.bottomk_sketch_by(
        df, "key", "v", by, 16),
    "bottomk_merge_by": lambda df, by: sketches.bottomk_merge_by(
        sketches.bottomk_sketch_by(df, "key", "v", ["lang"], 16),
        sketches.bottomk_sketch_by(df, "key", "w", ["lang"], 16), by, 16),
    "bottomk_quantiles_by": lambda df, by: sketches.bottomk_quantiles_by(
        sketches.bottomk_sketch_by(df, "key", "v", ["lang"], 16), by,
        [0.5]),
    "priority_sample_by": lambda df, by: sketches.priority_sample_by(
        df, "key", "w", by, 8),
    "priority_estimates_by": lambda df, by: sketches.priority_estimates_by(
        sketches.priority_sample_by(df, "key", "w", ["lang"], 8), by, 8),
    "kmv_sketch_by": lambda df, by: sketches.kmv_sketch_by(
        df, "key", by, 16),
    "kmv_set_ops_by": lambda df, by: sketches.kmv_set_ops_by(
        df, df.where("v > 400"), "key", by, 16),
    "mg_summary_by": lambda df, by: sketches.mg_summary_by(
        df, "hot", by, 4),
    "mg_bound_check_by": lambda df, by: sketches.mg_bound_check_by(
        df, "hot", by, 4),
    "kll_partials_by": lambda df, by: sketches.kll_partials_by(
        df, "v", by, 8),
    "kll_quantiles_by": lambda df, by: sketches.kll_quantiles_by(
        df, "v", by, [0.5], 8),
    "tdigest_partials_by": lambda df, by: sketches.tdigest_partials_by(
        df, "v", by, 20),
    "tdigest_quantiles_by": lambda df, by: sketches.tdigest_quantiles_by(
        df, "v", by, [0.5], 20),
    "quantile_bound_check_by": lambda df, by:
        sketches.quantile_bound_check_by(df, "v", by, [0.5], 8),
    "rate_sample_by": lambda df, by: sketches.rate_sample_by(
        df, "key", by, {"en": 0.5}, default_rate=0.2),
}


@pytest.mark.parametrize("name", sorted(_GROUPED))
def test_grouped_builder_accepts_str_by(spark, name):
    df = _lang_df(spark).repartition(1)
    build = _GROUPED[name]
    got = sorted(map(tuple, build(df, "lang").collect()), key=repr)
    want = sorted(map(tuple, build(df, ["lang"]).collect()), key=repr)
    assert got == want and got


def test_rate_sample_by_escapes_quotes_in_duckdb_twin(spark, tmp_path):
    """A group value containing a single quote must reach the DuckDB
    twin as a string literal (quotes doubled, like the Spark CASE)."""
    import duckdb

    df = spark.range(400).selectExpr(
        "concat('k', id) AS key",
        "CASE pmod(id, 2) WHEN 0 THEN 'o''brien' ELSE 'x' END AS grp")
    p = str(tmp_path / "quoted.parquet")
    df.toPandas().to_parquet(p)
    rates = {"o'brien": 1.0}
    got = sorted(r.key for r in sketches.rate_sample_by(
        df, "key", "grp", rates, default_rate=0.0).collect())
    con = duckdb.connect()
    want = sorted(r[0] for r in con.sql(
        sketches.duckdb_rate_sample_by_sql(
            "key", "grp", rates, 0.0, f"read_parquet('{p}')",
            select="key")).fetchall())
    assert got == want and len(got) == 200
