"""The sharded build's one exchange, split or not, makes the same
artifact: identical canonical shard payloads, identical lookups —
because the canonical layout is a pure function of the (hash, count)
multiset, how the hashes reach their shard builder cannot affect it.
Plus the sidecar payload, checkpoint-overwrite, duplicate-row-resolution,
and NULL-key contracts added in round 2."""

import os
import re

import numpy as np
import pytest

from pyspark.sql import functions as F

from qfspark import build
from qfspark.build import (
    build_sharded_qf,
    load_sharded_qf,
    read_shards,
    shard_payload_bytes,
)
from qfspark.lookup import annotate, annotate_via_shard_table
from qfspark.sizing import QFConfig

from .conftest import jobs_started

# the map-side collect_list keyed by (shard, sub): only a split build has it
SPLIT_AGG = re.compile(
    r"keys=\[shard#\d+L?, sub#\d+L?\], functions=\[partial_collect_list")


@pytest.fixture(scope="module")
def keys_df(spark):
    # duplicates included: counts must survive every exchange
    rows = [(f"key-{i % 700}",) for i in range(2000)]
    return spark.createDataFrame(rows, "key string").repartition(8).cache()


@pytest.fixture(scope="module")
def keys_parquet(spark, tmp_path_factory):
    """3000 rows over 700 keys in parquet, so the build has a footer row
    estimate to split on."""
    path = str(tmp_path_factory.mktemp("keys") / "keys")
    spark.range(3000).selectExpr(
        "concat('key-', id % 700) AS key").write.parquet(path)
    return spark.read.parquet(path)


def _payloads(df):
    return {int(r.shard): shard_payload_bytes(r) for r in df.collect()}


def _split_planned(df):
    """Whether ``df``'s executed plan (run it first) has the split
    aggregate."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return SPLIT_AGG.search(plan) is not None


def test_removed_exchange_parameters_raise(keys_df):
    for kwargs in ({"exchange": "arrow"}, {"exchange": "storage"},
                   {"exchange": "auto"}, {"spill_dir": "/nonexistent"},
                   {"pre_agg": "local"}):
        with pytest.raises(TypeError):
            build_sharded_qf(keys_df, "key", **kwargs)


def test_exchanges_byte_identical(keys_parquet, monkeypatch):
    """A build split into (shard, sub) list rows plans the (shard, sub)
    aggregate and writes the payloads of the unsplit build."""
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    unsplit = build_sharded_qf(keys_parquet, "key", shard_bits=2, config=cfg)
    ref = _payloads(unsplit)
    assert len(ref) == 4
    assert not _split_planned(unsplit)
    # 3000 rows / 4 shards = 750 rows per shard over a bound of 200
    monkeypatch.setattr(build, "ARROW_MAX_ROWS_PER_SHARD", 200)
    split = build_sharded_qf(keys_parquet, "key", shard_bits=2, config=cfg)
    assert _payloads(split) == ref
    assert _split_planned(split)
    subs = build._routed(build.with_hash(keys_parquet, "key"), 2, 4) \
        .groupBy("shard").agg(F.countDistinct("sub").alias("n")).collect()
    assert {r.n for r in subs} == {4}  # every shard really has 4 sub-rows


def test_exchange_counts_exact(spark, keys_df, keys_parquet, monkeypatch):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    sharded = load_sharded_qf(
        build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg))
    found, counts = sharded.lookup_keys([f"key-{i}" for i in range(700)])
    assert found.all()
    # 2000 rows over 700 keys: keys 0..599 appear 3x, 600..699 appear 2x
    want = np.where(np.arange(700) < 600, 3, 2)
    assert (counts == want).all()
    # split: 3000 rows over 700 keys, keys 0..199 5x and 200..699 4x
    monkeypatch.setattr(build, "ARROW_MAX_ROWS_PER_SHARD", 100)
    sharded = load_sharded_qf(
        build_sharded_qf(keys_parquet, "key", shard_bits=2, config=cfg))
    found, counts = sharded.lookup_keys([f"key-{i}" for i in range(700)])
    assert found.all()
    assert (counts == np.where(np.arange(700) < 200, 5, 4)).all()


def test_sidecar_payloads(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    paydir = str(tmp_path / "payloads")
    os.makedirs(paydir, exist_ok=True)
    df = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                          payload_dir=paydir)
    rows = df.collect()
    assert all(r.payload is None for r in rows)
    assert all(r.payload_path.startswith(paydir) for r in rows)
    # inline build for comparison
    inline = _payloads(build_sharded_qf(keys_df, "key", shard_bits=2,
                                        config=cfg))
    assert {int(r.shard): shard_payload_bytes(r) for r in rows} == inline
    # loader follows the sidecar
    sharded = load_sharded_qf(df)
    assert sharded.contains("key-1")


def test_checkpoint_overwrite_no_duplicates(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    ckpt = str(tmp_path / "ckpt")
    df1 = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                           checkpoint_path=ckpt, resume=False)
    n1 = read_shards(spark, ckpt).count()
    # re-run with resume=False must OVERWRITE, not append duplicates
    df2 = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                           checkpoint_path=ckpt, resume=False)
    n2 = read_shards(spark, ckpt).count()
    assert n1 == n2 == df2.count()
    assert load_sharded_qf(df2).contains("key-1")


def test_duplicate_shard_rows_resolved_by_build_ts(spark, keys_df, tmp_path):
    """A shard table written before the versioned log (plain parquet
    files, appended to) may hold a shard twice; its reader keeps only
    the newest row, and every consumer refuses the raw rows."""
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    good = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                            checkpoint_path=str(tmp_path / "ckpt"),
                            resume=False)
    # forge a STALE row per shard: older build_ts, empty-filter payload
    from qfspark.kernel import QF
    from qfspark.serde import qf_to_bytes

    legacy = str(tmp_path / "legacy")
    good.write.parquet(legacy)
    empty = qf_to_bytes(QF(cfg))
    stale = good.withColumn("build_ts", F.col("build_ts") - F.lit(1000.0)) \
                .withColumn("payload", F.lit(empty)) \
                .withColumn("entries", F.lit(0).cast("long"))
    stale.write.mode("append").parquet(legacy)
    polluted = spark.read.parquet(legacy)
    assert polluted.count() == 2 * good.count()

    # the reader of a table without a log keeps the newest row per shard
    shards = read_shards(spark, legacy)
    assert shards.count() == good.count()
    sharded = load_sharded_qf(shards)
    found, _ = sharded.lookup_keys([f"key-{i}" for i in range(700)])
    assert found.all()  # zero false negatives preserved
    probes = spark.createDataFrame(
        [(f"key-{i}",) for i in range(50)], "key string")
    out = annotate_via_shard_table(probes, "key", shards)
    assert out.where(~F.col("qf_seen")).count() == 0

    # the raw rows are refused, not quietly resolved
    with pytest.raises(ValueError, match="row twice"):
        load_sharded_qf(polluted)
    with pytest.raises(ValueError, match="row twice"):
        annotate_via_shard_table(probes, "key", polluted)


def test_probe_splits_exceed_shard_count(spark, keys_df):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(keys_df, "key", shard_bits=1, config=cfg)
    probes = spark.createDataFrame(
        [(f"key-{i}",) for i in range(900)], "key string")
    base = {r.key: (r.qf_seen, r.qf_count) for r in
            annotate_via_shard_table(probes, "key", shards_df,
                                     probe_splits=1).collect()}
    split = {r.key: (r.qf_seen, r.qf_count) for r in
             annotate_via_shard_table(probes, "key", shards_df,
                                      probe_splits=8).collect()}
    assert split == base
    assert all(base[f"key-{i}"][0] for i in range(700))


def test_null_keys_dropped_and_never_members(spark):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    rows = [("a",), (None,), ("b",), (None,)]
    df = spark.createDataFrame(rows, "key string")
    from qfspark.build import build_qf

    qf = build_qf(df, "key", config=cfg)
    assert len(qf) == 2  # NULLs dropped at build

    out = annotate(df, "key", qf).collect()
    by_key = {r.key: (r.qf_seen, r.qf_count) for r in out}
    assert by_key["a"] == (True, 1)
    assert by_key["b"] == (True, 1)
    null_rows = [r for r in out if r.key is None]
    assert all((not r.qf_seen) and r.qf_count == 0 for r in null_rows)

    sharded_rows = build_sharded_qf(df, "key", shard_bits=1,
                                    config=cfg).collect()
    assert sum(r.entries for r in sharded_rows) == 2


def test_build_starts_no_job_before_use(spark, keys_parquet, monkeypatch):
    """Building starts no Spark job before the returned DataFrame is
    used: not on an in-memory list (no row estimate, so no split), nor
    on parquet (a footer estimate), split or not."""
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    listed = spark.createDataFrame(
        [(f"key-{i % 700}",) for i in range(3000)], "key string")
    default = build.ARROW_MAX_ROWS_PER_SHARD
    for name, df, bound in (("list", listed, 100),
                            ("parquet", keys_parquet, default),
                            ("parquet split", keys_parquet, 200)):
        monkeypatch.setattr(build, "ARROW_MAX_ROWS_PER_SHARD", bound)
        shards, jobs = jobs_started(spark, lambda: build_sharded_qf(
            df, "key", shard_bits=2, config=cfg))
        assert jobs == [], f"{name}: building started jobs {jobs}"
        assert sum(r.entries for r in shards.collect()) == 700
        # the list input has no estimate, so it is built unsplit
        assert _split_planned(shards) == (name == "parquet split")


def test_filter_unseen_via_shard_table(spark, keys_df):
    from qfspark.lookup import filter_unseen_via_shard_table

    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg)
    probes = spark.createDataFrame(
        [(f"key-{i}", i) for i in range(650, 760)], "key string, ord int")
    out = filter_unseen_via_shard_table(probes, "key", shards_df)
    # keys 650..699 were built; 700..759 are fresh
    got = sorted((r.key, r.ord) for r in out.collect())
    want = sorted((f"key-{i}", i) for i in range(700, 760))
    assert got == want  # zero false negatives: nothing built leaks through
    assert out.columns == ["key", "ord"]


def test_annotate_via_shard_table_passthrough_and_nulls(spark, keys_df):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg)
    probes = spark.createDataFrame(
        [("key-1", 10), (None, 20), ("nope", 30)], "key string, extra int")
    rows = {r.extra: r for r in
            annotate_via_shard_table(probes, "key", shards_df).collect()}
    assert rows[10].qf_seen and rows[10].qf_count == 3
    assert not rows[20].qf_seen and rows[20].qf_count == 0  # NULL never member
    assert not rows[30].qf_seen


def test_annotate_via_empty_shard_table(spark, keys_df):
    """An empty input builds an empty shard table: every probe is
    unseen."""
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(keys_df.where("key IS NULL"), "key",
                                 shard_bits=2, config=cfg)
    probes = spark.createDataFrame([("key-1",), (None,)], "key string")
    rows = annotate_via_shard_table(probes, "key", shards_df).collect()
    assert [(r.qf_seen, r.qf_count) for r in rows] == [(False, 0)] * 2
