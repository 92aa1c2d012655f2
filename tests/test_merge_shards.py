"""merge_shard_tables: combining two independently-built sharded CQF
checkpoints (two crawl snapshots) WITHOUT re-scanning either corpus.
The contract is the kernel merge's, lifted to the table level: counters
add, and because the canonical layout is a pure function of the merged
(hash -> count) multiset, the merged payloads are byte-identical to a
direct sharded build over the concatenated corpora."""

import pytest
from pyspark.sql import functions as F

from qfspark.build import (
    build_sharded_qf,
    load_sharded_qf,
    merge_shard_tables,
    shard_payload_bytes,
)
from qfspark.sizing import QFConfig

CFG = QFConfig(counter_bits=16, hash_name="xxhash64")
SB = 2


def _keys(spark, lo, hi, dup=3):
    rows = [(f"key-{i % ((hi - lo) // dup) + lo}",)
            for i in range(lo, hi)]
    return spark.createDataFrame(rows, "key string")


def _payloads(df):
    return {int(r.shard): shard_payload_bytes(r) for r in df.collect()}


def test_merge_equals_direct_build(spark):
    """Byte-identical per shard: merge(A_table, B_table) == build(A+B)."""
    a = _keys(spark, 0, 900)
    b = _keys(spark, 600, 1800)          # overlapping keys: counters add
    ta = build_sharded_qf(a, "key", shard_bits=SB, config=CFG)
    tb = build_sharded_qf(b, "key", shard_bits=SB, config=CFG)
    merged = merge_shard_tables(spark, [ta, tb])
    direct = build_sharded_qf(a.unionAll(b), "key", shard_bits=SB,
                              config=CFG)
    pm, pd_ = _payloads(merged), _payloads(direct)
    assert pm.keys() == pd_.keys()
    for s in pm:
        assert pm[s] == pd_[s], f"shard {s} payload differs"


def test_merge_lookup_counts_exact(spark):
    """Counts after merge == exact per-key counts over the union, zero
    false negatives; lineage n_rows sums."""
    a = _keys(spark, 0, 600)
    b = _keys(spark, 0, 600)             # the same corpus twice
    ta = build_sharded_qf(a, "key", shard_bits=SB, config=CFG)
    tb = build_sharded_qf(b, "key", shard_bits=SB, config=CFG)
    merged = merge_shard_tables(spark, [ta, tb])
    sq = load_sharded_qf(merged)
    exact = {r.key: r.cnt for r in
             a.unionAll(b).groupBy("key")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    keys = list(exact)
    found, counts = sq.lookup_keys(keys)
    assert found.all()
    assert all(int(c) == exact[k] for k, c in zip(keys, counts))
    rows = merged.select(F.sum("n_rows").alias("n")).first()
    assert rows.n == 1200


def test_merge_single_table_roundtrip(spark):
    """Merging one table re-canonicalizes to identical payloads."""
    t = build_sharded_qf(_keys(spark, 0, 400), "key", shard_bits=SB,
                         config=CFG)
    assert _payloads(merge_shard_tables(spark, [t])) == _payloads(t)


def test_merge_rejects_mismatched_lineage(spark):
    ta = build_sharded_qf(_keys(spark, 0, 300), "key", shard_bits=SB,
                          config=CFG)
    tb = build_sharded_qf(_keys(spark, 0, 300), "key", shard_bits=SB,
                          config=QFConfig(counter_bits=8,
                                          hash_name="xxhash64"))
    with pytest.raises(ValueError, match="counter_bits"):
        merge_shard_tables(spark, [ta, tb]).collect()
    tc = build_sharded_qf(_keys(spark, 0, 300), "key", shard_bits=SB + 1,
                          config=CFG)
    with pytest.raises(ValueError, match="shard_bits"):
        merge_shard_tables(spark, [ta, tc]).collect()
    with pytest.raises(ValueError, match="at least one"):
        merge_shard_tables(spark, [])
