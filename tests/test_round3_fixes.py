"""Round-3 surface tests: the sharded build's rows/shard split guard,
memmap close() lifecycle, custom hash registration, and the driver-side
broadcast cache."""

import os

import numpy as np
import pytest

from qfspark import QF, QFConfig, register_hash
from qfspark.hashing import HASH_FNS
from qfspark.serde import qf_from_bytes, qf_to_bytes


# ---------------------------------------------------------------------------
# split guard: rows/shard bound (build.ARROW_MAX_ROWS_PER_SHARD)
# ---------------------------------------------------------------------------

def _split_of(spark, monkeypatch, n_rows, shard_bits, max_rows_per_shard):
    """Run build_sharded_qf over unique keys and report how many list rows
    it split each shard into."""
    from qfspark import build

    subs = []
    exchange = build._exchange_arrow

    def _spy(hashed, sb, sub, *args):
        subs.append(sub)
        return exchange(hashed, sb, sub, *args)

    monkeypatch.setattr(build, "ARROW_MAX_ROWS_PER_SHARD",
                        max_rows_per_shard)
    monkeypatch.setattr(build, "_exchange_arrow", _spy)
    df = spark.range(n_rows).selectExpr("concat('k', id) AS key")
    shards = build.build_sharded_qf(df, "key", shard_bits=shard_bits)
    assert shards.agg({"entries": "sum"}).collect()[0][0] == n_rows
    assert len(subs) == 1
    return subs[0]


def test_split_guard_splits_over_bound(spark, monkeypatch):
    # 2000 unique rows / 2^0 shards = 2000 rows/shard over a bound of 100
    assert _split_of(spark, monkeypatch, n_rows=2000, shard_bits=0,
                     max_rows_per_shard=100) == 20


def test_split_guard_no_split_under_bound(spark, monkeypatch):
    assert _split_of(spark, monkeypatch, n_rows=2000, shard_bits=2,
                     max_rows_per_shard=10_000) == 1


# ---------------------------------------------------------------------------
# close() lifecycle for memmap-backed filters
# ---------------------------------------------------------------------------

def _fd_count():
    return len(os.listdir("/proc/self/fd"))


def test_close_releases_memmap(tmp_path):
    from qfspark import disk

    keys = [f"k{i}" for i in range(5000)]
    qf = QF.from_keys(keys, config=QFConfig(counter_bits=8))
    path = str(tmp_path / "f.qf")
    disk.save(qf, path)

    ro = disk.open_readonly(path)
    found, _ = ro.lookup_keys(["k1", "absent"])
    assert list(found) == [True, False]
    ro.close()
    ro.close()  # idempotent
    with pytest.raises(Exception):
        ro.lookup_keys(["k1"])

    # an in-memory filter's close is a no-op and it stays usable
    qf.close()
    assert qf.lookup_keys(["k1"])[0][0]


def test_close_context_manager_fd_stable(tmp_path):
    from qfspark import disk

    qf = QF.from_keys([f"k{i}" for i in range(2000)],
                      config=QFConfig(counter_bits=8))
    path = str(tmp_path / "f.qf")
    disk.save(qf, path)
    baseline = _fd_count()
    for _ in range(256):
        with disk.open_readonly(path) as ro:
            assert ro.lookup_keys(["k7"])[0][0]
    # without close() each memmap holds an fd until GC; with it the fd
    # table stays flat (small slack for unrelated runtime churn)
    assert _fd_count() <= baseline + 8


# ---------------------------------------------------------------------------
# custom hash registration
# ---------------------------------------------------------------------------

def _toy_hash(keys):
    out = np.empty(len(keys), dtype=np.uint64)
    for i, k in enumerate(keys):
        b = k.encode("utf-8") if isinstance(k, str) else bytes(k)
        acc = np.uint64(1469598103934665603)
        for byte in b:
            acc = (acc * np.uint64(31)) ^ np.uint64(byte)
        out[i] = acc
    return out


def test_register_hash_round_trips_through_serialization():
    HASH_FNS.pop("toy31", None)
    register_hash("toy31", _toy_hash)
    try:
        qf = QF.from_keys(["a", "b", "c"],
                          config=QFConfig(hash_name="toy31",
                                          counter_bits=8))
        blob = qf_to_bytes(qf)
        back = qf_from_bytes(blob)
        assert back.config.hash_name == "toy31"
        found, counts = back.lookup_keys(["a", "zz"])
        assert list(found) == [True, False]

        # a process that has NOT registered the hash gets a clear error
        # on key probes instead of silently probing with the wrong hash
        del HASH_FNS["toy31"]
        with pytest.raises(ValueError, match="toy31"):
            back.lookup_keys(["a"])
    finally:
        HASH_FNS.pop("toy31", None)


def test_register_hash_validates():
    with pytest.raises(ValueError, match="already registered"):
        register_hash("murmur64a", _toy_hash)
    with pytest.raises(TypeError):
        register_hash("notfn", 42)
    with pytest.raises(ValueError, match="uint64"):
        register_hash("badout", lambda ks: [1] * len(ks))
    assert "badout" not in HASH_FNS


# ---------------------------------------------------------------------------
# driver-side broadcast cache in annotate()
# ---------------------------------------------------------------------------

def test_annotate_reuses_broadcast(spark, monkeypatch):
    from qfspark import lookup

    lookup._BROADCAST_CACHE.clear()
    qf = QF.from_keys([f"u{i}" for i in range(100)],
                      config=QFConfig(counter_bits=8))
    df = spark.range(50).selectExpr("concat('u', id) AS key")

    calls = []
    sc = spark.sparkContext
    orig = sc.broadcast

    def counting(value):
        calls.append(1)
        return orig(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    try:
        a1 = lookup.annotate(df, "key", qf)
        assert a1.where("qf_seen").count() == 50
        a2 = lookup.annotate(df, "key", qf)
        assert a2.where("qf_seen").count() == 50
    finally:
        lookup._BROADCAST_CACHE.clear()
    assert len(calls) == 1


def test_shard_lineage_carries_build_metrics(spark):
    """Every shard row records its per-task build duration alongside
    the existing lineage (entries/n_rows/build_ts/code_version)."""
    from qfspark.build import build_sharded_qf

    df = spark.range(5000).selectExpr("concat('k', id) AS key")
    shards = build_sharded_qf(df, "key", shard_bits=2,
                              config=QFConfig(counter_bits=8))
    rows = shards.select("shard", "n_rows", "build_secs").collect()
    assert rows and all(r.build_secs > 0 for r in rows), rows
    assert sum(r.n_rows for r in rows) == 5000
