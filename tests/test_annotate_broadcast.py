"""``annotate`` broadcasts the filter object itself.

Every filter kind answers through Spark exactly as the driver-side
``lookup_keys`` does, with the compiled walk and without it, and each
Python worker loads a broadcast filter once, not once per task.
"""

import contextlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from qfspark import QF, QFConfig, disk
from qfspark import lookup
from qfspark.build import ShardedQF
from qfspark.hashing import hash_bytes
from qfspark.lookup import annotate

from .conftest import no_ckernel

# key i occurs (i % 4) + 1 times; "hot" occurs 300 times, past an 8-bit
# counter's 255
PRESENT = [f"https://s{i % 37}.example.com/{i}" for i in range(400)]
BUILD_KEYS = ([k for i, k in enumerate(PRESENT) for _ in range(i % 4 + 1)]
              + ["hot"] * 300)
ABSENT = [k + "#absent" for k in PRESENT[:200]]


def _sharded(keys, shard_bits: int, config: QFConfig) -> ShardedQF:
    hv = hash_bytes(keys, config.hash_name)
    sid = hv >> np.uint64(64 - shard_bits)
    return ShardedQF(shard_bits, {
        int(s): QF.from_hashes(hv[sid == s] << np.uint64(shard_bits),
                               config=config)
        for s in np.unique(sid)})


FILTERS = {
    "unpacked-c0": lambda: QF.from_keys(BUILD_KEYS, config=QFConfig()),
    "unpacked-c8": lambda: QF.from_keys(
        BUILD_KEYS, config=QFConfig(counter_bits=8)),
    "unpacked-c32-xxhash": lambda: QF.from_keys(
        BUILD_KEYS, config=QFConfig(counter_bits=32, hash_name="xxhash64")),
    "packed-c0": lambda: QF.from_keys(
        BUILD_KEYS, config=QFConfig(bit_packed=True)),
    "packed-c8": lambda: QF.from_keys(
        BUILD_KEYS, config=QFConfig(counter_bits=8, bit_packed=True)),
    "packed-c32": lambda: QF.from_keys(
        BUILD_KEYS, config=QFConfig(counter_bits=32, bit_packed=True)),
    "sharded-c8": lambda: _sharded(BUILD_KEYS, 2, QFConfig(counter_bits=8)),
}


@pytest.fixture(scope="module")
def probes(spark):
    rows = [(k,) for k in PRESENT + ["hot"] + ABSENT] + [(None,)] * 5
    return spark.createDataFrame(rows, "key string").repartition(4)


@contextlib.contextmanager
def _workers_without_ckernel(spark):
    """Python UDFs created in the body run in workers started with
    ``QFSPARK_NO_CKERNEL=1`` (pyspark starts a worker pool per UDF
    environment), and the driver runs without the kernel too."""
    env = spark.sparkContext.environment
    env["QFSPARK_NO_CKERNEL"] = "1"
    try:
        with no_ckernel():
            yield
    finally:
        del env["QFSPARK_NO_CKERNEL"]


def _check_answers(probes, flt) -> None:
    rows = annotate(probes, "key", flt).collect()
    got = {r.key: (r.qf_seen, r.qf_count) for r in rows if r.key is not None}
    nulls = [(r.qf_seen, r.qf_count) for r in rows if r.key is None]
    keys = sorted(got)
    found, counts = flt.lookup_keys(keys)
    want = {k: (bool(f), int(c)) for k, f, c in zip(keys, found, counts)}
    assert got == want
    assert nulls == [(False, 0)] * 5
    assert all(got[k][0] for k in PRESENT + ["hot"])  # no false negatives
    if flt.counter_bits:
        assert got[PRESENT[3]] == (True, 4)
        assert got["hot"][1] == min(300, (1 << flt.counter_bits) - 1)


@pytest.mark.parametrize("kernel", ["compiled", "no_ckernel"])
@pytest.mark.parametrize("kind", sorted(FILTERS) + ["memmap-c8"])
def test_annotate_matches_lookup_keys(spark, probes, tmp_path, kind, kernel):
    if kind == "memmap-c8":
        path = str(tmp_path / "f.qf")
        disk.save(QF.from_keys(BUILD_KEYS, config=QFConfig(counter_bits=8)),
                  path)
        flt = disk.open_readonly(path)
    else:
        flt = FILTERS[kind]()
    ctx = (_workers_without_ckernel(spark) if kernel == "no_ckernel"
           else contextlib.nullcontext())
    try:
        with ctx:
            _check_answers(probes, flt)
    finally:
        if isinstance(flt, QF):
            flt.close()


def test_no_ckernel_env_reaches_workers(spark):
    with _workers_without_ckernel(spark):
        @F.udf("boolean")
        def kernel_off(_):
            from qfspark import ckernel

            return ckernel.get_kernel() is None

        col = kernel_off(F.col("id"))
    assert all(r[0] for r in spark.range(0, 8, 1, 4).select(col).collect())


class CountingQF(QF):
    """A QF whose unpickling appends a line to ``<log_dir>/<pid>``: a
    count of the filter loads in each Python worker."""

    log_dir = None

    def __getstate__(self):
        return super().__getstate__(), self.log_dir

    def __setstate__(self, state):
        state, self.log_dir = state
        with open(os.path.join(self.log_dir, str(os.getpid())), "a") as f:
            f.write("load\n")
        super().__setstate__(state)


def test_annotate_loads_filter_once_per_worker(spark, tmp_path):
    qf = CountingQF.__new__(CountingQF)
    qf.__dict__.update(QF.from_keys(PRESENT, config=QFConfig(
        counter_bits=8, hash_name="xxhash64")).__dict__)
    qf.log_dir = str(tmp_path)
    df = spark.range(0, 4000, 1, 8).selectExpr(
        "concat('https://s', id % 37, '.example.com/', id) AS key")
    lookup._BROADCAST_CACHE.clear()
    try:
        for _ in range(2):
            seen = annotate(df, "key", qf).where("qf_seen").count()
            assert seen == len(PRESENT)
    finally:
        lookup._BROADCAST_CACHE.clear()
    loads = {pid: len(open(tmp_path / pid).readlines())
             for pid in os.listdir(tmp_path)}
    # 16 probe tasks in all: one load per worker, not one per task
    assert loads, "no Python worker loaded the broadcast filter object"
    assert set(loads.values()) == {1}, loads
    assert len(loads) <= 8
