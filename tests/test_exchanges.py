"""The two sharded-build exchange strategies (and ``'auto'``) are
interchangeable:
identical canonical shard payloads, identical lookups — because the
canonical layout is a pure function of the (hash, count) multiset, the
data-movement strategy cannot affect the artifact. Plus the sidecar
payload, checkpoint-overwrite, duplicate-row-resolution, and NULL-key
contracts added in round 2."""

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from pyspark.sql import functions as F

from qfspark.build import (
    build_sharded_qf,
    latest_shards,
    load_sharded_qf,
    shard_payload_bytes,
)
from qfspark.lookup import annotate, annotate_via_shard_table
from qfspark.sizing import QFConfig

EXCHANGES = ["arrow", "storage"]


@pytest.fixture(scope="module")
def keys_df(spark):
    # duplicates included: counts must survive every exchange
    rows = [(f"key-{i % 700}",) for i in range(2000)]
    return spark.createDataFrame(rows, "key string").repartition(8).cache()


def _payloads(df):
    return {int(r.shard): shard_payload_bytes(r) for r in df.collect()}


def test_only_the_two_exchanges_and_auto_are_accepted(keys_df):
    for mode in ("salted", "combine"):
        with pytest.raises(ValueError, match="unknown exchange mode"):
            build_sharded_qf(keys_df, "key", exchange=mode)
    with pytest.raises(TypeError):
        build_sharded_qf(keys_df, "key", pre_agg="local")


def test_exchanges_byte_identical(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    ref = None
    for ex in EXCHANGES:
        got = _payloads(
            build_sharded_qf(keys_df, "key", shard_bits=3, config=cfg,
                             exchange=ex,
                             spill_dir=str(tmp_path / f"spill_{ex}")))
        assert got, f"{ex}: no shards"
        if ref is None:
            ref = got
        else:
            assert got == ref, f"{ex} diverges from arrow"


def test_exchange_counts_exact(spark, keys_df):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    for ex in ("arrow", "storage"):
        sharded = load_sharded_qf(
            build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                             exchange=ex))
        found, counts = sharded.lookup_keys(
            [f"key-{i}" for i in range(700)])
        assert found.all()
        # 2000 rows over 700 keys: keys 0..599 appear 3x, 600..699 appear 2x
        want = np.where(np.arange(700) < 600, 3, 2)
        assert (counts == want).all()


def test_sidecar_payloads(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    paydir = str(tmp_path / "payloads")
    os.makedirs(paydir, exist_ok=True)
    df = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                          exchange="arrow", payload_dir=paydir)
    rows = df.collect()
    assert all(r.payload is None for r in rows)
    assert all(r.payload_path.startswith(paydir) for r in rows)
    # inline build for comparison
    inline = _payloads(build_sharded_qf(keys_df, "key", shard_bits=2,
                                        config=cfg, exchange="arrow"))
    assert {int(r.shard): shard_payload_bytes(r) for r in rows} == inline
    # loader follows the sidecar
    sharded = load_sharded_qf(df)
    assert sharded.contains("key-1")


def test_uncheckpointed_storage_spill_removed_at_exit():
    """An uncheckpointed 'storage' build spills to a temp dir the caller
    never learns; it must be gone once the interpreter exits. Run in a
    child process so the exit can be observed."""
    code = (
        "import glob, json, os, tempfile\n"
        "from pyspark.sql import SparkSession\n"
        "from qfspark.build import build_sharded_qf\n"
        "base = '/dev/shm' if os.path.isdir('/dev/shm') "
        "else tempfile.gettempdir()\n"
        "spills = lambda: set(glob.glob(os.path.join(base, 'qf_spill_*')))\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.enabled', 'false')\n"
        "         .config('spark.sql.shuffle.partitions', '2')\n"
        "         .getOrCreate())\n"
        "before = spills()\n"
        "df = spark.range(500).selectExpr(\"concat('k', id) AS key\")\n"
        "rows = build_sharded_qf(df, 'key', shard_bits=1,\n"
        "                        exchange='storage').collect()\n"
        "assert sum(r.entries for r in rows) == 500\n"
        "print(json.dumps(sorted(spills() - before)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    proc = subprocess.run([sys.executable, "-c", code], env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
    made = json.loads(proc.stdout.strip().splitlines()[-1])
    assert made, "the build made no spill dir"
    assert [d for d in made if os.path.exists(d)] == []


def test_checkpoint_overwrite_no_duplicates(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    ckpt = str(tmp_path / "ckpt")
    df1 = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                           checkpoint_path=ckpt, resume=False)
    n1 = spark.read.parquet(ckpt).count()
    # re-run with resume=False must OVERWRITE, not append duplicates
    df2 = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                           checkpoint_path=ckpt, resume=False)
    n2 = spark.read.parquet(ckpt).count()
    assert n1 == n2 == df2.count()
    assert load_sharded_qf(df2).contains("key-1")


def test_duplicate_shard_rows_resolved_by_build_ts(spark, keys_df, tmp_path):
    """Even if a checkpoint ends up with duplicate shard rows (partial
    append before a crash), every reader keeps only the newest row."""
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    ckpt = str(tmp_path / "ckpt_dup")
    build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                     checkpoint_path=ckpt, resume=False)
    good = spark.read.parquet(ckpt)
    # forge a STALE row per shard: older build_ts, empty-filter payload
    from qfspark.kernel import QF
    from qfspark.serde import qf_to_bytes

    empty = qf_to_bytes(QF(cfg))
    stale = good.withColumn("build_ts", F.col("build_ts") - F.lit(1000.0)) \
                .withColumn("payload", F.lit(empty)) \
                .withColumn("entries", F.lit(0).cast("long"))
    stale.write.mode("append").parquet(ckpt)
    polluted = spark.read.parquet(ckpt)
    assert polluted.count() == 2 * good.count()

    # loader picks the newest rows -> zero false negatives preserved
    sharded = load_sharded_qf(polluted)
    found, _ = sharded.lookup_keys([f"key-{i}" for i in range(700)])
    assert found.all()

    # latest_shards view has one row per shard
    assert latest_shards(polluted).count() == good.count()

    # the no-broadcast probe path also resolves to the newest row
    probes = spark.createDataFrame(
        [(f"key-{i}",) for i in range(50)], "key string")
    out = annotate_via_shard_table(probes, "key", polluted)
    assert out.where(~F.col("qf_seen")).count() == 0


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


def test_exchange_auto_runs_no_job_and_equals_arrow(spark, tmp_path):
    """On a parquet input (footer row estimate) 'auto' decides without a
    Spark job — the returned build is still lazy — and, far under the
    arrow bound, builds arrow's bytes whatever the duplication."""
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    sc = spark.sparkContext
    inputs = {"unique": "concat('u', id)", "heavy": "concat('d', id % 50)"}
    for name, key in inputs.items():
        path = str(tmp_path / name)
        spark.range(3000).selectExpr(f"{key} AS key").write.parquet(path)
        df = spark.read.parquet(path)
        group = f"qf-auto-{name}"
        sc.setJobGroup(group, "exchange='auto' decision")
        try:
            shards = build_sharded_qf(df, "key", shard_bits=2, config=cfg,
                                      exchange="auto")
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # jobs registered
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == [], f"{name}: 'auto' started jobs {jobs}"
        arrow = _payloads(build_sharded_qf(df, "key", shard_bits=2,
                                           config=cfg, exchange="arrow"))
        assert _payloads(shards) == arrow  # strategy-independent bytes


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
