"""The checkpointed sharded build commits through the versioned log: one
Spark query builds the shards and returns their lineage rows, and the
driver commits them as the next version of the checkpoint's
``_qf_log`` (``sources.commit_version``), each version the whole shard
table. Readers (``read_shards``) see exactly one committed version,
never a half-written one; of two writers of one version one loses
cleanly; a failed build or commit leaves the previous version as it
was; filter bytes stay in sidecar files, and the payloads are the ones
an uncheckpointed build makes. Readers of a shard table reject rows
that duplicate a shard or disagree on its geometry."""

import os
import re
import threading

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import qfspark.sources as sources
from qfspark import build
from qfspark.build import (
    _build_shard,
    build_sharded_qf,
    load_sharded_qf,
    merge_shard_tables,
    read_shards,
    shard_payload_bytes,
)
from qfspark.lookup import annotate_via_shard_table
from qfspark.sizing import QFConfig

CFG = QFConfig(counter_bits=16, hash_name="xxhash64")
SB = 2
# a checkpoint's version data directories
VERSION_DIR = re.compile(r"v\d+-[0-9a-f]{32}")


@pytest.fixture(scope="module")
def keys_df(spark):
    rows = [(f"key-{i % 700}",) for i in range(2000)]
    return spark.createDataFrame(rows, "key string").repartition(4).cache()


def _payloads(df):
    return {int(r.shard): shard_payload_bytes(r) for r in df.collect()}


def _inline(df):
    """The payloads of an uncheckpointed build of ``df``."""
    return _payloads(build_sharded_qf(df, "key", shard_bits=SB, config=CFG))


def _versions(path):
    return [e["version"] for e in sources.log_versions(path)]


def _version_dirs(path):
    return sorted(e for e in os.listdir(path) if VERSION_DIR.fullmatch(e))


def _suffixed(df, suffix):
    return df.select(F.concat("key", F.lit(suffix)).alias("key"))


def _sql_plans_during(spark, fn):
    """Run ``fn`` and return the physical plans of the SQL executions it
    started (read from the session's SQL status store)."""
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        jsc.listenerBus().waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i)
                for i in range(ex.size())}

    before = executions()
    result = fn()
    after = executions()
    return result, [e.physicalPlanDescription() for i, e in after.items()
                    if i not in before]


def _assert_one_build_query(plans):
    assert len(plans) == 1, plans
    assert "FlatMapGroupsInArrow" in plans[0]
    for node in ("InsertIntoHadoopFsRelation", "WriteFiles", "FileScan"):
        assert node not in plans[0]


def _keep_shards_below(path, n):
    """Commit the newest version's rows of shards < ``n`` as the next
    version, as a build that had committed only those would have."""
    entry, rows = sources._read_entry(path, pq.read_table)
    kept = rows.filter(pc.less(rows["shard"], n))
    sources.commit_version(kept, path, entry["version"] + 1,
                           shards=kept.column("shard").to_pylist())


def test_checkpointed_build_is_one_query(spark, keys_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out, plans = _sql_plans_during(spark, lambda: build_sharded_qf(
        keys_df, "key", shard_bits=SB, config=CFG,
        checkpoint_path=ckpt, resume=False))
    _assert_one_build_query(plans)
    # the returned table is the committed rows, held locally
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan() \
        .toString()
    assert out.count() == 1 << SB
    # a resume over the log takes its done set from the newest entry and
    # its previous rows from the driver: still one query, no scan
    _keep_shards_below(ckpt, 2)
    out, plans = _sql_plans_during(spark, lambda: build_sharded_qf(
        keys_df, "key", shard_bits=SB, config=CFG,
        checkpoint_path=ckpt, resume=True))
    _assert_one_build_query(plans)
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan() \
        .toString()
    assert _payloads(out) == _inline(keys_df)


@pytest.mark.parametrize("split", [False, True], ids=["unsplit", "split"])
def test_checkpointed_payloads_match_inline_build(spark, tmp_path,
                                                  monkeypatch, split):
    keys = str(tmp_path / "keys")
    spark.range(2000).selectExpr("concat('key-', id % 700) AS key") \
        .write.parquet(keys)
    keys_df = spark.read.parquet(keys)
    if split:  # 2000 rows / 4 shards over a bound of 100: 5 list rows each
        monkeypatch.setattr(build, "ARROW_MAX_ROWS_PER_SHARD", 100)
    ckpt = str(tmp_path / "ckpt")
    out = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                           checkpoint_path=ckpt, resume=False)
    rows = out.collect()
    # no filter bytes in the table: the payloads are default sidecars
    assert all(r.payload is None for r in rows)
    payload_dir = os.path.join(ckpt, sources.PAYLOADS_DIR)
    assert all(os.path.dirname(r.payload_path) == payload_dir for r in rows)
    inline = _inline(keys_df)
    assert {int(r.shard): shard_payload_bytes(r) for r in rows} == inline
    assert _payloads(read_shards(spark, ckpt)) == inline


def test_overwrite_commits_a_new_version(spark, keys_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    for suffix in ("-x", "-y", ""):
        out = build_sharded_qf(_suffixed(keys_df, suffix), "key",
                               shard_bits=SB, config=CFG,
                               checkpoint_path=ckpt, resume=False)
    # the writer keeps the newest two versions and the sidecars they name
    assert _versions(ckpt) == [2, 3]
    assert len(_version_dirs(ckpt)) == 2
    kept = {os.path.basename(r.payload_path)
            for v in (2, 3) for r in sources.read_version(spark, ckpt, v)
            .collect()}
    assert set(os.listdir(os.path.join(ckpt, sources.PAYLOADS_DIR))) \
        == kept
    table = read_shards(spark, ckpt)
    assert table.count() == 1 << SB
    assert _payloads(table) == _payloads(out) == _inline(keys_df)
    # a version is plain parquet to Spark and pyarrow readers
    entry = sources.log_versions(ckpt)[-1]
    assert entry["shards"] == list(range(1 << SB))
    assert pq.read_table(os.path.join(ckpt, entry["dir"])).num_rows \
        == 1 << SB
    assert load_sharded_qf(table).lookup("key-1") == (True, 3)


def test_crash_before_log_entry_keeps_previous_version(
        spark, keys_df, tmp_path, monkeypatch):
    ckpt = str(tmp_path / "ckpt")
    old_keys = _suffixed(keys_df, "-old")
    build_sharded_qf(old_keys, "key", shard_bits=SB, config=CFG,
                     checkpoint_path=ckpt, resume=False)
    [old_dir] = _version_dirs(ckpt)
    with open(os.path.join(ckpt, old_dir, "part-0.parquet"), "rb") as f:
        old_file = f.read()
    old = _payloads(read_shards(spark, ckpt))

    def crash(src, dst):
        raise RuntimeError("killed before the log entry")

    monkeypatch.setattr(os, "link", crash)
    with pytest.raises(RuntimeError, match="killed"):
        build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                         checkpoint_path=ckpt, resume=False)
    monkeypatch.undo()

    # the new rows were written, but no log entry names them
    assert _versions(ckpt) == [1]
    orphan = [d for d in _version_dirs(ckpt) if d != old_dir]
    assert len(orphan) == 1
    table = read_shards(spark, ckpt)
    assert _payloads(table) == old
    with open(os.path.join(ckpt, old_dir, "part-0.parquet"), "rb") as f:
        assert f.read() == old_file
    found, _ = load_sharded_qf(table).lookup_keys(["key-1-old", "key-1"])
    assert found.tolist() == [True, False]

    # the next commit prunes the orphan; a directory of a later version
    # (another writer's commit in flight) stays
    in_flight = f"v9-{'0' * 32}"
    os.makedirs(os.path.join(ckpt, in_flight))
    out = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                           checkpoint_path=ckpt, resume=False)
    assert _versions(ckpt) == [1, 2]
    dirs = _version_dirs(ckpt)
    assert orphan[0] not in dirs and old_dir in dirs and in_flight in dirs
    assert len(dirs) == 3
    assert _payloads(read_shards(spark, ckpt)) == _payloads(out) \
        == _inline(keys_df)


def test_two_writers_of_one_version(spark, keys_df, tmp_path, monkeypatch):
    """Both writers pick version 1 and write their rows before either
    publishes its log entry; one wins and the other raises."""
    ckpt = str(tmp_path / "ckpt")
    inputs = {"a": keys_df, "b": _suffixed(keys_df, "-b")}
    both_written = threading.Barrier(len(inputs), timeout=300)
    link = os.link

    def link_when_both_written(src, dst):
        both_written.wait()
        return link(src, dst)

    monkeypatch.setattr(os, "link", link_when_both_written)
    results = {}

    def write(name):
        try:
            results[name] = build_sharded_qf(
                inputs[name], "key", shard_bits=SB, config=CFG,
                checkpoint_path=ckpt, resume=False)
        except Exception as e:  # the loser's FileExistsError
            results[name] = e

    threads = [threading.Thread(target=write, args=(n,)) for n in inputs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    monkeypatch.undo()
    assert not any(t.is_alive() for t in threads)

    losers = [n for n, r in results.items() if isinstance(r, Exception)]
    assert len(losers) == 1, results
    assert isinstance(results[losers[0]], FileExistsError)
    [winner] = set(inputs) - set(losers)
    # the loser's data directory is gone; the table is the winner's
    assert _versions(ckpt) == [1]
    assert _version_dirs(ckpt) == [sources.log_versions(ckpt)[0]["dir"]]
    expected = _inline(inputs[winner])
    assert _payloads(read_shards(spark, ckpt)) == expected
    assert _payloads(results[winner]) == expected


def _build_shard_killed_from_2(hv, shard, *args):
    """``build._build_shard`` for shards 0 and 1; the task of any later
    shard dies (the replacement is pickled by reference, so executors
    run it too)."""
    if shard >= 2:
        raise RuntimeError("shard task killed")
    return _build_shard(hv, shard, *args)


def test_shard_task_failure_commits_nothing(spark, keys_df, tmp_path,
                                            monkeypatch):
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setattr(build, "_build_shard", _build_shard_killed_from_2)
    with pytest.raises(Exception, match="shard task killed"):
        build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                         checkpoint_path=ckpt, resume=False)
    monkeypatch.undo()
    assert _versions(ckpt) == [] and _version_dirs(ckpt) == []

    out = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                           checkpoint_path=ckpt, resume=True)
    inline = _inline(keys_df)
    assert _payloads(out) == _payloads(read_shards(spark, ckpt)) == inline
    assert _versions(ckpt) == [1]


def test_resume_returns_every_shard_once(spark, keys_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                     checkpoint_path=ckpt, resume=False)
    # keep two of the four shards, as a build that committed only those
    # would have
    _keep_shards_below(ckpt, 2)
    out = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                           checkpoint_path=ckpt, resume=True)
    shards = [int(r.shard) for r in out.collect()]
    assert sorted(shards) == list(range(1 << SB))
    # the resumed version is the previous rows plus the new ones
    assert _versions(ckpt) == [2, 3]
    assert sources.log_versions(ckpt)[-1]["shards"] == [0, 1, 2, 3]
    inline = _inline(keys_df)
    assert _payloads(out) == _payloads(read_shards(spark, ckpt)) == inline
    # nothing missing: a resume builds nothing and commits nothing
    again = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                             checkpoint_path=ckpt, resume=True)
    assert _versions(ckpt) == [2, 3]
    assert _payloads(again) == inline


def test_merge_shard_tables_checkpoint_round_trip(spark, keys_df, tmp_path):
    a = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG)
    b = build_sharded_qf(keys_df.limit(500), "key", shard_bits=SB,
                         config=CFG)
    ckpt = str(tmp_path / "merged")
    merged = merge_shard_tables(spark, [a, b], checkpoint_path=ckpt)
    direct = _payloads(merge_shard_tables(spark, [a, b]))
    assert _payloads(merged) == direct
    assert _payloads(read_shards(spark, ckpt)) == direct
    assert _versions(ckpt) == [1]
    assert all(r.payload is None for r in merged.collect())
    # a merge over a checkpoint commits its next version
    again = merge_shard_tables(spark, [read_shards(spark, ckpt)],
                               checkpoint_path=ckpt)
    assert _versions(ckpt) == [1, 2]
    assert _payloads(again) == _payloads(read_shards(spark, ckpt)) == direct


def test_duplicated_shard_row_raises(spark, keys_df):
    good = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG)
    dup = good.unionByName(good.where(F.col("shard") == 1))
    probes = spark.createDataFrame([("key-1",)], "key string")
    for consume in (lambda: load_sharded_qf(dup),
                    lambda: annotate_via_shard_table(probes, "key", dup),
                    lambda: merge_shard_tables(spark, [dup]),
                    lambda: merge_shard_tables(spark, [good, dup])):
        with pytest.raises(ValueError, match="row twice"):
            consume()


@pytest.mark.parametrize("field,other", [
    ("shard_bits", {"shard_bits": SB + 1}),
    ("hash_name", {"config": QFConfig(counter_bits=16,
                                      hash_name="murmur64a")}),
    ("counter_bits", {"config": QFConfig(counter_bits=8,
                                         hash_name="xxhash64")}),
])
def test_shard_rows_of_two_geometries_raise(spark, keys_df, field, other):
    """Probes are routed by one row's ``shard_bits`` and hashed by one
    row's ``hash_name``: rows that disagree would misroute them."""
    kw = {"shard_bits": SB, "config": CFG, **other}
    mixed = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG) \
        .unionByName(build_sharded_qf(keys_df, "key", **kw))
    probes = spark.createDataFrame([("key-1",)], "key string")
    with pytest.raises(ValueError, match=field):
        load_sharded_qf(mixed)
    with pytest.raises(ValueError, match=field):
        annotate_via_shard_table(probes, "key", mixed)
