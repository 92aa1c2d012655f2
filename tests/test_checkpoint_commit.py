"""The checkpointed sharded build commits its lineage rows from the
driver: one Spark query builds the shards and returns their rows, and
the rows land in the checkpoint as ONE parquet file renamed into place
(``sources.commit_rows``). Readers never see an empty or half-written
table, filter bytes stay in sidecar files, and the payloads are the
ones an uncheckpointed build makes."""

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import qfspark.sources as sources
from qfspark.build import (
    build_sharded_qf,
    latest_shards,
    load_sharded_qf,
    merge_shard_tables,
    shard_payload_bytes,
)
from qfspark.sizing import QFConfig

CFG = QFConfig(counter_bits=16, hash_name="xxhash64")
SB = 2


@pytest.fixture(scope="module")
def keys_df(spark):
    rows = [(f"key-{i % 700}",) for i in range(2000)]
    return spark.createDataFrame(rows, "key string").repartition(4).cache()


def _payloads(df):
    return {int(r.shard): shard_payload_bytes(r) for r in df.collect()}


def _data_files(path):
    return sorted(e for e in os.listdir(path) if e != sources.PAYLOADS_DIR)


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


def test_checkpointed_build_is_one_query(spark, keys_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out, plans = _sql_plans_during(spark, lambda: build_sharded_qf(
        keys_df, "key", shard_bits=SB, config=CFG,
        checkpoint_path=ckpt, resume=False))
    assert len(plans) == 1, plans
    assert "FlatMapGroupsInArrow" in plans[0]
    for node in ("InsertIntoHadoopFsRelation", "WriteFiles", "FileScan"):
        assert node not in plans[0]
    # the returned table is the committed rows, held locally
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan() \
        .toString()
    assert out.count() == 1 << SB


@pytest.mark.parametrize("split", [False, True], ids=["unsplit", "split"])
def test_checkpointed_payloads_match_inline_build(spark, tmp_path,
                                                  monkeypatch, split):
    keys = str(tmp_path / "keys")
    spark.range(2000).selectExpr("concat('key-', id % 700) AS key") \
        .write.parquet(keys)
    keys_df = spark.read.parquet(keys)
    if split:  # 2000 rows / 4 shards over a bound of 100: 5 list rows each
        from qfspark import build

        monkeypatch.setattr(build, "ARROW_MAX_ROWS_PER_SHARD", 100)
    ckpt = str(tmp_path / "ckpt")
    out = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                           checkpoint_path=ckpt, resume=False)
    rows = out.collect()
    # no filter bytes in the table: the payloads are default sidecars
    assert all(r.payload is None for r in rows)
    payload_dir = os.path.join(ckpt, sources.PAYLOADS_DIR)
    assert all(os.path.dirname(r.payload_path) == payload_dir for r in rows)
    inline = _payloads(build_sharded_qf(keys_df, "key", shard_bits=SB,
                                        config=CFG))
    assert {int(r.shard): shard_payload_bytes(r) for r in rows} == inline
    assert _payloads(spark.read.parquet(ckpt)) == inline


def test_overwrite_leaves_one_data_file(spark, keys_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    other = keys_df.select(F.concat("key", F.lit("-x")).alias("key"))
    build_sharded_qf(other, "key", shard_bits=SB, config=CFG,
                     checkpoint_path=ckpt, resume=False)
    out = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                           checkpoint_path=ckpt, resume=False)
    files = _data_files(ckpt)
    assert len(files) == 1 and files[0].endswith(".parquet"), files
    # the previous table's sidecars went with it
    referenced = {os.path.basename(r.payload_path) for r in out.collect()}
    assert set(os.listdir(os.path.join(ckpt, sources.PAYLOADS_DIR))) \
        == referenced
    # Spark and pyarrow readers skip the _payloads/ directory
    assert spark.read.parquet(ckpt).count() == 1 << SB
    assert pq.read_table(ckpt).num_rows == 1 << SB
    assert load_sharded_qf(spark.read.parquet(ckpt)).lookup("key-1") \
        == (True, 3)


def test_crash_between_rename_and_delete_answers_new_rows(
        spark, keys_df, tmp_path, monkeypatch):
    ckpt = str(tmp_path / "ckpt")
    old_keys = keys_df.select(F.concat("key", F.lit("-old")).alias("key"))
    build_sharded_qf(old_keys, "key", shard_bits=SB, config=CFG,
                     checkpoint_path=ckpt, resume=False)

    def crash(path, entries):
        raise RuntimeError("killed after the rename")

    monkeypatch.setattr(sources, "_remove_entries", crash)
    with pytest.raises(RuntimeError, match="killed"):
        build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                         checkpoint_path=ckpt, resume=False)
    monkeypatch.undo()

    assert len(_data_files(ckpt)) == 2  # old and new rows side by side
    table = spark.read.parquet(ckpt)
    assert table.count() == 2 << SB
    assert latest_shards(table).count() == 1 << SB
    sharded = load_sharded_qf(table)
    found, counts = sharded.lookup_keys(["key-1", "key-650", "key-1-old"])
    assert found.tolist() == [True, True, False]
    assert counts.tolist()[:2] == [3, 2]
    # the next overwrite commits cleanly over the leftovers
    build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                     checkpoint_path=ckpt, resume=False)
    assert len(_data_files(ckpt)) == 1


def test_resume_returns_every_shard_once(spark, keys_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                     checkpoint_path=ckpt, resume=False)
    # keep two of the four shards, as a build killed half-way would
    kept = pq.read_table(ckpt)
    kept = kept.filter(pc.less(kept["shard"], 2))
    sources.commit_rows(spark, kept, ckpt, mode="overwrite")

    out = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG,
                           checkpoint_path=ckpt, resume=True)
    shards = [int(r.shard) for r in out.collect()]
    assert sorted(shards) == list(range(1 << SB))
    assert len(_data_files(ckpt)) == 2  # the append added one file
    rebuilt = _payloads(build_sharded_qf(keys_df, "key", shard_bits=SB,
                                         config=CFG))
    assert _payloads(out) == rebuilt
    assert _payloads(latest_shards(spark.read.parquet(ckpt))) == rebuilt


def test_merge_shard_tables_checkpoint_round_trip(spark, keys_df, tmp_path):
    a = build_sharded_qf(keys_df, "key", shard_bits=SB, config=CFG)
    b = build_sharded_qf(keys_df.limit(500), "key", shard_bits=SB,
                         config=CFG)
    ckpt = str(tmp_path / "merged")
    merged = merge_shard_tables(spark, [a, b], checkpoint_path=ckpt)
    direct = _payloads(merge_shard_tables(spark, [a, b]))
    assert _payloads(merged) == direct
    assert _payloads(spark.read.parquet(ckpt)) == direct
    assert len(_data_files(ckpt)) == 1
    assert all(r.payload is None for r in merged.collect())
