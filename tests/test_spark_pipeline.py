"""Spark end-to-end tests: build over the synthesized web_pages table at
two partition counts -> identical merged filter; broadcast lookup vs the
exact groupBy(key).count() oracle; sharded build + checkpoint resume
(SURVEY.md §5 Spark-level plan)."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from qfspark import QF, QFConfig
from qfspark.build import (
    ShardedQF,
    build_qf,
    build_sharded_qf,
    load_sharded_qf,
    tree_merge,
    with_hash,
)
from qfspark.lookup import annotate
from qfspark.serde import qf_to_bytes
from qfspark.shingle import extract_text, shingle_expr, shingles
from qfspark.webpages import synthesize

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def web_pages(spark):
    df = synthesize(spark, SF_DIR)
    df.cache()
    df.count()
    return df


def test_web_pages_shape_and_extractor_invariant(spark, web_pages):
    assert [f.name for f in web_pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    rows = web_pages.select("html", "text").limit(200).collect()
    assert rows
    for r in rows:
        # per-row invariant: deterministic extractor reproduces text
        # byte-identically (BASELINE.json input_hint)
        assert extract_text(bytes(r.html)) == r.text


def test_build_matches_local_and_is_partitioning_invariant(spark, web_pages):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    qf2 = build_qf(web_pages.repartition(2), "url", config=cfg)
    qf8 = build_qf(web_pages.repartition(8), "url", config=cfg)
    # partitioning must not change the canonical merged filter
    if qf2.q_bits != qf8.q_bits:
        qf8.resize(qf2.q_bits)
    assert qf_to_bytes(qf2) == qf_to_bytes(qf8)

    # and it must equal a purely local build over the same keys
    urls = [r.url for r in web_pages.select("url").collect()]
    local = QF.from_keys(urls, config=cfg)
    if local.q_bits != qf2.q_bits:
        local.resize(qf2.q_bits)
    assert qf_to_bytes(local) == qf_to_bytes(qf2)


def test_annotate_membership_and_counts_vs_exact_oracle(spark, web_pages):
    cfg = QFConfig(counter_bits=32, hash_name="xxhash64")
    qf = build_qf(web_pages, "url", config=cfg)

    probes = web_pages.select("url").union(
        web_pages.select(F.concat(F.col("url"), F.lit("#absent")).alias("url"))
    )
    got = annotate(probes, "url", qf).collect()
    for r in got:
        is_member = not r.url.endswith("#absent")
        assert r.qf_seen == is_member, r
        assert r.qf_count == (1 if is_member else 0), r


def test_annotate_counts_duplicates(spark):
    sf = SF_DIR
    events = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("user_id").cast("string").alias("user")
    )
    cfg = QFConfig(counter_bits=32)
    qf = build_qf(events, "user", config=cfg)
    exact = {r.user: r.cnt for r in events.groupBy("user").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    probes = events.select("user").distinct()
    got = annotate(probes, "user", qf).collect()
    assert got
    for r in got:
        assert r.qf_seen and r.qf_count == exact[r.user], r


def test_sharded_build_and_lookup(spark, web_pages):
    cfg = QFConfig(counter_bits=16)
    shards_df = build_sharded_qf(web_pages, "url", shard_bits=3, config=cfg)
    sharded = load_sharded_qf(shards_df)
    assert isinstance(sharded, ShardedQF)
    n_urls = web_pages.select("url").distinct().count()
    assert len(sharded) == n_urls
    urls = [r.url for r in web_pages.select("url").limit(500).collect()]
    f, c = sharded.lookup_keys(urls)
    assert bool(f.all()) and bool((c == 1).all())
    fa, _ = sharded.lookup_keys([u + "#absent" for u in urls])
    assert int(fa.sum()) == 0
    # annotate() works with a sharded filter too
    got = annotate(web_pages.select("url").limit(50), "url", sharded).collect()
    assert all(r.qf_seen and r.qf_count == 1 for r in got)


def test_hot_key_split_equals_unsplit(spark, monkeypatch):
    """A build split into several list rows per shard must produce
    byte-identical shards to the unsplit build, including under heavy
    single-key skew (the hot key's rows all land in one sub-row)."""
    from qfspark import build

    hot = spark.range(0, 5000).select(
        F.when(F.col("id") % 3 == 0, F.lit("HOT-KEY"))
        .otherwise(F.concat(F.lit("k"), F.col("id"))).alias("key")
    )
    cfg = QFConfig(counter_bits=32, hash_name="xxhash64")
    a = {r.shard: bytes(r.payload) for r in
         build_sharded_qf(hot, "key", shard_bits=2, config=cfg).collect()}
    # 5000 rows (the Range leaf's count) / 4 shards over a bound of 300
    monkeypatch.setattr(build, "ARROW_MAX_ROWS_PER_SHARD", 300)
    split = build_sharded_qf(hot, "key", shard_bits=2, config=cfg)
    stored = split.collect()
    assert "sub#" in split._jdf.queryExecution().executedPlan().toString()
    b = {r.shard: bytes(r.payload) for r in stored}
    assert a == b
    sharded = load_sharded_qf(stored)
    assert sharded.lookup("HOT-KEY")[1] == 5000 // 3 + (1 if 5000 % 3 else 0)


def test_sharded_checkpoint_resume(spark, web_pages):
    tmp = tempfile.mkdtemp(prefix="qfshards_")
    path = f"{tmp}/shards"
    try:
        cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
        df1 = build_sharded_qf(web_pages, "url", shard_bits=2, config=cfg,
                               checkpoint_path=path)
        n1 = df1.count()
        assert n1 >= 1
        total1 = load_sharded_qf(df1).entries
        # re-run: all shards already checkpointed -> nothing rebuilt,
        # shard table unchanged
        df2 = build_sharded_qf(web_pages, "url", shard_bits=2, config=cfg,
                               checkpoint_path=path)
        assert df2.count() == n1
        assert load_sharded_qf(df2).entries == total1
        # lineage columns present
        row = df2.limit(1).collect()[0]
        assert row.code_version and row.hash_name == "xxhash64"
        assert row.shard_bits == 2 and row.build_ts > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_annotate_via_shard_table_matches_broadcast(spark, web_pages):
    """The no-broadcast cogroup lookup must agree with the broadcast
    path: same membership, same counts, absents rejected."""
    from qfspark.lookup import annotate_via_shard_table

    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(web_pages, "url", shard_bits=3, config=cfg)
    shards_df = shards_df.cache()
    probes = web_pages.select("url").union(
        web_pages.select(F.concat(F.col("url"), F.lit("#nope")).alias("url"))
    )
    via_table = {
        r.url: (r.qf_seen, r.qf_count)
        for r in annotate_via_shard_table(probes, "url", shards_df).collect()
    }
    sharded = load_sharded_qf(shards_df)
    via_bcast = {
        r.url: (r.qf_seen, r.qf_count)
        for r in annotate(probes, "url", sharded).collect()
    }
    assert via_table == via_bcast
    assert all(v == (True, 1) for u, v in via_table.items() if not u.endswith("#nope"))
    assert all(v == (False, 0) for u, v in via_table.items() if u.endswith("#nope"))


def test_tree_merge_equals_driver_merge(spark, web_pages):
    cfg = QFConfig(counter_bits=16)
    direct = build_qf(web_pages.repartition(16), "url", config=cfg)
    forced_tree = build_qf(
        web_pages.repartition(16), "url", config=cfg, driver_merge_limit=1,
        tree_fanout=4,
    )
    if direct.q_bits != forced_tree.q_bits:
        forced_tree.resize(direct.q_bits)
    assert qf_to_bytes(direct) == qf_to_bytes(forced_tree)


def test_nonstring_key_column_interops_with_python_probes(spark):
    """A filter built on a bigint column must answer probes made from the
    key's string rendering (CLI / lookup_keys) — the hash is taken over
    the string representation for non-string/binary columns."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    qf = build_qf(ev, "user_id", config=QFConfig(counter_bits=32, hash_name="xxhash64"))
    users = [r.user_id for r in ev.distinct().collect()]
    f, c = qf.lookup_keys([str(u) for u in users])
    assert bool(f.all()), "bigint-built filter must match string probes"
    exact = {str(r.user_id): r.cnt for r in
             ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for u, cnt in zip(users, c.tolist()):
        assert exact[str(u)] == cnt
    fa, _ = qf.lookup_keys(["99999991", "99999992"])
    assert int(fa.sum()) == 0


def test_annotate_via_shard_table_bigint_key(spark):
    from qfspark.lookup import annotate_via_shard_table

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    shards = build_sharded_qf(ev, "user_id", shard_bits=2,
                              config=QFConfig(counter_bits=32, hash_name="xxhash64"))
    got = annotate_via_shard_table(ev.distinct(), "user_id", shards).collect()
    assert got and all(r.qf_seen for r in got)
    exact = {r.user_id: r.cnt for r in
             ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for r in got:
        assert r.qf_count == exact[r.user_id]


def test_shingle_expr_matches_python(spark):
    texts = [
        "the quick brown fox jumps",
        "a b",
        "",
        "one two three",
        "x y z w v u",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select(F.expr(shingle_expr("text", 3)).alias("sh")).collect()
    for t, r in zip(texts, got):
        assert list(r.sh) == shingles(t, 3), t


def test_duckdb_shingle_sql_matches_python():
    import duckdb

    from qfspark.shingle import duckdb_shingle_sql

    texts = ["the quick brown fox jumps", "a b", "", "one two three"]
    con = duckdb.connect()
    expr = duckdb_shingle_sql("t", 3)
    for t in texts:
        got = con.execute(f"SELECT {expr} AS sh FROM (SELECT ? AS t)", [t]).fetchone()[0]
        assert list(got) == shingles(t, 3), t


def test_murmur_hash_column_matches_python(spark, web_pages):
    from qfspark.hashing import murmur64a

    sample = web_pages.select("url").limit(100)
    got = {
        r.url: r.qf_hash
        for r in with_hash(sample, "url", "murmur64a").collect()
    }
    urls = list(got)
    want = murmur64a(urls).view(np.int64)
    for u, w in zip(urls, want.tolist()):
        assert got[u] == w
