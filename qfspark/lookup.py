"""Broadcast-filter lookup: membership/count as DataFrame columns.

The relational role of ``Contains`` (reference qf.go:448-459) at DataFrame
level is a broadcast existence join of the probe column against the key
set; here it is a broadcast of the filter object itself plus a vectorized
Arrow UDF probe — constant memory per executor, no shuffle of the
probed table, no join.

The broadcast pickles the ``QF``/``ShardedQF`` (geometry, entries, word
arrays; pickle protocol 5), and the probe reads ``bc.value``. pyspark
keeps one loaded value per broadcast in each Python worker and drops it
when a task no longer uses the broadcast, so each worker loads a filter
once per broadcast and holds one copy of it. Each Arrow batch then walks
the filter in place (``QF.lookup_hashes``: the compiled walk, tens of ns
per key; the numpy walk, ~0.3-2 us per key, without a C compiler or for
bit-packed filters), with no decoded index beside it.
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict

import numpy as np
import pandas as pd
# module level: pyspark resolves the probe UDF's string annotations
# (``pa.Array``) against this module's globals
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from .build import (
    DEFAULT_HASH,
    ShardedQF,
    _check_shard_rows,
    _dtype_of,
    _shard_summary,
    hash_column,
    shard_payload_bytes,
)
from .kernel import QF
from .serde import qf_from_bytes

# driver-side cache: (applicationId, filter digest) -> Broadcast. Without
# it every annotate() call re-broadcasts the filter, and every Python
# worker loads it again — at a ~1 GB filter that is a full
# re-distribution per query. applicationId in the key keeps entries from
# a stopped SparkContext from being handed out to a new one.
_BROADCAST_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_BROADCAST_CACHE_MAX = 4


def _broadcast_filter(spark, flt):
    sc = spark.sparkContext
    key = (sc.applicationId, _filter_digest(flt))
    bc = _BROADCAST_CACHE.get(key)
    if bc is None:
        bc = sc.broadcast(flt)
        _BROADCAST_CACHE[key] = bc
        while len(_BROADCAST_CACHE) > _BROADCAST_CACHE_MAX:
            _, old = _BROADCAST_CACHE.popitem(last=False)
            try:
                old.unpersist()
            except Exception:
                pass  # context already stopped; nothing to release
    else:
        _BROADCAST_CACHE.move_to_end(key)
    return bc


def _filter_digest(flt) -> str:
    """Content digest of a ``QF`` or ``ShardedQF``: its geometry and word
    arrays, read in place (no serialized copy)."""
    if isinstance(flt, QF):
        shards = {0: flt}
        h = hashlib.sha1(b"qf")
    elif isinstance(flt, ShardedQF):
        shards = flt.shards
        h = hashlib.sha1(b"sharded %d" % flt.shard_bits)
    else:
        raise TypeError(f"expected QF or ShardedQF, got {type(flt)!r}")
    for s in sorted(shards):
        qf = shards[s]
        cfg = qf.config
        h.update(repr((s, cfg.hash_name, cfg.counter_bits, cfg.bit_packed,
                       qf.q_bits, qf.entries)).encode())
        for vec in (qf.filter, qf.storage):
            if vec is not None:
                h.update(vec.words)
    return h.hexdigest()


def annotate(
    df: DataFrame,
    col: str,
    qf,
    seen_col: str = "qf_seen",
    count_col: str = "qf_count",
) -> DataFrame:
    """Add boolean membership and approximate-count columns for ``col``.

    ``df.withColumn('seen', ...).withColumn('cnt', ...)`` semantics:
    zero false negatives; a "seen" answer is wrong with probability
    <= 2^-r; counts are exact under the filter's counter width for true
    members."""
    spark = df.sparkSession
    hash_name = qf.config.hash_name if isinstance(qf, QF) else qf.hash_name
    bc = _broadcast_filter(spark, qf)

    @arrow_udf("long")
    def _probe(h: pa.Array) -> pa.Array:
        hv = h.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        found, counts = bc.value.lookup_hashes(hv.view(np.uint64))
        # NULL: not in the filter; else the count's int64 bit pattern
        return pa.array(counts.view(np.int64), mask=~found)

    probe = _probe(hash_column(col, hash_name, _dtype_of(df, col)))
    # NULL policy: a NULL key is never a member (builds drop NULLs; see
    # build.py module docstring) — mask instead of hashing NULL, which
    # Spark and byte-oriented engines hash differently
    is_null = F.col(col).isNull()
    return df.withColumn("_qf_probe", probe).select(
        *df.columns,
        F.when(is_null, F.lit(False))
        .otherwise(F.col("_qf_probe").isNotNull()).alias(seen_col),
        F.when(is_null, F.lit(0).cast("long"))
        .otherwise(F.coalesce(F.col("_qf_probe"), F.lit(0).cast("long")))
        .alias(count_col),
    )


def annotate_via_shard_table(
    df: DataFrame,
    col: str,
    shards_df: DataFrame,
    seen_col: str = "qf_seen",
    count_col: str = "qf_count",
    probe_splits: int | None = None,
) -> DataFrame:
    """Membership/count lookup against a *checkpointed shard table*
    without broadcasting anything — the path for filters too large for
    executor memory (10^12-entry scale: the shard table is TBs; any one
    shard is ~1 GB).

    Probes route by the top ``shard_bits`` of their hash and cogroup with
    the one shard row that owns that hash range: each task deserializes
    exactly one shard and batch-probes its group of keys. The shuffle
    moves (key, hash) pairs grouped by shard — uniformly distributed,
    since top hash bits are uniform over distinct keys.

    ``probe_splits`` decouples probe parallelism from the shard count:
    each shard's probes are salted into that many sub-groups and the
    shard row is replicated once per salt, so a 16-shard table can still
    drive hundreds of probe tasks at 10^12-probe volume. Defaults to
    ceil(defaultParallelism / shard_count), so total probe tasks ~= the
    cluster's parallelism. The table must hold one row per shard, all of
    one geometry (``read_shards`` reads a checkpoint so), else
    ValueError.

    All input columns pass through (same contract as ``annotate``), and
    NULL keys report unseen (the build-side NULL policy's probe half).
    """
    # one job on the lineage columns: rows that disagree on geometry
    # would misroute probes, and a duplicated shard might probe a stale row
    meta = _shard_summary(shards_df).limit(2).collect()
    _check_shard_rows(meta)
    sb, hash_name = ((int(meta[0].shard_bits), meta[0].hash_name) if meta
                     else (0, DEFAULT_HASH))  # empty: every probe unseen
    spark = df.sparkSession
    if probe_splits is None:
        par = spark.sparkContext.defaultParallelism
        probe_splits = max(1, -(-par // max(1, 1 << sb)))

    passthrough = [c for c in df.columns
                   if c not in (seen_col, count_col)]
    hashed = df.select(
        *passthrough,
        hash_column(col, hash_name, _dtype_of(df, col)).alias("_qf_h"),
    ).withColumn(
        "_qf_shard",
        F.shiftrightunsigned(F.col("_qf_h"), 64 - sb) if sb
        else F.lit(0).cast("long"),
    ).withColumn(
        # salt on LOW hash bits (independent of the top routing bits):
        # uniform sub-split of each shard's probe stream
        "_qf_salt", F.pmod(F.col("_qf_h"), F.lit(probe_splits)).cast("long"),
    )

    shard_cols = shards_df.select(
        F.col("shard").alias("_qf_shard"), "payload", "payload_path")
    replicated = shard_cols.withColumn(
        "_qf_salt",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.lit(probe_splits - 1).cast("long"))),
    )
    def _probe_group(probes: pd.DataFrame, shard_rows: pd.DataFrame) -> pd.DataFrame:
        out = probes[passthrough].copy()
        hv = probes["_qf_h"].to_numpy(dtype=np.int64).view(np.uint64)
        local = hv << np.uint64(sb)
        found = np.zeros(len(probes), dtype=bool)
        counts = np.zeros(len(probes), dtype=np.uint64)
        if len(probes) and len(shard_rows):
            qf = qf_from_bytes(shard_payload_bytes(shard_rows.iloc[0]))
            found, counts = qf.lookup_hashes(local)
        # NULL policy: a NULL key is never a member (builds drop NULLs)
        isnull = probes[col].isna().to_numpy()
        out[seen_col] = found & ~isnull
        out[count_col] = np.where(isnull, 0, counts.astype(np.int64))
        return out

    out_schema = StructType(
        [df.schema[c] for c in passthrough]
        + [StructField(seen_col, BooleanType(), False),
           StructField(count_col, LongType(), False)]
    )
    return (
        hashed.groupBy("_qf_shard", "_qf_salt")
        .cogroup(replicated.groupBy("_qf_shard", "_qf_salt"))
        .applyInPandas(_probe_group, schema=out_schema)
    )


def filter_unseen_via_shard_table(df: DataFrame, col: str,
                                  shards_df: DataFrame,
                                  probe_splits: int | None = None) -> DataFrame:
    """``filter_unseen`` against a checkpointed shard table, broadcasting
    nothing — the incremental-crawl anti-join at 10^12-entry filter scale
    (any one shard may be ~1 GB; no executor ever holds more than the one
    shard its task probes)."""
    out = annotate_via_shard_table(
        df, col, shards_df, seen_col="_qf_seen", count_col="_qf_cnt",
        probe_splits=probe_splits)
    return out.where(~F.col("_qf_seen")).drop("_qf_seen", "_qf_cnt")


def filter_unseen(df: DataFrame, col: str, qf) -> DataFrame:
    """Rows whose key is NOT in the filter — the incremental-crawl /
    training-data dedup primitive ("drop documents whose url/shingle was
    already seen"). Zero false negatives means nothing already-seen leaks
    through; a new row is wrongly dropped with probability <= 2^-r.

    Relational role: broadcast left-anti join against the key set,
    without shuffling the probed table."""
    annotated = annotate(df, col, qf, seen_col="_qf_seen", count_col="_qf_cnt")
    return annotated.where(~F.col("_qf_seen")).drop("_qf_seen", "_qf_cnt")


def filter_seen(df: DataFrame, col: str, qf) -> DataFrame:
    """Rows whose key IS (probably) in the filter — broadcast left-semi
    join analog; complement of filter_unseen."""
    annotated = annotate(df, col, qf, seen_col="_qf_seen", count_col="_qf_cnt")
    return annotated.where(F.col("_qf_seen")).drop("_qf_seen", "_qf_cnt")
