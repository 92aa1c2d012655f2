"""Structured Streaming: incremental CQF construction.

The reference is batch-only (no streaming anywhere in go-qfext); this
module is qfspark's forward extension, built on exactly the property the
batch pipeline proves: the filter is a distributive, associative
aggregate, so an incremental build is "merge each micro-batch's partial
into the running state".

``stream_build_sharded`` wires a streaming DataFrame into foreachBatch:
every micro-batch runs the same sharded build as the batch path and is
merged shard-by-shard into the state by ``build.merge_shard_tables``
(QF.merge — lossless, associative), so the shard table after N
micro-batches is byte-identical to a batch build over the union of the
batches. ``stream_sketch`` does the same for the sketch family.

State lives in a versioned table at ``state_path``, not in executor
memory: each micro-batch's merged table is committed as the next
version (``sources.commit_version``; the log entry carries the batch
id) and the writer prunes to the newest two versions. A batch whose id
is <= the last committed one is a re-delivery and is skipped. Readers
(``load_stream_state``, ``load_stream_sketch``) only read the log.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from .build import (DEFAULT_HASH, build_sharded_qf, hash_column,
                    load_sharded_qf, merge_shard_tables)
from .kernel import QF
from .serde import qf_from_bytes, qf_to_bytes
from .sizing import QFConfig
from .sketches import _mg_fold
from .sources import _read_entry, commit_version, prune_log


def _read_state(spark, state_path: str, name: str):
    """The newest state table (None before the first commit), its
    version (0 if none) and last batch id (None if unknown). Reads only.

    A state written before the log is a plain table at
    ``<state_path>/<name>`` whose ``_batch_ids.json`` lists the
    processed batch ids; a ``<name>_next``/``<name>_old`` left beside it
    by an interrupted commit raises instead of starting empty."""
    entry, state = _read_entry(state_path, spark.read.parquet)
    if entry is not None:
        return state, entry["version"], entry["batch_id"]
    for leftover in (f"{name}_next", f"{name}_old"):
        if os.path.exists(os.path.join(state_path, leftover)):
            raise ValueError(
                f"{leftover} in {state_path} is left by an interrupted "
                f"commit: rename the complete {name}_next (it has "
                f"_batch_ids.json), else {name}_old, to {name}")
    table = os.path.join(state_path, name)
    if not os.path.exists(table):
        return None, 0, None
    ids, last = os.path.join(table, "_batch_ids.json"), None
    if os.path.exists(ids):
        with open(ids) as f:
            last = max(json.load(f), default=None)
    return spark.read.parquet(table), 0, last


def _commit_batch(spark, state_path: str, name: str, batch_id: int,
                  merged_with) -> None:
    """One micro-batch: skip a re-delivered batch, else commit
    ``merged_with(state)`` as the next version and prune."""
    state, version, last = _read_state(spark, state_path, name)
    if last is not None and batch_id <= last:
        return  # re-delivered micro-batch: already merged
    commit_version(merged_with(state), state_path, version + 1,
                   batch_id=batch_id)
    prune_log(state_path)


def stream_build_sharded(
    stream_df: DataFrame,
    col: str,
    state_path: str,
    shard_bits: int = 4,
    config: QFConfig | None = None,
    trigger: dict | None = None,
):
    """Start a streaming query that maintains a sharded CQF in the
    versioned table at ``state_path`` from a streaming source of keys.

    Returns the StreamingQuery. Each micro-batch's shard build is
    materialized once, merged into the state by ``merge_shard_tables``
    and committed as the next version of the ``state_path`` log with its
    batch id; a re-delivered batch is skipped. Read the state with
    ``load_stream_state`` (a ShardedQF) or
    ``sources.read_version(spark, state_path)`` (the shard table)."""
    config = config or QFConfig(hash_name=DEFAULT_HASH, counter_bits=32)
    spark = stream_df.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # persisted: merge_shard_tables' metadata check and the merge
        # itself both read the batch's shards, which are built once
        batch = build_sharded_qf(
            batch_df, col, shard_bits=shard_bits, config=config,
            checkpoint_path=None,
        ).persist()
        try:
            _commit_batch(
                spark, state_path, "shards", batch_id,
                lambda state: batch if state is None
                else merge_shard_tables(spark, [state, batch]))
        finally:
            batch.unpersist()

    writer = stream_df.writeStream.foreachBatch(_process).outputMode("update")
    writer = writer.option(
        "checkpointLocation", os.path.join(state_path, "_spark_checkpoint")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _committed(spark, state_path: str, name: str) -> DataFrame:
    state = _read_state(spark, state_path, name)[0]
    if state is None:
        raise ValueError(f"no stream state committed at {state_path}")
    return state


def load_stream_state(spark, state_path: str):
    """Load the newest committed streaming filter state as a ShardedQF.
    Reads only; ValueError when nothing is committed yet."""
    return load_sharded_qf(_committed(spark, state_path, "shards"))


def stream_sketch(
    stream_df: DataFrame,
    col: str,
    state_path: str,
    kind: str = "hll",
    trigger: dict | None = None,
    **params,
):
    """Maintain a mergeable sketch table (sketches.py) from a streaming
    key source — the incremental form of the same distributive aggregate
    the CQF stream uses, for the rest of the sketch family:

    * ``kind='hll'`` (params: p) — running distinct-count registers
    * ``kind='countmin'`` (params: depth, width) — running frequencies
    * ``kind='bloom'`` (params: m_bits, k) — running membership bits
    * ``kind='bottomk'`` (params: value_col, k) — running uniform
      key-sample (quantiles/sampling over the stream so far)
    * ``kind='kmv'`` (params: k) — running theta sketch (distinct
      count + set algebra via ``sketches.kmv_set_ops``)
    * ``kind='hll_by'`` (params: by, p) — running PER-GROUP distinct
      counts (``sketches.hll_registers_by`` state; estimate with
      ``hll_estimate_by``)
    * ``kind='bottomk_by'`` (params: by, value_col, k) — running
      per-group key-sample (``bottomk_quantiles_by`` over the state)
    * ``kind='mg'`` (params: k, weight_col) — running Misra-Gries
      heavy hitters; state rows are the summary schema (item, est, err)
    * ``kind='mg_by'`` (params: by, k, weight_col) — running per-group
      heavy hitters
    * ``kind='priority'`` (params: weight_col, k) — running
      weight-sensitive sample with unbiased subset sums
      (``sketches.priority_estimates`` over the state)
    * ``kind='countmin_by'`` (params: by, depth, width) — running
      PER-GROUP frequency tables (``countmin_query_by`` over the
      state; cell-wise sum merge is exact, so state is row-identical
      to a batch build over the union)
    * ``kind='kll'`` / ``kind='kll_by'`` (params: value_col, k [, by])
      — running (per-group) quantile sketch: state is the compactor-
      row table, merged by union + compaction (union-then-compress IS
      the KLL merge), so state stays <= O(k log n) rows per group at
      any stream length. Quantiles over the union hold the MERGED
      sketch's rank bound, not row-identity (like MG, the compactor
      contents depend on the merge tree; the bound is what's tested).
      Read with ``load_stream_sketch`` + ``_kll_from_level_rows``.
    * ``kind='priority_by'`` (params: by, weight_col, k) — running
      per-group weight-sensitive sample (exact merge: per-group
      top-(k+1) of a union is the top-(k+1) of concatenated sketches)

    Per micro-batch: build the batch's partial sketch, merge it into the
    newest state version (max/sum/union — each merge == rebuild exactly,
    so after N batches the state is ROW-IDENTICAL to a batch build over
    the union of the batches; tested) and commit the result as the next
    version of the ``state_path`` log with its batch id; a re-delivered
    batch is skipped. State lives in the table, not executor memory;
    stop/resume is a re-read.

    Misra-Gries is the one member whose state is not a pure function of
    the input multiset (like any MG run, it depends on arrival order):
    the streamed state satisfies the same guarantee as a batch build
    over the union — every key within ``est <= true <= est + err`` and
    ``err <= n/(k+1)`` — rather than row-identity; tested as such.

    Returns the StreamingQuery; read the state with
    ``load_stream_sketch`` and feed it to ``sketches.hll_estimate`` /
    ``countmin_query`` / ``bloom_contains``."""
    from . import sketches as sk

    g = params.get
    by, k, kb = g("by"), g("k", 256), g("k", 512)  # kb: bottom-k's default
    vcol, wcol, cm = g("value_col", col), g("weight_col"), (
        g("depth", 4), g("width", 1024))
    h = {"hash_scheme": g("hash_scheme", "hash60")}
    builders = {
        "hll": (lambda df: sk.hll_registers(df, col, g("p", 12), **h),
                sk.hll_merge),
        "countmin": (lambda df: sk.countmin_table(df, col, *cm, **h),
                     sk.countmin_merge),
        "bloom": (lambda df: sk.bloom_bits(
            df, col, g("m_bits", 1 << 16), g("k", 4), **h), sk.bloom_merge),
        "bottomk": (lambda df: sk.bottomk_sketch(df, col, vcol, kb, **h),
                    lambda a, b: sk.bottomk_merge(a, b, kb)),
        "kmv": (lambda df: sk.kmv_sketch(df, col, k, **h),
                lambda a, b: sk.kmv_merge(a, b, k)),
        "hll_by": (
            lambda df: sk.hll_registers_by(df, col, by, g("p", 12), **h),
            lambda a, b: sk.hll_merge_by(by, a, b)),
        "bottomk_by": (
            lambda df: sk.bottomk_sketch_by(df, col, vcol, by, kb, **h),
            lambda a, b: sk.bottomk_merge_by(a, b, by, kb)),
        "mg": (lambda df: sk.mg_summary(df, col, k, weight_col=wcol),
               lambda a, b: sk.mg_merge(a, b, k)),
        "mg_by": (
            lambda df: sk.mg_summary_by(df, col, by, k, weight_col=wcol),
            lambda a, b: sk.mg_merge_by(a, b, by, k)),
        "priority": (lambda df: sk.priority_sample(df, col, wcol, k, **h),
                     lambda a, b: sk.priority_sample_merge(a, b, k)),
        "countmin_by": (
            lambda df: sk.countmin_table_by(df, col, by, *cm, **h),
            lambda a, b: sk.countmin_merge_by(by, a, b)),
        "kll": (lambda df: sk.kll_partials(df, vcol, k),
                lambda a, b: sk.kll_compact_partials(a.unionByName(b), k)),
        "kll_by": (lambda df: sk.kll_partials_by(df, vcol, by, k),
                   lambda a, b: sk.kll_compact_partials_by(
                       a.unionByName(b), by, k)),
        "priority_by": (
            lambda df: sk.priority_sample_by(df, col, wcol, by, k, **h),
            lambda a, b: sk.priority_sample_merge_by(a, b, by, k)),
    }
    if kind not in builders:
        raise ValueError(f"unknown sketch kind {kind!r}; "
                         f"expected one of {sorted(builders)}")
    if kind.endswith("_by") and "by" not in params:
        raise ValueError(
            f"kind={kind!r} requires params['by'] (group column list)")
    if kind in ("priority", "priority_by") and "weight_col" not in params:
        raise ValueError(f"kind={kind!r} requires params['weight_col']")
    build_fn, merge_fn = builders[kind]
    spark = stream_df.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(
            spark, state_path, "sketch", batch_id,
            lambda state: build_fn(batch_df) if state is None
            else merge_fn(state, build_fn(batch_df)))

    writer = stream_df.writeStream.foreachBatch(_process).outputMode("update")
    writer = writer.option(
        "checkpointLocation", os.path.join(state_path, "_spark_checkpoint"))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def load_stream_sketch(spark, state_path: str) -> DataFrame:
    """Read the newest committed streaming sketch table. Reads only;
    ValueError when nothing is committed yet."""
    return _committed(spark, state_path, "sketch")


def stateful_streaming_dedup(
    stream_df: DataFrame,
    key_col: str,
    n_groups: int = 64,
    counter_bits: int = 0,
    timeout: str = "NoTimeout",
):
    """Streaming first-occurrence dedup with *sketch state*: emit each key
    the first time it is ever seen on the stream, using a quotient filter
    per state group as the memory of the past (applyInPandasWithState).

    This is the custom-stateful-operator shape the north_star points at:
    state per group is a serialized CQF (bounded: ~9 bits/key at 2^-r
    error instead of storing the keys), keys route to groups by hash, and
    each micro-batch probes + inserts in one vectorized pass. Zero false
    negatives means a duplicate is never re-emitted; a brand-new key is
    wrongly suppressed with probability <= 2^-r.

    Returns a streaming DataFrame of (key) rows — first occurrences only.
    """
    import numpy as np

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_dtype = stream_df.schema[key_col].dataType.simpleString()
    hashed = stream_df.select(
        F.col(key_col).alias("key"),
        hash_column(
            key_col, DEFAULT_HASH, stream_df.schema[key_col].dataType.typeName()
        ).alias("h"),
    ).withColumn("grp", F.pmod(F.col("h"), F.lit(n_groups)))

    def _dedup(key, pdf_iter, state: GroupState):
        if state.exists:
            (blob,) = state.get
            qf = qf_from_bytes(bytes(blob))
        else:
            qf = QF(QFConfig(counter_bits=counter_bits, hash_name=DEFAULT_HASH))
        import pandas as pd

        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            hv = pdf["h"].to_numpy(np.int64).view(np.uint64)
            found, _ = qf.lookup_hashes(hv)
            # keep only the first occurrence within the batch as well
            cand = np.flatnonzero(~found)
            _, first = np.unique(hv[cand], return_index=True)
            fresh_rows = cand[np.sort(first)]
            if len(fresh_rows):
                new_hashes = hv[fresh_rows]
                if len(qf) == 0:
                    qf = QF.from_hashes(new_hashes, None, qf.config)
                elif len(new_hashes) * 16 < len(qf):
                    # steady state: per-batch cost stays O(batch), not
                    # O(state) — one batched ripple-insert pass into
                    # the existing filter (QF.insert_hashes: sorted
                    # order, per-insert Python overhead hoisted)
                    # instead of a decode+rebuild. value=1 matches what
                    # from_hashes stores for a first occurrence
                    # (counter parity across branches)
                    qf.insert_hashes(new_hashes, value=1)
                else:
                    # batch is large relative to state: one vectorized
                    # rebuild is cheaper than per-key inserts
                    qf = QF.merge_many(
                        [qf, QF.from_hashes(new_hashes, None, qf.config)]
                    )
                yield pd.DataFrame({"key": pdf["key"].iloc[fresh_rows]})
        state.update((qf_to_bytes(qf),))

    return hashed.groupBy("grp").applyInPandasWithState(
        _dedup,
        outputStructType=f"key {key_dtype}",
        stateStructType="filter binary",
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def windowed_distinct_counts(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    p: int = 12,
    hash_scheme: str = "hash60",
) -> DataFrame:
    """Approximate DISTINCT keys per event-time window (e.g. distinct
    urls fetched per 10-minute window): HLL registers maintained as a
    native windowed streaming aggregation —
    groupBy(window, bucket).max(rho) with a watermark, so Spark's own
    state store holds at most 2^p register rows per open window and
    evicts closed windows. No custom state function: the register max
    IS a Catalyst aggregate, which keeps the whole operator JVM-side.

    Returns the streaming register table (window_start, window_end,
    bucket, rho_max) in append mode (rows emitted when the watermark
    closes a window); feed collected/stored rows to
    ``sketches.hll_estimate_by(regs, ["window_start", "window_end"], p)``
    for the per-window estimates. Closed-window rows are row-identical
    to a batch ``hll_registers_by`` over the same data (tested)."""
    from .sketches import HASH_BITS, sketch_hash

    if not (4 <= p <= 18):
        raise ValueError(f"p must be in [4, 18], got {p}")
    m = 1 << p
    w_bits = HASH_BITS - p
    h = sketch_hash(key_col, hash_scheme)
    return (
        stream_df.withWatermark(ts_col, watermark)
        .where(F.col(key_col).isNotNull())
        .select(
            F.window(F.col(ts_col), window).alias("w"),
            F.expr(h).alias("_h"),
        )
        .select(
            "w",
            F.expr(f"CAST(pmod(_h, {m}) AS INT)").alias("bucket"),
            F.expr(
                f"CAST(CASE WHEN shiftrightunsigned(_h, {p}) = 0 "
                f"THEN {w_bits + 1} "
                f"ELSE {w_bits} - length(bin(shiftrightunsigned(_h, {p})))"
                f" + 1 END AS INT)"
            ).alias("rho"),
        )
        .groupBy("w", "bucket")
        .agg(F.max("rho").alias("rho_max"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "rho_max",
        )
    )


def windowed_quantiles(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    qs: list[float],
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    accuracy: int = 10_000,
) -> DataFrame:
    """Approximate quantiles per event-time window (e.g. per-10-minute
    fetch-latency p50/p99): Spark's own ``percentile_approx``
    aggregate under a watermark — a NATIVE windowed streaming
    aggregation, fully JVM-side (Catalyst's ApproximatePercentile
    sketch lives in the state store per open window; closed windows
    evict on watermark advance). Returns (window_start, window_end,
    q, est) rows in append mode. The guarantee on closed-window rows
    is the published rank-error bound: each estimate's rank is within
    n/``accuracy`` of the requested quantile's over the window's data
    (ApproximatePercentile's result can depend on the partial-merge
    tree, so exact identity with a batch ``percentile_approx`` over
    the same rows holds only when the merge order coincides — as it
    does in the single-trigger availableNow parity test — and is NOT
    guaranteed across arbitrary micro-batch/partition splits).
    ``accuracy`` trades state size for rank error. NULL values
    excluded.

    This is the third member of the native windowed family
    (``windowed_key_counts``, ``windowed_distinct_counts``); for
    per-GROUP rather than per-window quantiles over a stream, the
    ``kll``/``kll_by`` ``stream_sketch`` kinds hold the compactor
    state instead."""
    qs_arr = "array(" + ", ".join(
        f"CAST({float(q)!r} AS DOUBLE)" for q in qs) + ")"
    return (
        stream_df.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .select(F.window(F.col(ts_col), window).alias("w"),
                F.col(value_col).cast("double").alias("_v"))
        .groupBy("w")
        .agg(F.expr(f"percentile_approx(_v, {qs_arr}, {accuracy})")
             .alias("_ests"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.explode(F.arrays_zip(
                F.expr(qs_arr).alias("q"),
                F.col("_ests").alias("est"))).alias("_z"),
        )
        .select("window_start", "window_end",
                F.col("_z.q").alias("q"), F.col("_z.est").alias("est"))
    )


def windowed_key_counts(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed key counts with late-data handling: the
    standard watermark + tumbling-window aggregation a streaming
    ingestion pipeline runs ahead of the filter build (e.g. per-window
    url fetch counts). Rows later than ``watermark`` past the max seen
    event time are dropped and window state is evicted — bounded state
    regardless of stream length.

    Returns (window_start, window_end, key, cnt); pair with
    ``stream_build_sharded`` to maintain a CQF per completed window.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "key",
            "cnt",
        )
    )


def windowed_heavy_hitters(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    k: int = 256,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    shards: int = 8,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate heavy hitters per event-time window (e.g. top domains
    per 10-minute ingestion window): a Misra-Gries summary per
    (window, item-hash shard) group maintained in
    ``applyInPandasWithState`` with event-time timeout eviction — the
    fourth member of the windowed family (``windowed_key_counts``,
    ``windowed_distinct_counts``, ``windowed_quantiles``), completing
    counts / distinct counts / quantiles / top-k.

    Exact per-window key counts need one state row per (window, key) —
    unbounded in distinct keys. This operator's state is
    ``shards * (k+1)`` counters per OPEN window, independent of the key
    universe, and closed windows are evicted by the timeout the moment
    the watermark passes their end.

    Sharding: items route to ``pmod(xxhash64(item), shards)``, so every
    occurrence of an item lands in ONE shard and the per-item guarantee
    is inherited from that shard's summary over its substream:
    ``est <= true_window_count <= est + err`` with
    ``err <= n_shard/(k+1) <= n_window/(k+1)``, and every item whose
    true window count exceeds ``n_window/(k+1)`` is guaranteed present
    (it certainly exceeds its own shard's ``n_shard/(k+1)``). Sharding
    also spreads a hot window across ``shards`` state-store partitions
    instead of funnelling the whole micro-batch through one group.

    Scale shape: the shuffle moving rows to their (window, shard) group
    carries two/three columns (window struct, item[, weight]); per-batch
    per-group work is one vectorized count + an O(k log k) prune — the
    batch fold of ``sketches.mg_partials_by`` (classic streaming MG:
    prune after every batch, so the in-flight counters hold
    <= k + batch-distinct entries); <= k rows leave
    each group only when its window closes. Like any Misra-Gries run the
    surviving counter set depends on arrival order, so closed-window
    rows are gated on the bound above vs a batch count over the
    window's data, not on row-identity (tested).

    With ``weight_col`` (non-negative integer weights, e.g. bytes per
    page) counts become weight sums and n the total window weight.

    Returns a streaming DataFrame of
    (window_start, window_end, item, est, err) rows in append mode —
    rows are emitted only when a window's watermark-driven timeout
    fires, i.e. every emitted row belongs to a CLOSED window. ``err``
    is the emitting shard's accumulated decrement total (the item's
    under-count bound). Aggregate nothing downstream: the table is
    already <= shards*k rows per window."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")

    cols = [
        F.window(F.col(ts_col), window).alias("w"),
        F.col(key_col).cast("string").alias("item"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("wt"))
    # the watermark rides as metadata on the window-struct attribute:
    # keep `w` whole through the groupBy (projecting w.start/w.end
    # strips the delay tag and the event-time timeout is rejected)
    routed = (
        stream_df.withWatermark(ts_col, watermark)
        .where(F.col(key_col).isNotNull())
        .select(*cols)
        .select(
            "w",
            F.pmod(F.xxhash64("item"), F.lit(shards)).alias("shard"),
            *(["item"] if weight_col is None else ["item", "wt"]),
        )
    )

    def _mg(key, pdf_iter, state: GroupState):
        w, _shard = key
        window_start, window_end = (
            (w["start"], w["end"]) if isinstance(w, dict)
            else (w[0], w[1]))
        if state.hasTimedOut:
            # watermark passed window_end: emit the closed window's
            # summary rows and drop the state
            if state.exists:
                items, counts, err = state.get
                state.remove()
                if len(items):
                    yield pd.DataFrame({
                        "window_start": [window_start] * len(items),
                        "window_end": [window_end] * len(items),
                        "item": list(items),
                        "est": list(counts),
                        "err": [err] * len(items),
                    })
            return
        running, err = None, 0
        if state.exists:
            items, counts, err = state.get
            # the fold's (stand-in group level, item) counter index
            running = pd.Series(
                list(counts), dtype="int64",
                index=pd.MultiIndex.from_arrays(
                    [[0] * len(items), list(items)],
                    names=["_mg_all", "item"]))
        running, t_tot = _mg_fold(pdf_iter, [], k, weight_col is not None,
                                  running)
        if running is not None:
            err = int(err) + (0 if t_tot is None else int(t_tot.sum()))
            state.update((
                list(map(str, running.index.get_level_values("item"))),
                [int(c) for c in running.to_numpy()], err))
            # evict when the watermark passes the window end (strictly
            # later than the current watermark: every row reaching this
            # group has ts >= watermark and ts < window_end)
            state.setTimeoutTimestamp(
                int(window_end.timestamp() * 1000))

    return routed.groupBy("w", "shard").applyInPandasWithState(
        _mg,
        outputStructType=(
            "window_start timestamp, window_end timestamp, "
            "item string, est long, err long"),
        stateStructType="items array<string>, counts array<long>, err long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
